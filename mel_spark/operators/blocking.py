"""Blocking: map each record to candidate-generation keys.

Two key families (the reference's two alias sources, ChainStep
src/tokenization/pipeline/utils/chain.py:5-17; SURVEY.md §7.1 stage 4). The ER
pipeline blocks on family (a); family (b) serves embedding near-dup search
(dedup.embedding_near_dup_pairs, similarity.lsh_topk):

 (a) content/minhash family — exact sha256 key, or (lang, minhash-band) LSH keys
     over token shingles (alias-table analogue:
     src/baselines/string_alias_tables/all_languages.py:93-115,
     src/baselines/olpeat/find_recall.py:76-91);
 (b) embedding family — random-hyperplane signature bands over the embedding
     column (Spark-native form of ScaNN partitioning,
     src/models/searchers/scann_searcher.py:21-49).

Skew handling (north_rule): hot blocks are capped; a block of size s yields
s·(s-1)/2 pairs, so an uncapped hot key (the reference's "Paris" problem,
src/baselines/olpeat/at_embeddings.py:4-6) quadratically dominates the shuffle.
Cap precedent: per-qid index cap, src/data_processors/index/index.py:102-120.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mel_spark.functions import text as T


def exact_content_blocks(df: DataFrame, id_col: str, content_col: str = "content") -> DataFrame:
    """Blocking key = sha256(content): exact-duplicate blocks (stage-2 minimum
    slice). Emits (block_key, mention_id)."""
    return df.select(
        F.concat(F.lit("sha:"), T.content_sha(content_col)).alias("block_key"),
        F.col(id_col).alias("mention_id"),
    )


def hyperplane_blocks(
    df: DataFrame,
    id_col: str,
    emb_col: str = "emb",
    dim: int = 64,
    n_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Random-hyperplane (SimHash-for-cosine) LSH over the embedding column,
    banded like minhash. Hyperplanes are a seeded deterministic matrix baked
    into the plan as array literals — JVM-side dot products, no Python."""
    import numpy as np

    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim)).astype("float64")
    assert n_planes % bands == 0
    rows = n_planes // bands

    def _bit(p: int) -> Column:
        lits = F.array(*[F.lit(float(x)) for x in planes[p]])
        s = F.aggregate(
            F.zip_with(F.col(emb_col), lits, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        return F.when(s >= 0, F.lit("1")).otherwise(F.lit("0"))

    bits = [_bit(p) for p in range(n_planes)]
    keys = [
        F.concat(F.lit(f"hp{i}:"), *bits[i * rows : (i + 1) * rows]) for i in range(bands)
    ]
    return df.select(
        F.col(id_col).alias("mention_id"), F.explode(F.array(*keys)).alias("block_key")
    )


def cap_blocks(blocks: DataFrame, max_block_size: int = 64, order_col: str = "mention_id") -> DataFrame:
    """Drop members beyond ``max_block_size`` per key (deterministic order) and
    drop singleton blocks (they generate no pairs — pruning them early avoids
    shuffling dead keys)."""
    w = Window.partitionBy("block_key").orderBy(order_col)
    return (
        blocks.withColumn("_rn", F.row_number().over(w))
        .withColumn("_sz", F.count(F.lit(1)).over(Window.partitionBy("block_key")))
        .filter((F.col("_rn") <= max_block_size) & (F.col("_sz") >= 2))
        .drop("_rn", "_sz")
    )


def raw_band_keys(feats: DataFrame, content_langs: DataFrame) -> DataFrame:
    """(block_key long, mention_id=csid) raw minhash-band keys from the fused
    featurizer's precomputed ``bands`` column — the SINGLE definition of the
    xxhash64("mh", band, lang) key identity shared by the pipeline's durable
    block index (pipeline.block_index_stage) and incremental folds' delta keys
    (operators/incremental.py). Any drift between those two constructions
    silently breaks the fold-equals-full-run contract (delta keys would stop
    joining the base index), so both call THIS function. No salt/cap/singleton
    policies here — those are pairing-time policies, not key identities.

    ``content_langs``: (csid, lang) — a content seen under k languages blocks
    in all k of them (preserves per-mention (lang, band) semantics after
    content-level dedup)."""
    return (
        feats.select("csid", "bands")
        .join(content_langs.select("csid", "lang"), "csid")
        .select(
            F.col("csid").alias("mention_id"),
            F.explode("bands").alias("_band"),
            "lang",
        )
        .select(
            F.xxhash64(F.lit("mh"), F.col("_band"), F.col("lang")).alias("block_key"),
            "mention_id",
        )
    )


def salted_key(member: str, n_salts: int, long_key: bool = True) -> Column:
    """The sub-block key a hot block's member lands in:
    ``xxhash64(block_key, pmod(xxhash64(block_key, member), n_salts))`` (a
    string key gets ``block_key#salt`` instead). The ONE definition shared by
    salt_hot_blocks and the fold's probe (operators/incremental.probe_keys):
    a (base, new) pair meets in the fold's salted probe iff a full run's
    salt_hot_blocks puts both in one sub-block, which the
    fold-equals-full-run contract relies on."""
    salt = F.pmod(F.xxhash64("block_key", member), F.lit(n_salts))
    if long_key:
        return F.xxhash64("block_key", salt)
    return F.concat(F.col("block_key"), F.lit("#"), salt.cast("string"))


def salt_hot_blocks(
    blocks: DataFrame,
    salt_threshold: int = 256,
    n_salts: int = 8,
    hot_keys: DataFrame | None = None,
) -> DataFrame:
    """Split blocks larger than ``salt_threshold`` into ``n_salts`` sub-blocks
    by a deterministic hash of (block_key, member). Trades (bounded) recall
    INSIDE each mega-block for a quadratic reduction in its pair fan-out
    (north_rule skew handling).

    The salt is derived from the pair (block_key, mention_id) — NOT the member
    alone — so salts DECORRELATE across key families: two members split apart
    in one hot band land together in other bands/sha/hyperplane blocks with
    independent probability, their edge survives there, and transitive
    clustering re-merges the cluster. (A member-only salt makes the same split
    in every family, deterministically fragmenting any cluster whose blocks
    are all hot.)

    ``hot_keys`` (block_key) optionally supplies a precomputed hot-key set —
    the pipeline passes the persisted per-key sizes from its ``block_sizes``
    stage, and incremental folds pass base+delta TOTALS, skipping the
    counting pass over the full key stream here."""
    from pyspark.sql.types import LongType

    if hot_keys is not None:
        hot = hot_keys.select("block_key", F.lit(1).alias("_sz"))
    else:
        hot = (
            blocks.groupBy("block_key")
            .agg(F.count(F.lit(1)).alias("_sz"))
            .filter(F.col("_sz") > salt_threshold)
        )
    is_long = isinstance(blocks.schema["block_key"].dataType, LongType)
    return (
        blocks.join(F.broadcast(hot), "block_key", "left")
        .withColumn(
            "block_key",
            F.when(
                F.col("_sz").isNotNull(), salted_key("mention_id", n_salts, long_key=is_long)
            ).otherwise(F.col("block_key")),
        )
        .drop("_sz")
    )
