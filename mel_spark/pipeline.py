"""End-to-end entity-resolution pipeline (SURVEY.md §7.1).

repos(repo, path, commit, lang, content)
  → ingest (sha256 invariant, mention_id, long working ids)  [stage: ingest]
  → embed: featurize DISTINCT CONTENTS only                  [stage: embed]
  → block (lang × minhash-band)                              [stage: blocks]
  → candidate pairs + fused scoring                          [stage: pairs]
  → threshold → matches
  → connected components over contents → expand to mentions  [stage: clusters]

THE CENTRAL SCALE DECISION: blocking, pairing, and clustering run at the
DISTINCT-CONTENT level (csid), not the mention level. Byte-identical files
are the same entity by definition (the per-row sha256 invariant), so exact
duplicates never generate blocks, pairs, or edges — they rejoin in one final
expansion pass. This extends the reference's dedup-before-embedding lesson
(src/baselines/olpeat/at_embeddings.py:4-8) to the whole pipeline: on real
code corpora (fork-heavy, vendored deps) the dedup ratio is huge, and the
quadratic stages only ever see the deduplicated working set.

Every stage checkpoints via CheckpointManager (resume = skip green stages).
The reference's pipeline shape being re-expressed: tokenize → embed →
alias-table/ANN block → retrieve+score → resolve (SURVEY.md §3).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mel_spark.functions import text as T
from mel_spark.operators import blocking, cluster, pairs
from mel_spark.sources.checkpoint import CheckpointManager, stage_fingerprint


@dataclass
class ERConfig:
    shingle_n: int = 3
    # 16 bands × 2 rows: a true jaccard-0.6 pair misses a band with p=0.64,
    # all 16 with p=0.64^16 ≈ 8e-4 → blocking recall ≈ 0.999 (tuning analogue:
    # ScaNN leaves/search/reorder, src/finetunings/evaluation/find_recall.py:28-37)
    minhash_hashes: int = 32
    minhash_bands: int = 16
    emb_dim: int = 64
    max_block_size: int = 64
    salt_threshold: int = 256
    # fused score of a worst-case planted near-dup (≈8% token edits):
    # cos≈0.92, jaccard≈0.60 → 0.6·0.92+0.4·0.60 ≈ 0.79; random pairs ≈ 0.2
    threshold: float = 0.72
    w_cos: float = 0.6
    w_jaccard: float = 0.4
    seed: int = 42
    # embedding storage in the embed checkpoint: fp16-packed binary halves
    # the pipeline's widest column (the reference stores fp16 deliberately,
    # src/utils/embeddings.py:108); quantization is deterministic so
    # fold-equals-full-run identity is unaffected. "f32" keeps array<float>
    # (e.g. for exact parity against a full-precision external oracle).
    emb_storage: str = "f16"


def ingest(
    repos: DataFrame,
    redirects: DataFrame | None = None,
    redirect_col: str = "repo",
) -> DataFrame:
    """Stage 1: mention_id = sha256(repo||path||commit); content_sha invariant.

    ``redirects`` (old_entity_id, new_entity_id) optionally decorates the
    source read with the broadcast redirect remap — the reference applies its
    QID remap inside EVERY loader (src/utils/loaders.py:37-56,
    src/utils/qids_remap.py:28-55), so redirected entity ids are normalized
    BEFORE any identity (mention_id/mid/csid) is derived and a redirected
    repo's mentions land in the target entity's clusters.

    Columns are cast to the contract schema (input_hint: all string) so
    schema-drifted sources (e.g. an empty parquet with inferred types) fail
    soft instead of breaking sha2 type checks. NULL ``content`` is
    canonicalized to the EMPTY document here — at the 10^12-file tier null
    bodies are a certainty, sha2(NULL) is NULL (so every null row would
    collapse onto one csid with a null content_sha), and the tokenizer's
    split(NULL) is NULL, which crashes the Arrow featurizer mid-stage.
    Canonicalizing at the identity boundary gives nulls the same
    deterministic semantics as empty files (one '' token, a real sha) and
    keeps the invariant that every ingested row survives every stage.

    ``mid`` = xxhash64(mention_id) is the 8-byte WORKING id every downstream
    shuffle keys on (blocks, pairs, connected components): a 64-char sha hex
    string costs ~8× the shuffle bytes, sort width, and hash-table churn of a
    long, and the blocks/pairs stages shuffle ~17 rows per mention. The sha
    string remains the durable identity — final cluster output joins back to
    it. Collision envelope: n²/2⁶⁵ spurious-merge probability (~3e-8 at 10⁶
    rows); at the 10^12-file tier swap ``mid`` for a 128-bit (2-long) key —
    same plan shape, double key width."""
    repos = repos.select(*[F.col(c).cast("string").alias(c) for c in
                           ("repo", "path", "commit", "lang")],
                         F.coalesce(F.col("content").cast("string"),
                                    F.lit("")).alias("content"))
    if redirects is not None:
        from mel_spark.operators.remap import remap_ids

        repos = remap_ids(repos, redirects, redirect_col)
    return (
        repos.select(
            F.sha2(F.concat_ws("\x00", "repo", "path", "commit"), 256).alias("mention_id"),
            "repo",
            "path",
            "commit",
            "lang",
            "content",
            T.content_sha("content").alias("content_sha"),
        )
        .withColumn("mid", F.xxhash64("mention_id"))
        .withColumn("csid", F.xxhash64("content_sha"))
    )


def embed_stage(mentions: DataFrame, cfg: ERConfig) -> DataFrame:
    """Stage 3: featurize DISTINCT CONTENTS only — output is keyed by csid,
    NOT joined back to mentions (the reference's wasted-resources lesson,
    src/baselines/olpeat/at_embeddings.py:4-8, applied structurally: the
    mention↔content expansion happens once, after clustering).

    ONE fused Arrow pass (vectors.featurize_map) computes the embedding, the
    sorted-distinct shingle-hash set ``xs`` (reused by the pair stage's
    jaccard verification) and the minhash ``bands`` keys — batch-vectorized
    NumPy, fed by a single JVM xxhash64 pass per token. The Catalyst form of
    the minhash permutations allocated one array per permutation per row and
    capped 2→8-thread scaling at ~1.5× (BENCH r1); the fused pass removes
    that JVM allocation entirely."""
    from mel_spark.functions.vectors import featurize_map

    distinct_contents = mentions.select("csid", "content").dropDuplicates(["csid"])
    feat_fn, feat_schema = featurize_map(
        dim=cfg.emb_dim,
        seed=cfg.seed,
        shingle_n=cfg.shingle_n,
        num_hashes=cfg.minhash_hashes,
        bands=cfg.minhash_bands,
        emb_format=cfg.emb_storage,
    )
    return distinct_contents.select(
        "csid", T.token_int_hashes("content").alias("_th")
    ).mapInArrow(feat_fn, feat_schema)


def block_index_stage(feats: DataFrame, mentions: DataFrame) -> DataFrame:
    """Stage 4a: the RAW block-key index — (block_key long, mention_id=csid)
    for every (content, lang) combination, no salt/cap/singleton policies.
    Materialized as its own checkpoint stage because it is also the probe
    structure incremental folds join against (operators/incremental.py): a
    fold APPENDS its delta keys to this index instead of re-deriving corpus
    keys from features. At cluster scale, write it bucketed by block_key and
    both the pipeline's self-join and the fold's probe become shuffle-free."""
    # a content seen under k languages blocks in all k of them (preserves the
    # per-mention (lang, band) semantics after content-level dedup); key
    # identity defined ONCE in blocking.raw_band_keys — shared with
    # incremental folds so delta keys always join this index
    content_langs = mentions.select("csid", "lang").dropDuplicates(["csid", "lang"])
    return blocking.raw_band_keys(feats, content_langs)


def block_sizes_stage(index: DataFrame) -> DataFrame:
    """Stage 4a': per-key sizes of the raw block index — (block_key,
    block_size). Persisted NEXT TO the index so (a) the salting pass below
    reads a tiny hot-key table instead of re-counting the full key stream and
    (b) incremental folds derive their hot set from base+delta TOTALS without
    a corpus pass (operators/incremental.py appends per-fold delta sizes).
    One combiner-friendly aggregation; output rows = distinct keys."""
    return index.groupBy("block_key").agg(F.count(F.lit(1)).alias("block_size"))


def block_stage(index: DataFrame, cfg: ERConfig, sizes: DataFrame | None = None) -> DataFrame:
    """Stage 4b: pairing-time skew policies over the raw index (salt → cap).

    Both the key AND the member id are 8-byte longs: the exploded block table
    (~17 rows/content) is the pipeline's biggest shuffle, and the cap/salt
    windows sort it — 16-byte rows keep that sort allocation-light."""
    hot = (
        sizes.filter(F.col("block_size") > cfg.salt_threshold).select("block_key")
        if sizes is not None
        else None
    )
    blocks = blocking.salt_hot_blocks(index, cfg.salt_threshold, hot_keys=hot)
    return blocking.cap_blocks(blocks, cfg.max_block_size)


def pair_stage(blocks: DataFrame, feats: DataFrame, cfg: ERConfig) -> DataFrame:
    """Stage 5: within-block candidate csid pairs, scored in one NumPy pass
    for cosine ⊕ jaccard ⊕ fuse (consumes fp16-packed or array emb directly
    — no decode stage)."""
    cand = pairs.candidate_pairs(blocks)
    records = feats.select(F.col("csid").alias("mention_id"), "emb", "xs")
    return pairs.score_pairs_fused_arrow(
        cand, records, w_cos=cfg.w_cos, w_jaccard=cfg.w_jaccard
    )


def min_mid_labels(members: DataFrame) -> DataFrame:
    """The output contract's cluster label: every row of ``members`` gains
    ``cluster_id`` = the minimum mention ``mid`` over its ``_root`` group
    (deterministic, independent of how the components were found), in one
    window, so the group's rows are exchanged once. The full run and the
    incremental fold both label through it, which is what makes a fold's
    labels byte-identical to a full run's."""
    return members.withColumn("cluster_id", F.min("mid").over(Window.partitionBy("_root")))


def run_pipeline(
    spark: SparkSession,
    repos: DataFrame,
    checkpoint_dir: str,
    cfg: ERConfig = ERConfig(),
    input_token: str = "",
    redirects: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """Full resumable run; returns every stage DataFrame keyed by stage name.

    ``input_token`` identifies the input (path / synth spec); it is hashed
    with the full ERConfig into each stage's checkpoint fingerprint, so a
    rerun against the same --checkpoint dir with a different threshold or
    input recomputes instead of serving stale stages. When passing
    ``redirects`` (entity-id redirect table applied at ingest), include its
    identity (path/version) in ``input_token`` so a changed redirect table
    invalidates the checkpoints."""
    fp = stage_fingerprint(cfg, input_token)
    ckpt = CheckpointManager(checkpoint_dir)
    mentions, _ = ckpt.get_or_compute(
        "ingest", spark, lambda: ingest(repos, redirects=redirects),
        partition_by=["lang"], fingerprint=fp,
    )
    feats, _ = ckpt.get_or_compute(
        "embed", spark, lambda: embed_stage(mentions, cfg), fingerprint=fp
    )
    index, _ = ckpt.get_or_compute(
        "block_index", spark, lambda: block_index_stage(feats, mentions),
        fingerprint=fp,
    )
    sizes, _ = ckpt.get_or_compute(
        "block_sizes", spark, lambda: block_sizes_stage(index), fingerprint=fp
    )
    blocks, _ = ckpt.get_or_compute(
        "blocks", spark, lambda: block_stage(index, cfg, sizes=sizes), fingerprint=fp
    )
    scored, _ = ckpt.get_or_compute(
        "pairs", spark, lambda: pair_stage(blocks, feats, cfg), fingerprint=fp
    )
    matches = pairs.match_pairs(scored, cfg.threshold)

    def _cluster() -> DataFrame:
        # CC runs over DISTINCT CONTENTS (csid longs); the one expansion pass
        # maps every mention to its content's cluster and labels the cluster
        # with its minimum mention mid (deterministic). Star rounds checkpoint
        # durably under the job's checkpoint dir → a crashed run resumes
        # MID-CLUSTERING from the last completed round (north_rule)
        import os as _os

        cc = cluster.connected_components(
            matches,
            checkpoint_dir=_os.path.join(checkpoint_dir, "cc_rounds"),
            input_fingerprint=fp,
            # durable write every 4th round (converged round always durable):
            # a crash re-does ≤3 localCheckpointed star rounds instead of the
            # stage paying a durable write+read per round
            durable_every=4,
        )
        cl = cluster.attach_singletons(
            cc, mentions.select(F.col("csid").alias("mention_id"))
        ).select(F.col("mention_id").alias("csid"), F.col("cluster_id").alias("_root"))
        expanded = mentions.select("mid", "mention_id", "csid").join(cl, "csid")
        return min_mid_labels(expanded).select("mention_id", "cluster_id")

    clusters, _ = ckpt.get_or_compute("clusters", spark, _cluster, fingerprint=fp)
    return {
        "mentions": mentions,
        "embedded": feats,
        "blocks": blocks,
        "scored": scored,
        "matches": matches,
        "clusters": clusters,
    }
