"""Deduplication operators for training-data pipelines.

Four strategies over a documents table (id, text[, lang, emb]):

 exact         — hash-groupBy on sha256(text)            (A8 analogue:
                 src/models/data/only_once_dataset.py:8-22 — dedup before the
                 expensive embed, src/baselines/olpeat/at_embeddings.py:4-8)
 ngram_jaccard — exact shingle-set Jaccard ≥ t pairs (blocked by minhash bands
                 so the self-join never goes all-pairs; LSH params chosen so
                 recall at the threshold is ~1, then exact re-verification
                 makes the output threshold-exact)
 simhash       — exact simhash-key groups (near-dup via identical sketch)
 embedding     — cosine ≥ t pairs over the embedding column

All plain DataFrame ops; hashes are md5-based and cross-engine deterministic
(functions/text.py ↔ functions/oracle.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from mel_spark.functions import text as T
from mel_spark.operators.similarity import _pair_cosine, _with_vectors


def exact_duplicates(docs: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Groups of byte-identical docs: (content_sha, doc_ids sorted, group_size),
    only groups ≥ 2."""
    return (
        docs.select(T.content_sha(text_col).alias("content_sha"), F.col(id_col).alias("doc_id"))
        .groupBy("content_sha")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("doc_ids"), F.count(F.lit(1)).alias("group_size"))
        .filter(F.col("group_size") >= 2)
    )


def dedup_keep_first(docs: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Keep the min-id representative of every exact-content group (the
    OnlyOnceDataset contract: each distinct content exactly once)."""
    w_min = (
        docs.groupBy(T.content_sha(text_col).alias("_sha"))
        .agg(F.min(id_col).alias(id_col))
        .drop("_sha")
    )
    return docs.join(w_min, id_col, "left_semi")


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.7,
    num_hashes: int = 32,
    bands: int = 16,
    exact: bool = False,
) -> DataFrame:
    """Pairs with exact shingle-Jaccard ≥ threshold: (doc_id_a, doc_id_b,
    jaccard). ``exact=True`` verifies every O(n²) pair (oracle mode / small
    inputs); default blocks with minhash LSH first — at 16 bands × 2 rows a
    true 0.7-Jaccard pair is missed with prob (1-0.49)^16 ≈ 2e-5."""
    sh = docs.select(
        F.col(id_col).alias("doc_id"),
        F.array_sort(T.shingles(text_col, shingle_n)).alias("sh"),
    )
    if exact:
        cand = (
            sh.select(F.col("doc_id").alias("doc_id_a"))
            .crossJoin(sh.select(F.col("doc_id").alias("doc_id_b")))
            .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        )
    else:
        # band keys from the md5 feature kernel; it passes the id through,
        # so the output schema carries this table's own id type
        fn, schema = T.doc_features_map(shingle_n, num_hashes, bands)
        schema = StructType([StructField("doc_id", docs.schema[id_col].dataType),
                             *schema.fields[1:]])
        keyed = (
            docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
            .mapInArrow(fn, schema)
            .select("doc_id", F.explode("bands").alias("band_key"))
        )
        a = keyed.select("band_key", F.col("doc_id").alias("doc_id_a"))
        b = keyed.select("band_key", F.col("doc_id").alias("doc_id_b"))
        cand = (
            a.join(b, "band_key")
            .filter(F.col("doc_id_a") < F.col("doc_id_b"))
            .select("doc_id_a", "doc_id_b")
            .distinct()
        )
    joined = (
        cand.join(sh.select(F.col("doc_id").alias("doc_id_a"), F.col("sh").alias("sh_a")), "doc_id_a")
        .join(sh.select(F.col("doc_id").alias("doc_id_b"), F.col("sh").alias("sh_b")), "doc_id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        joined.withColumn("jaccard", F.round(inter / F.greatest(union, F.lit(1)), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_id_a", "doc_id_b", "jaccard")
    )


def simhash_groups(docs: DataFrame, id_col: str, text_col: str = "text", bits: int = 32) -> DataFrame:
    """Docs sharing an identical ``bits``-bit simhash (sketch-level near-dup)."""
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            T.shingle_int_hashes(T.shingles(text_col, 3)).alias("_xs"),
        )
        .select("doc_id", T.simhash_from_ints(F.col("_xs"), bits).alias("simhash"))
        .groupBy("simhash")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("doc_ids"), F.count(F.lit(1)).alias("group_size"))
        .filter(F.col("group_size") >= 2)
    )


def embedding_near_dup_pairs(
    docs: DataFrame,
    id_col: str,
    emb_col: str = "embedding",
    threshold: float = 0.95,
    dim: int = 64,
    exact: bool = False,
    n_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Cosine ≥ threshold pairs over the embedding column.

    DEFAULT is the scale-safe path: hyperplane-LSH blocking (seeded,
    deterministic) → exact cosine re-verification — never all-pairs.
    ``exact=True`` is the O(n²) crossJoin baseline, kept as the opt-in oracle
    mode for small inputs only. ``dim`` must be passed explicitly (no driver
    .first() probe)."""
    e = docs.select(F.col(id_col).alias("doc_id"), F.col(emb_col).alias("emb"))
    if exact:
        cand = (
            e.select(F.col("doc_id").alias("doc_id_a"))
            .crossJoin(e.select(F.col("doc_id").alias("doc_id_b")))
            .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        )
    else:
        from mel_spark.operators.blocking import hyperplane_blocks

        blocks = hyperplane_blocks(
            e, "doc_id", "emb", dim=dim, n_planes=n_planes, bands=bands, seed=seed
        )
        from mel_spark.session import plan_size_bytes

        if plan_size_bytes(docs) <= 256 << 20:
            # both self-join sides re-derive the hyperplane keys (the
            # literal-unrolled plane dots are the query's heaviest
            # projection); for small inputs compute them once, as a lazy
            # local checkpoint that Spark reclaims with the returned plan.
            # Gated on scan statistics: at production scale the blocks table
            # is too big to pin and the recompute is the cheaper trade.
            blocks = blocks.localCheckpoint(eager=False)
        a = blocks.select("block_key", F.col("mention_id").alias("doc_id_a"))
        b = blocks.select("block_key", F.col("mention_id").alias("doc_id_b"))
        cand = (
            a.join(b, "block_key")
            .filter(F.col("doc_id_a") < F.col("doc_id_b"))
            .select("doc_id_a", "doc_id_b")
            .distinct()
        )
    # exact verify: the searchers' pair cosine, with a as the query side
    pairs = _with_vectors(
        cand.toDF("query_id", "neighbor_id"), e, e, "doc_id", "emb", "doc_id", "emb"
    )
    return (
        pairs.withColumn("cos", _pair_cosine())
        .filter(F.col("cos") >= threshold)
        .select(
            F.col("query_id").alias("doc_id_a"), F.col("neighbor_id").alias("doc_id_b"), "cos"
        )
    )


def survivor_selection(
    clusters: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    text_col: str = "text",
) -> DataFrame:
    """The dedup ACTION a training-data pipeline executes after clustering:
    per near-dup cluster keep one canonical representative — longest text,
    tie → min id — and count what gets dropped. Consumes an EXISTING
    (id, cluster_id) assignment; it never recomputes clustering.

    Returns (cluster_id, survivor_<id_col>, group_size, n_dropped).

    Scale shape: one join keyed on the id + one groupBy(cluster) with
    min_by over a (-(len), id) struct — a pure aggregation with map-side
    partial combine, no per-cluster window sort and no arrays (keep/drop for
    a billion-doc corpus is one shuffle on cluster_id)."""
    j = clusters.select(
        F.col(id_col).alias("_id"), F.col(cluster_col).alias("cluster_id")
    ).join(
        docs.select(
            F.col(id_col).alias("_id"),
            # NULL text ranks BELOW empty text: length(NULL) is NULL and NULL
            # sorts first in ascending struct comparison, which would make a
            # null-text doc WIN the min_by pick — the opposite of the
            # windowed desc(n_chars) nulls-last semantics this replaces
            F.coalesce(F.length(F.col(text_col)), F.lit(-1)).alias("_n_chars"),
        ),
        "_id",
    )
    # min_by over (-n_chars, id): struct ordering gives longest-text first,
    # then lexicographic/numeric min id — identical to the windowed
    # row_number()=1 pick but expressible as a partial-aggregatable min
    return j.groupBy("cluster_id").agg(
        F.min_by("_id", F.struct((-F.col("_n_chars")).alias("a"), F.col("_id").alias("b")))
        .alias(f"survivor_{id_col}"),
        F.count(F.lit(1)).alias("group_size"),
        (F.count(F.lit(1)) - F.lit(1)).alias("n_dropped"),
    )


def select_survivors(
    clusters: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    text_col: str = "text",
) -> DataFrame:
    """The kept rows themselves: every doc NOT assigned to a cluster plus the
    per-cluster survivor — the deduplicated corpus a pipeline writes out."""
    surv = survivor_selection(clusters, docs, id_col, cluster_col, text_col)
    clustered = clusters.select(F.col(id_col))
    keep_ids = docs.select(id_col).join(clustered, id_col, "left_anti").unionByName(
        surv.select(F.col(f"survivor_{id_col}").alias(id_col))
    )
    return docs.join(keep_ids.distinct(), id_col, "left_semi")


def segment_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_tokens: int = 8,
    dup_k: int = 2,
    line_mode: bool = False,
) -> DataFrame:
    """CCNet-style duplicated-passage removal: segment every document, count
    each exact segment corpus-wide, and drop segments occurring >= ``dup_k``
    times (boilerplate, license headers, vendored passages). Returns per doc
    (id, n_segments, n_dup_segments, clean_sha) where clean_sha = md5 of the
    kept segments re-joined in original order — the cleaned-text identity.

    ``line_mode=True`` segments on newlines (prose corpora); the default uses
    fixed ``seg_tokens``-token windows (continuous word streams).

    Scale shape (guide §2.3 — shuffle keys/metadata, never the payload): one
    explode + one groupBy(segment) count (map-side partial aggregation
    absorbs the heavy hitters — the segments being removed are by definition
    high-frequency, the combiner's best case), REDUCED to the duplicated
    segments only; those join back to the exploded view to collect just the
    duplicated POSITIONS per doc (a handful of ints). The document table is
    never shuffled: the per-doc verdict re-derives the segment array from
    the doc row and drops the flagged positions. The pre-r6 form instead
    joined the FULL count table and regrouped every (pos, segment-string)
    pair by doc — two exchanges carrying every segment string; this form's
    exchanges carry segment strings once (the count) and ints after.
    """
    sep = "\n" if line_mode else " "
    seg_arr = (
        F.split(F.col(text_col), "\n")
        if line_mode
        else T.doc_segments(F.col(text_col), seg_tokens)
    )
    segs = docs.select(
        F.col(id_col), F.posexplode(seg_arr).alias("pos", "seg")
    )
    dup_segs = (
        segs.groupBy("seg")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= dup_k)
        .select("seg")
    )
    dup_pos = (
        segs.join(dup_segs, "seg")
        .groupBy(id_col)
        .agg(F.collect_list("pos").alias("_dup_pos"))
    )
    dp = F.coalesce(F.col("_dup_pos"), F.array().cast("array<int>"))
    kept = F.filter(F.col("_segs"), lambda s, i: ~F.array_contains(dp, i))
    return (
        # posexplode emits no rows for a null segment array (null text), so
        # such docs are absent from the grouped output — keep that contract.
        # The filter is on text, NOT on size(seg_arr) > 0 (provably the same:
        # split()/doc_segments() of non-null text always yield >= 1 element):
        # a filter referencing the segment expression is predicate-pushed
        # below the scan-parallelism Exchange and re-derives every segment at
        # file-split parallelism (measured 1.9 s -> 5.3 s at sf1.0).
        # The segment array is STAGED through its own projection — it has
        # three consumers below and CollapseProject keeps a non-cheap alias
        # with multiple references staged instead of re-inlining it.
        docs.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), seg_arr.alias("_segs"))
        .join(dup_pos, id_col, "left")
        .select(
            id_col,
            F.size("_segs").cast("long").alias("n_segments"),
            F.size(dp).cast("long").alias("n_dup_segments"),
            F.md5(F.array_join(kept, sep)).alias("clean_sha"),
        )
    )
