"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship: full ER mini-pipeline (LSH blocking → verified
                jaccard pairs → connected components) over sf0.001 documents.
queries()     — one entry per implemented operator family (SURVEY.md §2 ids in
                each docstring); each callable (spark, sf_dir) → DataFrame.
oracle_sql()  — DuckDB twins. All hashing bottoms out in md5 (bit-identical
                across engines, parity-tested in tests/test_oracle_parity.py);
                double aggregation goes through DECIMAL casts so sums are
                exact; every float output is rounded.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mel_spark.functions import oracle as O
from mel_spark.functions import text as T
from mel_spark.functions import vectors as V

# ---------------------------------------------------------------------------
# shared constants (Spark and SQL sides must agree)
# ---------------------------------------------------------------------------
SHINGLE_N = 3
MH_HASHES = 32
MH_BANDS = 16
MH_ROWS = MH_HASHES // MH_BANDS
JACCARD_T = 0.3
KNN_K = 5
KNN_MAX_QID = 50
SIMHASH_BITS = 16


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name in ("documents", "embeddings"):
        # the per-row-compute-heavy tables: hashing/scoring must not serialize
        # on a single scan split when the file is small (no-op at scale);
        # cache_key memoizes the split-count probe for this static path
        from mel_spark.session import ensure_scan_parallelism

        df = ensure_scan_parallelism(df, cache_key=f"{sf_dir}/{name}.parquet")
    return df


# ---------------------------------------------------------------------------
# ER family over `documents` (SURVEY §7.1; A1/A2/A8/J4 analogues)
# ---------------------------------------------------------------------------

def _doc_features(docs: DataFrame) -> DataFrame:
    """(doc_id, xs, bands) via ONE mapInArrow batch kernel
    (text.doc_features_map, guide §4.2): per-shingle md5 through hashlib, the
    32 minhash permutations and per-doc minima through the chunked NumPy
    primitive the pipeline featurizer shares (text.minhash_signatures), band
    md5s through hashlib.
    Integer arithmetic + md5 only — exact cross-engine, so ``xs`` (sorted
    distinct md5-derived shingle ints — the jaccard verification runs on
    these, never on shingle strings) and the band equality classes are
    bit-identical to the DuckDB oracle's expression chain (parity-asserted
    by tests/test_er_kernel.py against the legacy Catalyst builders, which
    measured 130 s task time / up to 79% GC per sf1.0 feature pass —
    interpreted HOF allocation the kernel does not pay). Band keys are
    17-byte binaries (index byte + md5 digest), a bijection of the oracle's
    'b{i}:<hex>' strings — same classes, half the self-join shuffle bytes.
    The kernel function is memoized per config, so every query build yields
    the same serialized UDF and the CacheManager can substitute a persisted
    feature table across queries."""
    fn, schema = T.doc_features_map(SHINGLE_N, MH_HASHES, MH_BANDS)
    return docs.select("doc_id", "text").mapInArrow(fn, schema)


def _band_blocks(feats: DataFrame) -> DataFrame:
    return feats.select("doc_id", F.explode("bands").alias("band_key"))


def _verify_pairs(cand: DataFrame, feats: DataFrame) -> DataFrame:
    """Exact jaccard verification of candidate (doc_id_a, doc_id_b) pairs over
    the pre-materialized 8-byte shingle-int sets."""
    sh = feats.select("doc_id", "xs")
    joined = (
        cand.join(sh.select(F.col("doc_id").alias("doc_id_a"), F.col("xs").alias("sh_a")), "doc_id_a")
        .join(sh.select(F.col("doc_id").alias("doc_id_b"), F.col("xs").alias("sh_b")), "doc_id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        joined.withColumn("jaccard", F.round(inter / F.greatest(union, F.lit(1)), 6))
        .filter(F.col("jaccard") >= JACCARD_T)
        .select(*cand.columns, "jaccard")
    )


def _minhash_pairs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band-collision candidates, exact-verified at JACCARD_T (dedup op:
    minhash→verify; ref alias-table blocking A2 src/baselines/olpeat/find_recall.py:76-91).

    The per-doc feature table is persisted: both self-join sides and the
    verification join reuse it instead of recomputing the hash pass. The
    VERIFIED pairs are persisted too (r6): er_clusters and er_survivors
    derive from the identical pairs plan, so the CacheManager hands them the
    materialized edge list instead of re-running the band self-join + exact
    verification (the pairs table is tiny — O(near-dup pairs) rows)."""
    docs = _t(spark, sf_dir, "documents")
    feats = _doc_features(docs).persist()
    blocks = _band_blocks(feats)
    cand = (
        blocks.alias("x")
        .join(blocks.alias("y"), "band_key")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("doc_id_a"), F.col("y.doc_id").alias("doc_id_b"))
        .distinct()
    )
    return _verify_pairs(cand, feats).persist()


# staged CTEs: the md5 pass (xs) is computed once, not once per permutation —
# mirrors the staged Spark projections in _doc_features
_MINHASH_PAIRS_SQL_BODY = f"""
WITH sh0 AS (
  SELECT doc_id, {O.shingles('text', SHINGLE_N)} AS sh FROM documents
),
sig0 AS (
  SELECT doc_id, list_sort(list_distinct(xs)) AS xs,
         {O.minhash_signature_from_ints('xs', MH_HASHES)} AS sig
  FROM (SELECT doc_id, sh, {O.shingle_int_hashes('sh')} AS xs FROM sh0)
),
blocks AS (
  SELECT doc_id, unnest({O.minhash_band_keys('sig', MH_BANDS, MH_ROWS)}) AS band_key
  FROM sig0
),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_id_a, y.doc_id AS doc_id_b
  FROM blocks x JOIN blocks y ON x.band_key = y.band_key AND x.doc_id < y.doc_id
),
scored AS (
  SELECT c.doc_id_a, c.doc_id_b,
         round(len(list_intersect(a.xs, b.xs)) * 1.0 /
               greatest(len(a.xs) + len(b.xs) - len(list_intersect(a.xs, b.xs)), 1), 6) AS jaccard
  FROM cand c JOIN sig0 a ON c.doc_id_a = a.doc_id JOIN sig0 b ON c.doc_id_b = b.doc_id
)
SELECT doc_id_a, doc_id_b, jaccard FROM scored WHERE jaccard >= {JACCARD_T}
"""


def q_er_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _minhash_pairs_df(spark, sf_dir)


def q_er_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: verified near-dup pairs → large-star/small-star connected
    components → (doc_id, cluster_id = min member). Singletons included."""
    from mel_spark.operators.cluster import attach_singletons, connected_components

    docs = _t(spark, sf_dir, "documents")
    pairs = _minhash_pairs_df(spark, sf_dir)
    cc = connected_components(pairs, "doc_id_a", "doc_id_b")
    return attach_singletons(
        cc, docs.select(F.col("doc_id").alias("mention_id")), ids_unique=True
    ).select(
        F.col("mention_id").alias("doc_id"), F.col("cluster_id").cast("long").alias("cluster_id")
    )


_ER_CLUSTERS_SQL = f"""
WITH RECURSIVE pairs AS ({_MINHASH_PAIRS_SQL_BODY}),
edges AS (
  SELECT doc_id_a AS u, doc_id_b AS v FROM pairs
  UNION SELECT doc_id_b, doc_id_a FROM pairs
),
cc(n, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.v, cc.lbl FROM cc JOIN edges e ON e.u = cc.n WHERE cc.lbl < e.v
)
SELECT n AS doc_id, min(lbl)::BIGINT AS cluster_id FROM cc GROUP BY n
"""


def q_er_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ER (operators/incremental.py): run the full base pipeline
    over the ~70% of documents with pmod(doc_id,10) < 7, then FOLD IN the
    remaining ~30% — delta blocking (new x new and new x old band collisions),
    verification, and root-collapsed connected components over only the new
    edges. Candidates come from ONE band self-join verified ONCE and split by
    endpoint newness (both-old = base pairs, >=1-new = delta pairs — the same
    disjoint sets the separate base/new-probe joins produce, at half the join
    work). The oracle is the FULL-RUN recursive-CTE SQL (er_clusters over all
    docs): hash-matching it proves the incremental path reproduces a
    from-scratch recompute exactly, labels included (cluster_id = min member;
    old roots are minima of their members, so min over {roots, new ids} = min
    over the merged component)."""
    from mel_spark.operators.cluster import attach_singletons, connected_components
    from mel_spark.operators.incremental import merge_components

    docs = _t(spark, sf_dir, "documents")
    is_new = F.pmod(F.col("doc_id"), F.lit(10)) >= 7

    # ONE band self-join + ONE verification over all candidates, split
    # afterwards by endpoint newness — and that one self-join IS
    # _minhash_pairs_df's (r6): endpoint newness is a pure function of the
    # pair ids (pmod(doc_id, 10)), so the split flag is recomputed from the
    # verified (doc_id_a, doc_id_b) columns instead of being threaded through
    # a SECOND band join + verification of the identical candidate set. Same
    # sets, provably — and within a bench pass the pairs come straight out of
    # the cache er_minhash_pairs populated.
    verified = _minhash_pairs_df(spark, sf_dir).withColumn(
        "_any_new",
        (F.pmod(F.col("doc_id_a"), F.lit(10)) >= 7)
        | (F.pmod(F.col("doc_id_b"), F.lit(10)) >= 7),
    )
    base_pairs = verified.filter(~F.col("_any_new")).select("doc_id_a", "doc_id_b", "jaccard")
    delta_pairs = verified.filter("_any_new").select("doc_id_a", "doc_id_b", "jaccard")

    # base run: pairs among old docs only → transitive clusters → roots
    base_cc = connected_components(base_pairs, "doc_id_a", "doc_id_b")
    roots_old = attach_singletons(
        base_cc, docs.filter(~is_new).select(F.col("doc_id").alias("mention_id")),
        ids_unique=True,
    ).select(F.col("mention_id").alias("csid"), F.col("cluster_id").alias("root"))

    remap = merge_components(
        delta_pairs.select(
            F.col("doc_id_a").alias("mention_id_a"),
            F.col("doc_id_b").alias("mention_id_b"),
        ),
        roots_old,
    ).select(F.col("mention_id").alias("_node"), F.col("cluster_id").alias("_new_root"))

    old_assign = roots_old.join(
        remap, roots_old["root"] == remap["_node"], "left"
    ).select(F.col("csid").alias("doc_id"), F.coalesce("_new_root", "root").alias("cluster_id"))
    new_ids = docs.filter(is_new).select(F.col("doc_id"))
    new_assign = new_ids.join(remap, new_ids["doc_id"] == remap["_node"], "left").select(
        "doc_id", F.coalesce("_new_root", F.col("doc_id")).alias("cluster_id")
    )
    return old_assign.unionByName(new_assign).select(
        "doc_id", F.col("cluster_id").cast("long").alias("cluster_id")
    )


def q_er_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8/OnlyOnceDataset: byte-identical text groups (content_sha key)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy(T.content_sha("text").alias("content_sha"))
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .filter(F.col("group_size") >= 2)
    )


def q_er_fingerprint_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc fingerprint (winnowing-lite min-md5 over 8-gram shingles) groups."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy(T.doc_fingerprint("text").alias("fp"))
        .agg(F.count(F.lit(1)).alias("group_size"), F.min("doc_id").alias("min_doc_id"))
        .filter(F.col("group_size") >= 2)
    )


def q_er_simhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash sketch dedup: identical 16-bit sketches."""
    docs = _t(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id", T.shingle_int_hashes(T.shingles("text", SHINGLE_N)).alias("xs")
    )
    return (
        staged.groupBy(T.simhash_from_ints(F.col("xs"), SIMHASH_BITS).alias("simhash"))
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .filter(F.col("group_size") >= 2)
    )


def q_er_blocking_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking skew diagnostics per lang: blocks, max block size, pair fanout
    (the quantity salting bounds; north_rule skew handling)."""
    docs = _t(spark, sf_dir, "documents")
    # bands from the SAME lang-free feature plan er_minhash_pairs persists —
    # a broadcast doc_id→lang join replaces the with_lang=True recompute of
    # the whole md5/minhash chain (cache hit when the pairs query ran first;
    # identical per-doc bands either way, so the output is unchanged)
    feats = _doc_features(docs).persist()
    blocks = feats.join(docs.select("doc_id", "lang"), "doc_id").selectExpr(
        "lang", "explode(bands) AS band_key"
    )
    per_block = blocks.groupBy("lang", "band_key").agg(F.count(F.lit(1)).alias("sz"))
    return (
        per_block.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.max("sz").alias("max_block_size"),
            F.sum(F.col("sz") * (F.col("sz") - 1) / 2).cast("long").alias("pair_fanout"),
        )
    )


# ---------------------------------------------------------------------------
# Retrieval family over `embeddings` (J4/J6/A6/W2, O2)
# ---------------------------------------------------------------------------

def q_knn_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact top-k by cosine (BruteForceSearcher semantics,
    src/models/searchers/brute_force_searcher.py:29-36), ties by neighbor id."""
    from mel_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    return brute_force_topk(
        emb.filter(F.col("vec_id") < KNN_MAX_QID), emb, k=KNN_K
    ).select("query_id", "neighbor_id", "cos", F.col("rank").cast("int").alias("rank"))


def q_knn_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6/J6: recall@5 of same-label neighbors (labels play the gold-QID role,
    src/models/recall_calculator.py:43-69)."""
    from mel_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    topk = brute_force_topk(
        emb.filter(F.col("vec_id") < KNN_MAX_QID), emb, k=KNN_K
    )
    lbl = emb.select("vec_id", "label")
    hits = (
        topk.join(lbl.select(F.col("vec_id").alias("query_id"), F.col("label").alias("q_label")), "query_id")
        .join(lbl.select(F.col("vec_id").alias("neighbor_id"), F.col("label").alias("n_label")), "neighbor_id")
        .groupBy("query_id", "q_label")
        .agg(F.max((F.col("n_label") == F.col("q_label")).cast("int")).alias("hit"))
    )
    return hits.select(
        F.round(F.avg("hit"), 6).alias("recall_at_k"),
        F.count(F.lit(1)).cast("long").alias("n_queries"),
    )


def q_knn_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The broadcast-index mapInPandas searcher (BruteForceSearcher's torch
    matmul+topk as NumPy-per-Arrow-batch) — exploded to rows so the SAME SQL
    oracle as brute force validates the vectorized path. Index delivery uses
    the DEFAULT production mode: executors load the parquet themselves
    (``index_path``, per-worker cache) — the driver never touches the
    vectors; the packed-collect fallback (for non-parquet-backed indexes) is
    equivalence-tested against this in tests/test_similarity.py."""
    from mel_spark.operators.similarity import broadcast_knn

    emb = _t(spark, sf_dir, "embeddings")
    out = broadcast_knn(
        emb.filter(F.col("vec_id") < KNN_MAX_QID), emb, k=KNN_K,
        q_id="vec_id", q_emb="embedding", i_id="vec_id", i_emb="embedding",
        index_path=f"{sf_dir}/embeddings.parquet",
    )
    return out.select(
        "query_id",
        F.posexplode("neighbor_ids").alias("rank0", "neighbor_id"),
    ).select("query_id", "neighbor_id", (F.col("rank0") + 1).cast("int").alias("rank"))


EMB_DUP_T = 0.4
EMB_LSH_T = 0.3
EMB_LSH_PLANES = 8
EMB_LSH_BANDS = 4
EMB_DIM = 64


def q_emb_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (exact all-pairs oracle baseline;
    the production default is the LSH path, q_emb_near_dup_lsh)."""
    from mel_spark.operators.dedup import embedding_near_dup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(
        emb, "vec_id", "embedding", threshold=EMB_DUP_T, dim=EMB_DIM, exact=True
    )


def q_emb_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-default near-dup: seeded hyperplane-LSH blocking → exact cosine
    verify. Fully oracle-matched — the seeded plane weights are inlined as
    literals into both engines' plans (oracle.hyperplane_band_keys)."""
    from mel_spark.operators.dedup import embedding_near_dup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(
        emb,
        "vec_id",
        "embedding",
        threshold=EMB_LSH_T,
        dim=EMB_DIM,
        exact=False,
        n_planes=EMB_LSH_PLANES,
        bands=EMB_LSH_BANDS,
        seed=42,
    )


def q_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH approximate kNN (the ScaNN analogue). The seeded plane
    weights are inlined as literals into BOTH engines' plans
    (oracle.hyperplane_band_keys), so this approximate path is fully
    oracle-matched, not rows-only."""
    from mel_spark.operators.similarity import lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    return lsh_topk(
        emb.filter(F.col("vec_id") < KNN_MAX_QID), emb, k=KNN_K, n_planes=12, bands=6
    )


def q_emb_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 entity prototype vector: groupBy(label) → element-wise DECIMAL-exact
    sum → L2 normalize (combine_embs.py:9-43). Exploded to (label, n, pos,
    c_val) scalar rows so the driver's value-hash sees no array columns."""
    from mel_spark.operators.aggregates import embedding_centroid

    emb = _t(spark, sf_dir, "embeddings")
    cent = embedding_centroid(emb, "label", "embedding")
    return cent.select(
        "label", "n", F.posexplode("centroid").alias("pos0", "c_val")
    ).select("label", "n", (F.col("pos0") + 1).cast("int").alias("pos"), "c_val")


def q_qid_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 normalized frequency distribution: count ÷ grand total
    (calculate_qids_distribution.py:7-21)."""
    from mel_spark.operators.aggregates import normalized_distribution

    emb = _t(spark, sf_dir, "embeddings")
    return normalized_distribution(emb, "label")


def q_lang_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 composite argmax: per source the top-2 langs by (pair count desc,
    global lang size desc, lang asc) (creator.py:147-206)."""
    from mel_spark.operators.aggregates import composite_argmax

    docs = _t(spark, sf_dir, "documents")
    return composite_argmax(docs, "source", "lang", k=2)


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 hard-negative mining: per query the best gold-labeled neighbor and
    the best non-gold neighbor from the exact top-k
    (create_dataset.py:89-121)."""
    from mel_spark.operators.pairs import hard_negative_pairs
    from mel_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    topk = brute_force_topk(
        emb.filter(F.col("vec_id") < KNN_MAX_QID), emb, k=KNN_K
    )
    return hard_negative_pairs(
        topk.select("query_id", "neighbor_id", "rank"), emb.select("vec_id", "label")
    )


# shared centroid CTE (A4) — reused by emb_centroid and centroid_recall
_CENTROID_CTE = """ex AS (
              SELECT label AS key, t.i AS pos, embedding[t.i]::DOUBLE AS val
              FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
            ), sums AS (
              SELECT key, pos, sum(round(val, 7)::DECIMAL(24,7)) AS s, count(*) AS cnt
              FROM ex GROUP BY 1, 2
            ), vecs AS (
              SELECT key, max(cnt) AS n, list(s::DOUBLE ORDER BY pos) AS vsum
              FROM sums GROUP BY key
            ), final AS (
              SELECT key AS label, n::BIGINT AS n,
                     list_transform(vsum, x -> round(
                       x / greatest(sqrt(list_sum(list_transform(vsum, y -> y * y))), 1e-300), 6
                     )) AS c
              FROM vecs
            )"""


def q_centroid_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4→J4→A6 composition (the reference's multilingual path: combine_embs
    builds per-entity prototype vectors, find_recall retrieves against them):
    per-label centroid index → exact top-1 by cosine → recall@1 of the true
    label."""
    from mel_spark.operators.aggregates import embedding_centroid
    from mel_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    cents = embedding_centroid(emb, "label", "embedding", out_col="centroid")
    top1 = brute_force_topk(
        emb.filter(F.col("vec_id") < KNN_MAX_QID),
        cents,
        k=1,
        i_id="label",
        i_emb="centroid",
        exclude_self=False,
    )
    hits = top1.join(
        emb.select(F.col("vec_id").alias("query_id"), "label"), "query_id"
    )
    return hits.select(
        F.round(F.avg((F.col("neighbor_id") == F.col("label")).cast("double")), 6).alias(
            "recall_at_1"
        ),
        F.count(F.lit(1)).cast("long").alias("n_queries"),
    )


IVF_CELLS = 16
IVF_NPROBE = 8
IVF_ITERS = 2
IVF_REORDER = 20


def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate kNN (ScaNN tree-partitioning analogue): seeded coarse
    quantizer (md5-seeded medoid init + DECIMAL-exact Lloyd rounds — the
    cross-engine-deterministic construction), nprobe cell probing, exact
    re-score. Fully oracle-matched: the DuckDB twin (_ivf_sql) unrolls the
    same Lloyd rounds with the same decimal sums, so assignment → probe →
    re-score hash-matches end to end. The numpy ivf_topk remains the
    production fitted path (recall-tested in tests/test_similarity.py)."""
    from mel_spark.operators.similarity import ivf_topk_relational

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_topk_relational(
        emb.filter(F.col("vec_id") < KNN_MAX_QID), emb, k=KNN_K,
        n_cells=IVF_CELLS, nprobe=IVF_NPROBE, iterations=IVF_ITERS, seed=42,
    )


def q_knn_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + asymmetric-hashing candidate scoring (the ScaNN
    anisotropic-quantization analogue, scann_searcher.py:21-49): candidates
    are first ranked on int8 codes (4× smaller payload; the per-vector scale
    cancels inside cosine so the approx pass is cosine(q, code)), the top
    ``IVF_REORDER`` per query survive, and only those are re-scored on full
    fp32 vectors (reorder precedent: find_recall.py:28-37)."""
    from mel_spark.operators.similarity import ivf_topk_relational

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_topk_relational(
        emb.filter(F.col("vec_id") < KNN_MAX_QID), emb, k=KNN_K,
        n_cells=IVF_CELLS, nprobe=IVF_NPROBE, iterations=IVF_ITERS, seed=42,
        quantized=True, reorder=IVF_REORDER,
    )


def q_knn_ivf_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSISTED IVF index: build once (inverted lists as hive partitions,
    cell-partitioned parquet; the reference's Index.from_dir build→serve
    split, src/data_processors/index/index.py:16-58), then probe with static
    partition pruning — only the nprobe probed cells' directories are read
    (the storage analogue of ScaNN's leaves_to_search). The relational fit +
    Catalyst probe is bit-identical to ivf_topk_relational, so the SAME
    DuckDB oracle as knn_ivf validates the whole build→persist→probe path
    end to end."""
    import tempfile

    from mel_spark.operators.ann_index import build_ivf_index, ivf_index_topk

    emb = _t(spark, sf_dir, "embeddings")
    d = tempfile.mkdtemp(prefix="mel_ivf_index_")
    build_ivf_index(
        emb, d, n_cells=IVF_CELLS, iterations=IVF_ITERS, seed=42,
        fit="relational", emb_format="f32",
    )
    return ivf_index_topk(
        spark, emb.filter(F.col("vec_id") < KNN_MAX_QID), d,
        k=KNN_K, nprobe=IVF_NPROBE,
    )


def q_knn_ivf_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FOLD-MAINTAINED persisted index (r5): build over the base corpus
    (vec_id % 5 != 0), APPEND the held-out fifth as a new epoch under the
    frozen centroids (ann_index.append_to_ivf_index), probe everything.
    The DuckDB oracle fits its quantizer on the same base subset and
    assigns ALL rows with those centroids — hash-equality proves the
    appended epoch is byte-equivalent to re-encoding the grown corpus,
    i.e. a served index can follow the incremental pipeline between
    rebuilds (reference rebuilds per run: src/data_processors/index/index.py:33-62)."""
    import tempfile

    from mel_spark.operators.ann_index import (
        append_to_ivf_index,
        build_ivf_index,
        ivf_index_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    base = emb.filter(F.pmod(F.col("vec_id"), F.lit(5)) != 0)
    batch = emb.filter(F.pmod(F.col("vec_id"), F.lit(5)) == 0)
    d = tempfile.mkdtemp(prefix="mel_ivf_append_")
    build_ivf_index(
        base, d, n_cells=IVF_CELLS, iterations=IVF_ITERS, seed=42,
        fit="relational", emb_format="f32",
    )
    append_to_ivf_index(batch, d)
    return ivf_index_topk(
        spark, emb.filter(F.col("vec_id") < KNN_MAX_QID), d,
        k=KNN_K, nprobe=IVF_NPROBE,
    )


def q_emb_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label vector stats (exact float min/max — no fp-order ambiguity)."""
    emb = _t(spark, sf_dir, "embeddings")
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min(F.element_at("embedding", 1)).cast("double"), 6).alias("min_d1"),
        F.round(F.max(F.element_at("embedding", 1)).cast("double"), 6).alias("max_d1"),
    )


# ---------------------------------------------------------------------------
# Alias table family (A1/A2/W1/J2) on lineitem
# ---------------------------------------------------------------------------

def q_alias_table_topr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: groupBy(alias=partkey) count per entity(=suppkey), keep top-3 by
    count (ties by entity) — string_alias_tables/all_languages.py:93-115."""
    from mel_spark.operators.alias_table import build_alias_table

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_partkey") < 200)
    at = build_alias_table(li, "l_partkey", "l_suppkey", top_r=3)
    return at.select(
        F.col("alias").cast("long").alias("partkey"),
        F.col("entity").cast("long").alias("suppkey"),
        F.col("cnt").cast("long").alias("cnt"),
        F.col("rank").cast("int").alias("rank"),
    )


def q_alias_probe_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2+J6: probe the alias table with every lineitem of the same key range;
    hit = the row's suppkey is among the top-3 candidates; output hit rate."""
    from mel_spark.operators.alias_table import alias_candidates, build_alias_table, probe_alias_table

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_partkey") < 200)
    at = alias_candidates(build_alias_table(li, "l_partkey", "l_suppkey", top_r=3))
    probed = probe_alias_table(li, at, "l_partkey", "l_suppkey")
    return probed.select(
        F.round(F.avg(F.col("hit").cast("double")), 6).alias("hit_rate"),
        F.count(F.lit(1)).cast("long").alias("n_probes"),
    )


# ---------------------------------------------------------------------------
# TPC-H-style operator coverage (S/P/J/A/W/O/U/F rows of SURVEY §2)
# ---------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-family partial/final aggregation; DECIMAL-exact sums (Q1-like)."""
    li = _t(spark, sf_dir, "lineitem")
    d = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(d("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(d("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(d("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - d("l_discount"))).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_join_topn_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J-family 3-way join + group + exact top-10 (Q3-like).

    Join-then-aggregate deliberately: the aggregate-first rewrite (partial
    revenue sum per orderkey before the join) was MEASURED SLOWER at sf1.0
    (1.38 s → 2.58 s) — the ~1 group per 4 rows cardinality makes the
    map-side combine nearly useless while adding a 1.5M-group hash
    aggregation; the join's own exchange already hash-partitions by orderkey
    so the post-join aggregation reuses it with no extra shuffle."""
    from mel_spark.session import plan_size_bytes

    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")))
    sel = c.join(o, c["c_custkey"] == o["o_custkey"])
    # The static planner estimates the customer⋈orders output as huge (join
    # selectivity unknown), picks sort-merge, and pays the full lineitem
    # exchange — AQE's runtime BHJ conversion comes too late to skip the big
    # side's shuffle WRITE. When parquet statistics bound the build inputs
    # (scan stats are accurate pre-join), hint the broadcast so lineitem is
    # never shuffled; at production scale the gate never fires and the
    # planner keeps sort-merge + AQE skew handling. Results identical —
    # decimal sums are exact and join output is the same row multiset.
    if plan_size_bytes(o) + plan_size_bytes(c) <= 64 << 20:
        sel = F.broadcast(sel)
    return (
        sel.join(li, F.col("o_orderkey") == li["l_orderkey"])
        .groupBy(F.col("o_orderkey").alias("orderkey"))
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("orderkey"))
        .limit(10)
    )


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 known-qid filter as left-semi join (generate_epochs/datasets.py:95-101)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_discount") > 0.05)
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 prohibited-mask as anti join (negative_sampler.py:68-109)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


def q_per_key_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11/W4 per-key cap: top-3 orders per customer (index.py:102-120)."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc(F.col("o_totalprice").cast("decimal(18,2)")), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.round(F.col("o_totalprice").cast("decimal(18,2)").cast("double"), 2).alias("totalprice"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def q_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 ChainStep union (chain.py:5-17): nations seen in customers ∪ suppliers."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.union(s).groupBy("nationkey").agg(F.count(F.lit(1)).alias("n_rows"))


def q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3 set-difference diagnostics (generate.py:37-57)."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey")).distinct()
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey")).distinct()
    return c.exceptAll(s)


def q_redirect_remap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 redirect remap (qids_remap.py:35-55): remap odd nationkeys n→n-1 via a
    broadcast map; count customers per remapped nation."""
    from mel_spark.operators.remap import remap_ids

    c = _t(spark, sf_dir, "customer")
    redirects = spark.createDataFrame(
        [(i, i - 1) for i in range(1, 25, 2)], ["old_entity_id", "new_entity_id"]
    )
    remapped = remap_ids(
        c.select(F.col("c_custkey"), F.col("c_nationkey").cast("long").alias("nation")),
        redirects,
        "nation",
    )
    return remapped.groupBy("nation").agg(F.count(F.lit(1)).alias("n_customers"))


def q_qid_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 'Q123'→123 parse (qid_parsing.py:1-2) on Supplier#000000001 names."""
    s = _t(spark, sf_dir, "supplier")
    return s.select(
        F.col("s_suppkey").alias("suppkey"),
        F.substring(F.col("s_name"), 10, 9).cast("long").alias("parsed_id"),
    ).filter(F.col("parsed_id").isNotNull())


def q_crop_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2 char-window crop with [M] markers (tokenizers/cutting.py:30-53):
    crop 40 chars centered mid-text, wrap the middle 10 in label tokens."""
    docs = _t(spark, sf_dir, "documents")
    start = F.greatest(F.floor(F.length("text") / 2) - 20, F.lit(1)).cast("int")
    crop = F.substring(F.col("text"), start, 40)
    marked = F.concat(
        F.substring(crop, 1, 15), F.lit("[M]"), F.substring(crop, 16, 10), F.lit("[M]"),
        F.substring(crop, 26, 15),
    )
    return docs.select("doc_id", crop.alias("crop"), marked.alias("marked"))


SHUFFLE_SEED = 7


def q_title_desc_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5/F3 coalesce + wrap + prefix-strip projection (damuel.py:119-191).
    Odd doc_ids carry a real title (= their first two tokens, so the
    description's duplicated prefix is stripped); even doc_ids fall back to
    the alt title (no strip) — both branches exercised."""
    docs = _t(spark, sf_dir, "documents")
    t2 = F.concat_ws(" ", F.slice(T.tokens("text"), 1, 2))
    title = F.when(F.pmod("doc_id", F.lit(2)) == 1, t2)
    return docs.select(
        "doc_id",
        T.title_desc_concat(title, F.lit("Doc"), F.col("text"), F.lit(None)).alias("entity_text"),
    )


def q_seeded_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 deterministic seeded permutation (datasets.py:54-55, mixer.py:34-50):
    position of every doc under the md5(key||seed) order."""
    from mel_spark.operators.ordering import shuffle_key

    docs = _t(spark, sf_dir, "documents")
    w = Window.orderBy(shuffle_key(["doc_id"], SHUFFLE_SEED), "doc_id")
    return docs.select("doc_id", F.row_number().over(w).cast("long").alias("shuffled_pos"))


TM_WIDTH = 16


def q_token_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4/F5 token-matrix ops: fixed-width padded token ids + mention-centered
    window crop (tokenizer_wrapper.py:6-15, tokens_cutter.py:59-160). The
    mention span is synthesized deterministically (ms = n/4, len 3); both
    matrices are exploded to scalar rows for the value-hash."""
    docs = _t(spark, sf_dir, "documents")
    staged = (
        docs.select("doc_id", T.token_ids("text").alias("ids"))
        .select("doc_id", "ids", F.floor(F.size("ids") / 4).cast("int").alias("ms"))
        .select(
            "doc_id", "ids", "ms",
            F.least(F.col("ms") + 3, F.size("ids")).cast("int").alias("me"),
        )
    )
    mat = staged.select(
        "doc_id",
        T.pad_tokens(F.col("ids"), TM_WIDTH).alias("pad"),
        T.mention_window(F.col("ids"), F.col("ms"), F.col("me"), TM_WIDTH).alias("win"),
    )
    return mat.select(
        "doc_id", F.posexplode(F.arrays_zip("pad", "win")).alias("pos0", "pw")
    ).select(
        "doc_id",
        (F.col("pos0") + 1).cast("int").alias("pos"),
        F.col("pw.pad").alias("pad_id"),
        F.col("pw.win").alias("win_id"),
    )


def q_hash_bucket_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10/P9 hex-hash mod sharding (gathers.py:13-15): md5-bucket the docs."""
    docs = _t(spark, sf_dir, "documents")
    bucket = F.pmod(F.conv(F.substring(F.md5("text"), 1, 15), 16, 10).cast("long"), F.lit(8))
    return docs.groupBy(bucket.cast("int").alias("bucket")).agg(F.count(F.lit(1)).alias("n_docs"))


# ---------------------------------------------------------------------------
# Text-analysis family over `documents`
# ---------------------------------------------------------------------------

def q_ta_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", T.quality_score("text").alias("quality"))


def q_ta_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.num_tokens("text").alias("n_tokens"),
        F.size(T.shingles("text", SHINGLE_N)).alias("n_shingles"),
        F.size(F.array_distinct(T.tokens("text"))).alias("n_distinct_tokens"),
    )


def q_ta_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token counting (LLM-pipeline op: letter runs / digit
    runs / punctuation marks), alongside the whitespace counts."""
    docs = _t(spark, sf_dir, "documents")
    bp = T.bpe_ish_tokens("text")
    return docs.select(
        "doc_id",
        F.size(bp).alias("n_bpe_tokens"),
        F.size(F.array_distinct(bp)).alias("n_distinct_bpe"),
    )


def q_ta_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-vocabulary language ID; argmax with fixed precedence order."""
    docs = _t(spark, sf_dir, "documents")
    scores = T.langid_scores("text")
    out = docs.select("doc_id", "lang", *scores)
    langs = list(T.LANG_MARKERS.keys())
    best = F.greatest(*[F.col(f"score_{lg}") for lg in langs])
    pred = F.lit("und")
    for lg in reversed(langs):  # earlier langs win ties → build from the back
        pred = F.when((best > 0) & (F.col(f"score_{lg}") == best), F.lit(lg)).otherwise(pred)
    return out.select("doc_id", "lang", pred.alias("pred_lang"))


def q_ta_stopword_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.round(T.stopword_ratio("text", T.LANG_MARKERS["en"]), 6).alias("stop_ratio"),
    )


# Gopher-rule thresholds (word count bounds, mean-word-length band,
# repetition floor); shared between the Spark query and the SQL oracle
GOPHER_MIN_WORDS = 40
GOPHER_MAX_WORDS = 100_000
GOPHER_MWL_LO = 3.0
GOPHER_MWL_HI = 10.0
GOPHER_DISTINCT_FLOOR = 0.2


def q_ta_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality-rule filter (Rae et al. 2021 §A1.1 repetition /
    length heuristics): per doc word count, mean word length, distinct-token
    ratio, and the pass/fail verdict an LLM-data pipeline gates ingestion on."""
    docs = _t(spark, sf_dir, "documents")
    n = F.size(T.tokens("text"))
    mwl = T.mean_word_len("text")
    dtr = T.distinct_token_ratio("text")
    passes = (
        n.between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
        & mwl.between(GOPHER_MWL_LO, GOPHER_MWL_HI)
        & (dtr >= GOPHER_DISTINCT_FLOOR)
    )
    return docs.select(
        "doc_id",
        n.alias("n_words"),
        mwl.alias("mean_word_len"),
        dtr.alias("distinct_ratio"),
        passes.cast("int").alias("passes"),
    )


TFIDF_TOP_K = 3


def q_ta_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k salient terms per document by tf-idf. The idf is the LINEAR
    rational (N+1)/(df+1) rather than its logarithm: log() differs by ULPs
    between JVM Math.log and DuckDB's libm, while integer-valued doubles and
    one IEEE division are bit-identical across engines — determinism is part
    of the operator contract here (same reason all hashing bottoms out in
    md5). Rank ties break on term asc."""
    docs = _t(spark, sf_dir, "documents")
    n_docs = docs.count()  # tiny scalar; the oracle inlines the same constant
    toks = docs.select("doc_id", F.explode(T.tokens("text")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = toks.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    scored = tf.join(df_, "term").withColumn(
        "score",
        F.round(F.col("tf") * F.lit(float(n_docs + 1)) / (F.col("df") + F.lit(1)), 6),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .select("doc_id", "term", "rank", "tf", "df", "score")
    )


def _tfidf_sql(n_docs_expr: str = "(SELECT count(*) FROM documents)") -> str:
    return f"""
        WITH toks AS (
          SELECT doc_id, unnest({O.tokens('text')}) AS term FROM documents
        ),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
        scored AS (
          SELECT tf.doc_id, tf.term, tf.tf, df.df,
                 round(tf.tf * ({n_docs_expr} + 1) * 1.0 / (df.df + 1), 6) AS score
          FROM tf JOIN df USING (term)
        )
        SELECT doc_id, term,
               row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank,
               tf, df, score
        FROM scored
        QUALIFY rank <= {TFIDF_TOP_K}
    """


def _ivf_sql(
    k: int = KNN_K,
    n_cells: int = IVF_CELLS,
    nprobe: int = IVF_NPROBE,
    iterations: int = IVF_ITERS,
    seed: int = 42,
    max_qid: int = KNN_MAX_QID,
    quantized: bool = False,
    reorder: int = IVF_REORDER,
    fit_where: str = "",
) -> str:
    """DuckDB twin of similarity.ivf_topk_relational: md5-seeded medoid init,
    ``iterations`` unrolled Lloyd rounds with DECIMAL-exact per-position
    centroid sums (order-independent ⇒ bit-identical to Spark's decimal
    aggregation), cosine assignment with (cos DESC, cell ASC) ties, nprobe
    probing, optional int8 asymmetric first pass + reorder, exact re-score.

    ``fit_where`` restricts the QUANTIZER FIT (init medoids + Lloyd members)
    to a subset while assignment/probing still cover every row — the oracle
    of the fold-maintained index (ann_index.append_to_ivf_index): build over
    the base, append the rest under frozen centroids."""
    ctes = [
        f"""fitset AS (
          SELECT * FROM embeddings {fit_where}
        )""",
        f"""init AS (
          SELECT vec_id, embedding,
                 row_number() OVER (
                   ORDER BY ('0x' || substr(md5(vec_id::VARCHAR || ':{seed}'), 1, 15))::BIGINT,
                            vec_id) AS rn
          FROM fitset
        )""",
        f"""cents0 AS (
          SELECT (rn - 1)::INT AS cell, list_transform(embedding, x -> x::DOUBLE) AS cent
          FROM init WHERE rn <= {n_cells}
        )""",
    ]
    prev = "cents0"
    for r in range(1, iterations + 1):
        ctes.append(
            f"""mem{r} AS (
              SELECT vec_id, cell FROM (
                SELECT vec_id, cell,
                       row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell ASC) AS rn
                FROM (SELECT e.vec_id, c.cell, {O.cosine('e.embedding', 'c.cent')} AS cos
                      FROM fitset e, {prev} c))
              WHERE rn = 1
            )"""
        )
        ctes.append(
            f"""cents{r} AS (
              SELECT cell, list(s::DOUBLE ORDER BY pos) AS cent FROM (
                SELECT cell, pos, sum(round(val, 7)::DECIMAL(24,7)) AS s FROM (
                  SELECT m.cell, t.i AS pos, e.embedding[t.i]::DOUBLE AS val
                  FROM mem{r} m JOIN embeddings e USING (vec_id),
                       unnest(range(1, len(e.embedding) + 1)) AS t(i))
                GROUP BY 1, 2)
              GROUP BY cell
            )"""
        )
        prev = f"cents{r}"
    ctes.append(
        f"""iasg AS (
          SELECT vec_id AS neighbor_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell ASC) AS rn
            FROM (SELECT e.vec_id, c.cell, {O.cosine('e.embedding', 'c.cent')} AS cos
                  FROM embeddings e, {prev} c))
          WHERE rn = 1
        )""",
    )
    ctes.append(
        f"""probe AS (
          SELECT query_id, cell FROM (
            SELECT query_id, cell,
                   row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cell ASC) AS rn
            FROM (SELECT q.vec_id AS query_id, c.cell, {O.cosine('q.embedding', 'c.cent')} AS cos
                  FROM embeddings q, {prev} c WHERE q.vec_id < {max_qid}))
          WHERE rn <= {nprobe}
        )""",
    )
    ctes.append(
        """cand AS (
          SELECT DISTINCT p.query_id, i.neighbor_id
          FROM probe p JOIN iasg i USING (cell)
          WHERE p.query_id != i.neighbor_id
        )"""
    )
    cand = "cand"
    if quantized:
        ctes.append(
            f"""codes AS (
              SELECT vec_id AS neighbor_id, {O.int8_codes('embedding')} AS code
              FROM embeddings
            )"""
        )
        ctes.append(
            f"""cand_q AS (
              SELECT query_id, neighbor_id FROM (
                SELECT c.query_id, c.neighbor_id,
                       row_number() OVER (PARTITION BY c.query_id
                                          ORDER BY {O.cosine('q.embedding', 'cd.code')} DESC,
                                                   c.neighbor_id ASC) AS rn
                FROM cand c JOIN embeddings q ON c.query_id = q.vec_id
                            JOIN codes cd USING (neighbor_id))
              WHERE rn <= {reorder}
            )"""
        )
        cand = "cand_q"
    ctes.append(
        f"""scored AS (
          SELECT c.query_id, c.neighbor_id, {O.cosine('q.embedding', 'i.embedding')} AS cos
          FROM {cand} c JOIN embeddings q ON c.query_id = q.vec_id
                        JOIN embeddings i ON c.neighbor_id = i.vec_id
        )"""
    )
    return (
        "WITH " + ",\n".join(ctes) + f"""
        SELECT query_id, neighbor_id, cos, rank::INT AS rank FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id ASC) AS rank
          FROM scored)
        WHERE rank <= {k}"""
    )


def q_er_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup ACTION: per near-dup cluster keep one canonical document
    (longest text, tie → min doc_id) and count what gets dropped — delegated
    to the production operator (dedup.survivor_selection) over the clusters
    table; jobs/er_job.py --emit-survivors consumes the same operator."""
    from mel_spark.operators.dedup import survivor_selection

    docs = _t(spark, sf_dir, "documents")
    cl = q_er_clusters(spark, sf_dir)
    return survivor_selection(cl, docs, id_col="doc_id", text_col="text")


SEG_TOKENS = 8
SEG_DUP_K = 2


def q_ld_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style duplicated-passage removal (operators/dedup.segment_dedup):
    fixed 8-token segments, corpus-wide exact counts, segments occurring >= 2
    times dropped; clean_sha identifies the cleaned text."""
    from mel_spark.operators.dedup import segment_dedup

    docs = _t(spark, sf_dir, "documents")
    return segment_dedup(docs, "doc_id", "text", SEG_TOKENS, SEG_DUP_K)


# ---------------------------------------------------------------------------
# Events family (windowed/sessionized batch analytics)
# ---------------------------------------------------------------------------

def q_ev_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour buckets per event_type (batch twin of the streaming
    window op in mel_spark/streaming)."""
    ev = _t(spark, sf_dir, "events")
    bucket = (F.unix_timestamp("ts") / 3600).cast("long")
    return ev.groupBy(bucket.alias("hour_bucket"), "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.min("value").cast("double"), 6).alias("min_value"),
        F.round(F.max("value").cast("double"), 6).alias("max_value"),
    )


def q_ev_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min timeout) via lag + running sum —
    stateful-op analogue expressed as windows."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    sess = F.sum(F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)).over(w)
    per_session = (
        ev.withColumn("session_id", sess)
        .groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.max("n_events").alias("max_session_events"),
    )


def q_ev_capped_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessions that ALSO close after 3 events — the batch twin of the
    applyInPandasWithState custom stateful sessionizer
    (mel_spark/streaming/events.py sessionize_capped_stream; the streaming
    form is equivalence-tested against this in tests/test_streaming.py).
    Session bounds emitted as exact epoch-µs longs (engine-neutral)."""
    from mel_spark.streaming.events import sessionize_capped_batch

    ev = _t(spark, sf_dir, "events")
    s = sessionize_capped_batch(ev, gap_seconds=1800, max_events=3)
    return s.select(
        "user_id",
        F.unix_micros("session_start").alias("session_start_us"),
        F.unix_micros("session_end").alias("session_end_us"),
        "n_events",
        "sum_value",
    )


# ---------------------------------------------------------------------------
# contract surface
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_er_clusters(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "er_minhash_pairs": q_er_minhash_pairs,
        "er_clusters": q_er_clusters,
        "er_incremental": q_er_incremental,
        "er_exact_dedup": q_er_exact_dedup,
        "er_fingerprint_groups": q_er_fingerprint_groups,
        "er_simhash_groups": q_er_simhash_groups,
        "er_blocking_stats": q_er_blocking_stats,
        "knn_top5": q_knn_top5,
        "knn_broadcast": q_knn_broadcast,
        "knn_lsh": q_knn_lsh,
        "knn_ivf": q_knn_ivf,
        "knn_ivf_pq": q_knn_ivf_pq,
        "knn_ivf_index": q_knn_ivf_index,
        "knn_ivf_append": q_knn_ivf_append,
        "emb_near_dup": q_emb_near_dup,
        "emb_near_dup_lsh": q_emb_near_dup_lsh,
        "knn_recall_at_k": q_knn_recall_at_k,
        "emb_label_stats": q_emb_label_stats,
        "emb_centroid": q_emb_centroid,
        "centroid_recall": q_centroid_recall,
        "qid_distribution": q_qid_distribution,
        "lang_argmax": q_lang_argmax,
        "hard_negatives": q_hard_negatives,
        "alias_table_topr": q_alias_table_topr,
        "alias_probe_recall": q_alias_probe_recall,
        "pricing_summary": q_pricing_summary,
        "join_topn_revenue": q_join_topn_revenue,
        "semi_join": q_semi_join,
        "anti_join": q_anti_join,
        "per_key_cap": q_per_key_cap,
        "union_distinct": q_union_distinct,
        "set_except": q_set_except,
        "redirect_remap": q_redirect_remap,
        "qid_parse": q_qid_parse,
        "crop_window": q_crop_window,
        "title_desc_concat": q_title_desc_concat,
        "seeded_shuffle": q_seeded_shuffle,
        "token_matrix": q_token_matrix,
        "hash_bucket_counts": q_hash_bucket_counts,
        "ta_quality": q_ta_quality,
        "ta_token_stats": q_ta_token_stats,
        "ta_bpe_tokens": q_ta_bpe_tokens,
        "ta_langid": q_ta_langid,
        "ta_stopword_ratio": q_ta_stopword_ratio,
        "ta_gopher_rules": q_ta_gopher_rules,
        "ta_tfidf_topterms": q_ta_tfidf_topterms,
        "ld_segment_dedup": q_ld_segment_dedup,
        "er_survivors": q_er_survivors,
        "ev_tumbling_counts": q_ev_tumbling_counts,
        "ev_sessionize": q_ev_sessionize,
        "ev_capped_sessions": q_ev_capped_sessions,
    }


def oracle_sql() -> dict[str, str]:
    sh = O.shingles("text", SHINGLE_N)
    langs = list(T.LANG_MARKERS.keys())
    langid_cases = " ".join(
        f"WHEN best > 0 AND score_{lg} = best THEN '{lg}'" for lg in langs
    )
    langid_scores = ", ".join(
        f"{O.langid_score('text', T.LANG_MARKERS[lg])} AS score_{lg}" for lg in langs
    )
    return {
        "er_minhash_pairs": _MINHASH_PAIRS_SQL_BODY,
        "er_clusters": _ER_CLUSTERS_SQL,
        # incremental fold-in must reproduce the from-scratch answer exactly —
        # the oracle IS the full-run recursive closure
        "er_incremental": _ER_CLUSTERS_SQL,
        "er_exact_dedup": f"""
            SELECT {O.content_sha('text')} AS content_sha, count(*) AS group_size,
                   min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
            FROM documents GROUP BY 1 HAVING count(*) >= 2
        """,
        "er_fingerprint_groups": f"""
            SELECT {O.doc_fingerprint('text')} AS fp, count(*) AS group_size,
                   min(doc_id) AS min_doc_id
            FROM documents GROUP BY 1 HAVING count(*) >= 2
        """,
        "er_simhash_groups": f"""
            SELECT {O.simhash64(sh, SIMHASH_BITS)} AS simhash, count(*) AS group_size,
                   min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
            FROM documents GROUP BY 1 HAVING count(*) >= 2
        """,
        "er_blocking_stats": f"""
            WITH sig0 AS (
              SELECT lang, {O.minhash_signature_from_ints('xs', MH_HASHES)} AS sig
              FROM (SELECT lang, {O.shingle_int_hashes(sh)} AS xs FROM documents)
            ), blocks AS (
              SELECT lang, unnest({O.minhash_band_keys('sig', MH_BANDS, MH_ROWS)}) AS band_key
              FROM sig0
            ), per_block AS (
              SELECT lang, band_key, count(*) AS sz FROM blocks GROUP BY 1, 2
            )
            SELECT lang, count(*) AS n_blocks, max(sz) AS max_block_size,
                   (sum(sz * (sz - 1) / 2))::BIGINT AS pair_fanout
            FROM per_block GROUP BY lang
        """,
        "knn_top5": f"""
            WITH scored AS (
              SELECT q.vec_id AS query_id, i.vec_id AS neighbor_id,
                     {O.cosine('q.embedding', 'i.embedding')} AS cos
              FROM embeddings q JOIN embeddings i ON q.vec_id != i.vec_id
              WHERE q.vec_id < {KNN_MAX_QID}
            ), ranked AS (
              SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
              FROM scored
            )
            SELECT query_id, neighbor_id, cos, rank::INT AS rank FROM ranked WHERE rank <= {KNN_K}
        """,
        "knn_recall_at_k": f"""
            WITH scored AS (
              SELECT q.vec_id AS query_id, q.label AS q_label, i.label AS n_label,
                     {O.cosine('q.embedding', 'i.embedding')} AS cos, i.vec_id AS neighbor_id
              FROM embeddings q JOIN embeddings i ON q.vec_id != i.vec_id
              WHERE q.vec_id < {KNN_MAX_QID}
            ), ranked AS (
              SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
              FROM scored
            ), hits AS (
              SELECT query_id, max(CASE WHEN n_label = q_label THEN 1 ELSE 0 END) AS hit
              FROM ranked WHERE rank <= {KNN_K} GROUP BY query_id
            )
            SELECT round(avg(hit), 6) AS recall_at_k, count(*)::BIGINT AS n_queries FROM hits
        """,
        "knn_broadcast": f"""
            WITH scored AS (
              SELECT q.vec_id AS query_id, i.vec_id AS neighbor_id,
                     {O.cosine('q.embedding', 'i.embedding')} AS cos
              FROM embeddings q JOIN embeddings i ON q.vec_id != i.vec_id
              WHERE q.vec_id < {KNN_MAX_QID}
            ), ranked AS (
              SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
              FROM scored
            )
            SELECT query_id, neighbor_id, rank::INT AS rank FROM ranked WHERE rank <= {KNN_K}
        """,
        "emb_near_dup": f"""
            SELECT a.vec_id AS doc_id_a, b.vec_id AS doc_id_b,
                   {O.cosine('a.embedding', 'b.embedding')} AS cos
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE {O.cosine('a.embedding', 'b.embedding')} >= {EMB_DUP_T}
        """,
        "knn_lsh": f"""
            WITH qb AS (
              SELECT vec_id AS query_id,
                     unnest({O.hyperplane_band_keys('embedding', EMB_DIM, 12, 6, 42)}) AS block_key
              FROM embeddings WHERE vec_id < {KNN_MAX_QID}
            ), ib AS (
              SELECT vec_id AS neighbor_id,
                     unnest({O.hyperplane_band_keys('embedding', EMB_DIM, 12, 6, 42)}) AS block_key
              FROM embeddings
            ), cand AS (
              SELECT DISTINCT query_id, neighbor_id
              FROM qb JOIN ib USING (block_key) WHERE query_id != neighbor_id
            ), scored AS (
              SELECT c.query_id, c.neighbor_id, {O.cosine('q.embedding', 'i.embedding')} AS cos
              FROM cand c JOIN embeddings q ON c.query_id = q.vec_id
                          JOIN embeddings i ON c.neighbor_id = i.vec_id
            ), ranked AS (
              SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
              FROM scored
            )
            SELECT query_id, neighbor_id, cos, rank::INT AS rank FROM ranked WHERE rank <= {KNN_K}
        """,
        "knn_ivf": _ivf_sql(),
        "knn_ivf_pq": _ivf_sql(quantized=True),
        "knn_ivf_index": _ivf_sql(),
        "knn_ivf_append": _ivf_sql(fit_where="WHERE vec_id % 5 != 0"),
        "emb_near_dup_lsh": f"""
            WITH blocks AS (
              SELECT vec_id AS doc_id,
                     unnest({O.hyperplane_band_keys('embedding', EMB_DIM, EMB_LSH_PLANES, EMB_LSH_BANDS, 42)}) AS block_key
              FROM embeddings
            ), cand AS (
              SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
              FROM blocks a JOIN blocks b ON a.block_key = b.block_key AND a.doc_id < b.doc_id
            )
            SELECT c.doc_id_a, c.doc_id_b, {O.cosine('ea.embedding', 'eb.embedding')} AS cos
            FROM cand c JOIN embeddings ea ON c.doc_id_a = ea.vec_id
                        JOIN embeddings eb ON c.doc_id_b = eb.vec_id
            WHERE {O.cosine('ea.embedding', 'eb.embedding')} >= {EMB_LSH_T}
        """,
        "emb_centroid": f"""
            WITH {_CENTROID_CTE}
            SELECT label, n, t.i::INT AS pos, c[t.i] AS c_val
            FROM final, unnest(range(1, len(c) + 1)) AS t(i)
        """,
        "centroid_recall": f"""
            WITH {_CENTROID_CTE},
            q AS (
              SELECT vec_id, embedding, label FROM embeddings WHERE vec_id < {KNN_MAX_QID}
            ), scored AS (
              SELECT q.vec_id AS query_id, q.label AS q_label, f.label AS c_label,
                     {O.cosine('q.embedding', 'f.c')} AS cos
              FROM q, final f
            ), ranked AS (
              SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, c_label ASC) AS rank
              FROM scored
            )
            SELECT round(avg(CASE WHEN c_label = q_label THEN 1.0 ELSE 0.0 END), 6) AS recall_at_1,
                   count(*)::BIGINT AS n_queries
            FROM ranked WHERE rank = 1
        """,
        "qid_distribution": """
            SELECT label, count(*) AS cnt,
                   round(count(*) / sum(count(*)) OVER (), 6) AS freq
            FROM embeddings GROUP BY label
        """,
        "lang_argmax": """
            WITH pc AS (
              SELECT source AS key, lang AS val, count(*) AS cnt FROM documents GROUP BY 1, 2
            ), vs AS (
              SELECT lang AS val, count(*) AS val_size FROM documents GROUP BY 1
            ), r AS (
              SELECT pc.key, pc.val, pc.cnt, vs.val_size,
                     row_number() OVER (PARTITION BY pc.key
                       ORDER BY pc.cnt DESC, vs.val_size DESC, pc.val ASC) AS rank
              FROM pc JOIN vs USING (val)
            )
            SELECT key AS source, val AS lang, cnt, val_size, rank::INT AS rank
            FROM r WHERE rank <= 2
        """,
        "hard_negatives": f"""
            WITH scored AS (
              SELECT q.vec_id AS query_id, i.vec_id AS neighbor_id,
                     {O.cosine('q.embedding', 'i.embedding')} AS cos
              FROM embeddings q JOIN embeddings i ON q.vec_id != i.vec_id
              WHERE q.vec_id < {KNN_MAX_QID}
            ), ranked AS (
              SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
              FROM scored
            ), tagged AS (
              SELECT r.query_id, ql.label AS q_label, r.neighbor_id, nl.label AS n_label, r.rank
              FROM ranked r JOIN embeddings ql ON r.query_id = ql.vec_id
                            JOIN embeddings nl ON r.neighbor_id = nl.vec_id
              WHERE r.rank <= {KNN_K}
            ), best AS (
              SELECT query_id, q_label,
                     min(CASE WHEN n_label = q_label THEN rank END) AS gold_rank,
                     min(CASE WHEN n_label != q_label THEN rank END) AS neg_rank
              FROM tagged GROUP BY 1, 2
            )
            SELECT b.query_id, b.q_label, tg.neighbor_id AS gold_id,
                   b.gold_rank::INT AS gold_rank, tn.neighbor_id AS neg_id,
                   b.neg_rank::INT AS neg_rank
            FROM best b
            JOIN tagged tg ON tg.query_id = b.query_id AND tg.rank = b.gold_rank
            JOIN tagged tn ON tn.query_id = b.query_id AND tn.rank = b.neg_rank
            WHERE b.gold_rank IS NOT NULL AND b.neg_rank IS NOT NULL
        """,
        "emb_label_stats": """
            SELECT label, count(*) AS n,
                   round(min(embedding[1])::DOUBLE, 6) AS min_d1,
                   round(max(embedding[1])::DOUBLE, 6) AS max_d1
            FROM embeddings GROUP BY label
        """,
        "alias_table_topr": """
            WITH counted AS (
              SELECT l_partkey AS partkey, l_suppkey AS suppkey, count(*) AS cnt
              FROM lineitem WHERE l_partkey < 200 GROUP BY 1, 2
            ), ranked AS (
              SELECT *, row_number() OVER (PARTITION BY partkey ORDER BY cnt DESC, suppkey ASC) AS rank
              FROM counted
            )
            SELECT partkey, suppkey, cnt, rank::INT AS rank FROM ranked WHERE rank <= 3
        """,
        "alias_probe_recall": """
            WITH counted AS (
              SELECT l_partkey AS partkey, l_suppkey AS suppkey, count(*) AS cnt
              FROM lineitem WHERE l_partkey < 200 GROUP BY 1, 2
            ), ranked AS (
              SELECT *, row_number() OVER (PARTITION BY partkey ORDER BY cnt DESC, suppkey ASC) AS rank
              FROM counted
            ), cands AS (
              SELECT partkey, list(suppkey ORDER BY rank) AS candidates
              FROM ranked WHERE rank <= 3 GROUP BY partkey
            ), probes AS (
              SELECT CASE WHEN list_contains(c.candidates, li.l_suppkey) THEN 1.0 ELSE 0.0 END AS hit
              FROM lineitem li LEFT JOIN cands c ON li.l_partkey = c.partkey
              WHERE li.l_partkey < 200
            )
            SELECT round(avg(hit), 6) AS hit_rate, count(*)::BIGINT AS n_probes FROM probes
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   (sum(l_quantity::DECIMAL(18,2)))::DOUBLE AS sum_qty,
                   (sum(l_extendedprice::DECIMAL(18,2)))::DOUBLE AS sum_base_price,
                   (sum(l_extendedprice::DECIMAL(18,2) * (1::DECIMAL(18,2) - l_discount::DECIMAL(18,2))))::DOUBLE AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "join_topn_revenue": """
            SELECT o.o_orderkey AS orderkey,
                   (sum(l.l_extendedprice::DECIMAL(18,2) * (1::DECIMAL(18,2) - l.l_discount::DECIMAL(18,2))))::DOUBLE AS revenue
            FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
            JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            WHERE c.c_mktsegment = 'BUILDING'
            GROUP BY 1 ORDER BY revenue DESC, orderkey ASC LIMIT 10
        """,
        "semi_join": """
            SELECT o_orderpriority, count(*) AS n_orders FROM orders
            WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = orders.o_orderkey AND l.l_discount > 0.05)
            GROUP BY o_orderpriority
        """,
        "anti_join": """
            SELECT c_nationkey, count(*) AS n_customers FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = customer.c_custkey)
            GROUP BY c_nationkey
        """,
        "per_key_cap": """
            WITH ranked AS (
              SELECT o_custkey AS custkey, o_orderkey AS orderkey,
                     round(o_totalprice::DECIMAL(18,2)::DOUBLE, 2) AS totalprice,
                     row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice::DECIMAL(18,2) DESC, o_orderkey ASC) AS rank
              FROM orders WHERE o_custkey < 100
            )
            SELECT custkey, orderkey, totalprice, rank::INT AS rank FROM ranked WHERE rank <= 3
        """,
        "union_distinct": """
            SELECT nationkey, count(*) AS n_rows FROM (
              SELECT c_nationkey AS nationkey FROM customer
              UNION ALL SELECT s_nationkey FROM supplier
            ) GROUP BY nationkey
        """,
        "set_except": """
            SELECT nationkey FROM (SELECT DISTINCT c_nationkey AS nationkey FROM customer)
            EXCEPT ALL
            SELECT nationkey FROM (SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
        """,
        "redirect_remap": """
            WITH redirects AS (
              SELECT (2 * g + 1) AS old_id, (2 * g) AS new_id FROM range(0, 12) t(g)
            )
            SELECT coalesce(r.new_id, c.c_nationkey)::BIGINT AS nation, count(*) AS n_customers
            FROM customer c LEFT JOIN redirects r ON c.c_nationkey = r.old_id
            GROUP BY 1
        """,
        "qid_parse": """
            SELECT s_suppkey AS suppkey, substr(s_name, 10, 9)::BIGINT AS parsed_id
            FROM supplier WHERE substr(s_name, 10, 9) IS NOT NULL
        """,
        "crop_window": """
            WITH c AS (
              SELECT doc_id, substr(text, greatest((length(text) // 2) - 20, 1)::INT, 40) AS crop
              FROM documents
            )
            SELECT doc_id, crop,
                   substr(crop, 1, 15) || '[M]' || substr(crop, 16, 10) || '[M]' || substr(crop, 26, 15) AS marked
            FROM c
        """,
        "title_desc_concat": """
            WITH s AS (
              SELECT doc_id, text,
                     CASE WHEN doc_id % 2 = 1
                          THEN array_to_string((string_split(text, ' '))[1:2], ' ')
                          END AS title0
              FROM documents
            ), c AS (
              SELECT doc_id, coalesce(title0, 'Doc') AS t, coalesce(text, '') AS d FROM s
            )
            SELECT doc_id,
                   '[M]' || t || '[M]' || chr(10) ||
                   (CASE WHEN starts_with(trim(d), trim(t))
                         THEN substr(d, length(t) + 1, greatest(length(d) - length(t), 0))
                         ELSE d END) AS entity_text
            FROM c
        """,
        "seeded_shuffle": f"""
            SELECT doc_id,
                   row_number() OVER (
                     ORDER BY md5(doc_id::VARCHAR || chr(31) || '{SHUFFLE_SEED}'), doc_id
                   )::BIGINT AS shuffled_pos
            FROM documents
        """,
        "token_matrix": f"""
            WITH ids0 AS (
              SELECT doc_id, {O.token_ids('text')} AS ids FROM documents
            ), sp AS (
              SELECT doc_id, ids, (len(ids) // 4)::INT AS ms FROM ids0
            ), sp2 AS (
              SELECT doc_id, ids, ms, least(ms + 3, len(ids))::INT AS me FROM sp
            ), mat AS (
              SELECT doc_id, {O.pad_tokens('ids', TM_WIDTH)} AS pad,
                     {O.mention_window('ids', 'ms', 'me', TM_WIDTH)} AS win
              FROM sp2
            )
            SELECT doc_id, t.i::INT AS pos, pad[t.i] AS pad_id, win[t.i] AS win_id
            FROM mat, unnest(range(1, {TM_WIDTH} + 1)) AS t(i)
        """,
        "hash_bucket_counts": """
            SELECT (('0x' || substr(md5(text), 1, 15))::BIGINT % 8)::INT AS bucket, count(*) AS n_docs
            FROM documents GROUP BY 1
        """,
        "ta_quality": f"SELECT doc_id, {O.quality_score('text')} AS quality FROM documents",
        "ta_token_stats": f"""
            SELECT doc_id, {O.num_tokens('text')} AS n_tokens,
                   len({sh}) AS n_shingles,
                   len(list_distinct({O.tokens('text')})) AS n_distinct_tokens
            FROM documents
        """,
        "ta_bpe_tokens": f"""
            SELECT doc_id, len({O.bpe_ish_tokens('text')}) AS n_bpe_tokens,
                   len(list_distinct({O.bpe_ish_tokens('text')})) AS n_distinct_bpe
            FROM documents
        """,
        "ta_langid": f"""
            WITH s AS (SELECT doc_id, lang, {langid_scores},
                       greatest({', '.join(f'score_{lg}' for lg in langs)}) AS best
                       FROM (SELECT doc_id, lang, text, {langid_scores} FROM documents))
            SELECT doc_id, lang, CASE {langid_cases} ELSE 'und' END AS pred_lang FROM s
        """,
        "ta_stopword_ratio": f"""
            SELECT doc_id, round({O.stopword_ratio('text', T.LANG_MARKERS['en'])}, 6) AS stop_ratio
            FROM documents
        """,
        "ta_tfidf_topterms": _tfidf_sql(),
        "er_survivors": f"""
            WITH asg AS ({_ER_CLUSTERS_SQL}),
            j AS (
              SELECT a.doc_id, a.cluster_id, coalesce(length(d.text), -1) AS n_chars,
                     row_number() OVER (PARTITION BY a.cluster_id
                                        ORDER BY coalesce(length(d.text), -1) DESC,
                                                 a.doc_id ASC) AS rn
              FROM asg a JOIN documents d USING (doc_id)
            )
            SELECT cluster_id,
                   min(CASE WHEN rn = 1 THEN doc_id END) AS survivor_doc_id,
                   count(*) AS group_size,
                   count(*) - 1 AS n_dropped
            FROM j GROUP BY 1
        """,
        "ta_gopher_rules": f"""
            SELECT doc_id,
                   len({O.tokens('text')}) AS n_words,
                   {O.mean_word_len('text')} AS mean_word_len,
                   {O.distinct_token_ratio('text')} AS distinct_ratio,
                   (CASE WHEN len({O.tokens('text')}) BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
                          AND {O.mean_word_len('text')} BETWEEN {GOPHER_MWL_LO} AND {GOPHER_MWL_HI}
                          AND {O.distinct_token_ratio('text')} >= {GOPHER_DISTINCT_FLOOR}
                     THEN 1 ELSE 0 END) AS passes
            FROM documents
        """,
        "ld_segment_dedup": f"""
            WITH lists AS (
              SELECT doc_id, {O.doc_segments('text', SEG_TOKENS)} AS segs FROM documents
            ),
            segs AS (
              SELECT doc_id, unnest(segs) AS seg, generate_subscripts(segs, 1) AS pos
              FROM lists
            ),
            cnt AS (SELECT seg, count(*) AS c FROM segs GROUP BY seg)
            SELECT s.doc_id,
                   count(*)::BIGINT AS n_segments,
                   (sum(CASE WHEN c.c >= {SEG_DUP_K} THEN 1 ELSE 0 END))::BIGINT AS n_dup_segments,
                   md5(coalesce(string_agg(CASE WHEN c.c < {SEG_DUP_K} THEN s.seg END,
                                           ' ' ORDER BY s.pos), '')) AS clean_sha
            FROM segs s JOIN cnt c USING (seg)
            GROUP BY s.doc_id
        """,
        "ev_tumbling_counts": """
            SELECT (floor(epoch(ts))::BIGINT // 3600) AS hour_bucket, event_type,
                   count(*) AS n_events,
                   round(min(value)::DOUBLE, 6) AS min_value,
                   round(max(value)::DOUBLE, 6) AS max_value
            FROM events GROUP BY 1, 2
        """,
        "ev_sessionize": """
            WITH g AS (
              SELECT user_id, ts, event_id,
                     epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap
              FROM events
            ), s AS (
              SELECT user_id,
                     sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
              FROM g
            ), per_session AS (
              SELECT user_id, session_id, count(*) AS n_events FROM s GROUP BY 1, 2
            )
            SELECT user_id, count(*)::BIGINT AS n_sessions, max(n_events) AS max_session_events
            FROM per_session GROUP BY user_id
        """,
        "ev_capped_sessions": """
            WITH e AS (
              SELECT user_id, event_id, value, ts, epoch_us(ts) AS us FROM events
            ), g AS (
              SELECT *, CASE WHEN us - lag(us) OVER w IS NULL
                              OR us - lag(us) OVER w > 1800000000
                         THEN 1 ELSE 0 END AS brk
              FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), s AS (
              SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid
              FROM g
            ), c AS (
              SELECT *, ((row_number() OVER (PARTITION BY user_id, gid
                           ORDER BY ts, event_id) - 1) // 3) AS sub
              FROM s
            )
            SELECT user_id, min(us) AS session_start_us, max(us) AS session_end_us,
                   count(*) AS n_events, round(sum(value), 6) AS sum_value
            FROM c GROUP BY user_id, gid, sub
        """,
    }
