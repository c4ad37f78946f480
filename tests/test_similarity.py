"""Similarity-search operators: searcher equivalence (the reference's test,
tests/finetunings/evaluation/test_find_recall.py:25-66 — brute force vs ANN on
random matrices) re-expressed for our three regimes."""

import pytest
from pyspark.sql import functions as F

from mel_spark.operators.similarity import broadcast_knn, brute_force_topk, lsh_topk


@pytest.fixture(scope="module")
def emb_df(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_broadcast_knn_matches_brute_force(spark, emb_df):
    """The mapInArrow broadcast searcher must return exactly the DataFrame
    brute-force ranking (same ids, same order) — also over an index that
    holds every id twice, where exclude_self masks both copies."""
    queries = emb_df.filter(F.col("vec_id") < 20)
    for index in (emb_df, emb_df.unionByName(emb_df)):
        bf = brute_force_topk(queries, index, k=5)
        bf_map = {
            r["query_id"]: r["neighbor_ids"]
            for r in bf.groupBy("query_id")
            .agg(F.array_sort(F.collect_list(F.struct("rank", "neighbor_id"))).alias("rc"))
            .select("query_id", F.transform("rc", lambda s: s.getField("neighbor_id")).alias("neighbor_ids"))
            .collect()
        }
        bc = {r["query_id"]: r["neighbor_ids"] for r in broadcast_knn(queries, index, k=5).collect()}
        assert bf_map.keys() == bc.keys()
        mismatches = {q: (bf_map[q], bc[q]) for q in bf_map if list(bf_map[q]) != list(bc[q])}
        assert not mismatches, mismatches


def test_broadcast_knn_guards_index_size(spark, emb_df):
    """The fits-in-memory judgement is an explicit count guard, not an OOM."""
    with pytest.raises(ValueError, match="max_index_rows"):
        broadcast_knn(emb_df.limit(5), emb_df, k=3, max_index_rows=10)


def test_lsh_topk_subset_of_brute_force(spark, emb_df):
    """LSH results are approximate but every (query, neighbor, cos) it emits
    must agree with the exact scorer, and rank-1 recall should be decent."""
    queries = emb_df.filter(F.col("vec_id") < 50)
    bf = brute_force_topk(queries, emb_df, k=1).select("query_id", F.col("neighbor_id").alias("bf_top1"))
    lsh = lsh_topk(queries, emb_df, k=1, n_planes=8, bands=8)  # 8 bands × 1 row
    joined = bf.join(lsh.select("query_id", F.col("neighbor_id").alias("lsh_top1")), "query_id")
    n = joined.count()
    hits = joined.filter(F.col("bf_top1") == F.col("lsh_top1")).count()
    assert n > 0
    assert hits / n >= 0.5, f"rank-1 LSH recall {hits}/{n}"


def test_brute_force_excludes_self_and_is_ranked(emb_df):
    out = brute_force_topk(emb_df.filter(F.col("vec_id") < 5), emb_df, k=3).collect()
    for r in out:
        assert r["query_id"] != r["neighbor_id"]
        assert 1 <= r["rank"] <= 3


def test_ivf_topk_recall_and_consistency(spark, emb_df):
    """IVF results must agree with the exact scorer on every emitted
    (query, neighbor) and reach decent rank-1 recall with generous nprobe."""
    from mel_spark.operators.similarity import ivf_topk

    queries = emb_df.filter(F.col("vec_id") < 30)
    bf = brute_force_topk(queries, emb_df, k=1).select(
        "query_id", F.col("neighbor_id").alias("bf_top1"), F.col("cos").alias("bf_cos")
    )
    ivf = ivf_topk(queries, emb_df, k=1, n_cells=8, nprobe=6)
    joined = bf.join(ivf.select("query_id", F.col("neighbor_id").alias("ivf_top1"), "cos"), "query_id")
    n = joined.count()
    assert n > 0
    hits = joined.filter(F.col("bf_top1") == F.col("ivf_top1"))
    # where IVF found the true top-1, the cosine must be identical
    assert hits.filter(F.col("cos") != F.col("bf_cos")).count() == 0
    assert hits.count() / n >= 0.5, f"rank-1 IVF recall {hits.count()}/{n}"


def test_ivf_centroids_deterministic(spark, emb_df):
    from mel_spark.operators.similarity import train_ivf_centroids
    import numpy as np

    c1 = train_ivf_centroids(emb_df, 8, iterations=2)
    c2 = train_ivf_centroids(emb_df.repartition(7), 8, iterations=2)
    assert np.array_equal(c1, c2)


def test_broadcast_knn_index_path_matches_default(spark, sf_dir, emb_df):
    """An explicit index_path and the default for an index DataFrame
    (spill to scratch + executor-side load; zero driver gather) must be
    byte-identical: canonical id-sorted index + exact boundary-tie ranking
    make the output independent of where the index was loaded from."""
    queries = emb_df.filter(F.col("vec_id") < 20)
    auto_spill = {
        r["query_id"]: list(r["neighbor_ids"])
        for r in broadcast_knn(queries, emb_df, k=5).collect()
    }
    via_path = {
        r["query_id"]: list(r["neighbor_ids"])
        for r in broadcast_knn(
            queries, emb_df, k=5, index_path=f"{sf_dir}/embeddings.parquet"
        ).collect()
    }
    assert auto_spill == via_path


def test_broadcast_knn_empty_index_returns_no_rows(spark, emb_df):
    """An empty index yields no neighbors, as brute_force_topk does — not a
    worker-side crash."""
    queries = emb_df.filter(F.col("vec_id") < 1)
    empty = emb_df.filter(F.lit(False))
    assert brute_force_topk(queries, empty, k=3).count() == 0
    assert broadcast_knn(queries, empty, k=3).collect() == []


def test_knn_scratch_path_is_per_application(spark, emb_df):
    """The spill dir of one index plan is stable within an application and
    differs across applications; without spark.mel.scratchDir it sits in a
    private (mode 0700) per-process dir."""
    import os
    import stat

    from mel_spark.operators.similarity import _knn_scratch_path

    index = emb_df.select("vec_id", "embedding")
    same_plan = emb_df.select("vec_id", "embedding")
    p1 = _knn_scratch_path(index, "app-1")
    assert p1 == _knn_scratch_path(same_plan, "app-1")
    assert p1 != _knn_scratch_path(index, "app-2")
    assert stat.S_IMODE(os.stat(os.path.dirname(p1)).st_mode) == 0o700


def test_ivf_quantized_reorder_matches_unquantized(spark, emb_df):
    """With a reorder budget comfortably above k, the int8 first pass must
    not change the final top-k: the exact re-score runs on the survivors and
    the true top-k survive a generous reorder cut. (Code payload is dim int8
    bytes — exactly 1/4 of the dim×fp32 vector the join would otherwise
    ship.)"""
    from mel_spark.operators.similarity import ivf_topk

    queries = emb_df.filter(F.col("vec_id") < 15)
    plain = ivf_topk(queries, emb_df, k=3, n_cells=8, nprobe=6)
    quant = ivf_topk(
        queries, emb_df, k=3, n_cells=8, nprobe=6, quantized=True, reorder=200
    )
    p = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in plain.collect()}
    q = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in quant.collect()}
    assert p == q


def test_ivf_quantized_tight_reorder_recall(spark, emb_df):
    """Even with a TIGHT reorder budget (the regime where the approx pass
    actually prunes), int8-cosine ranking keeps recall@1 high vs brute
    force — the acceptance shape of the asymmetric-hashing pass."""
    from mel_spark.operators.similarity import ivf_topk

    queries = emb_df.filter(F.col("vec_id") < 30)
    bf = brute_force_topk(queries, emb_df, k=1).select(
        "query_id", F.col("neighbor_id").alias("bf_top1")
    )
    quant = ivf_topk(
        queries, emb_df, k=1, n_cells=8, nprobe=6, quantized=True, reorder=10
    ).select("query_id", F.col("neighbor_id").alias("q_top1"))
    joined = bf.join(quant, "query_id")
    n = joined.count()
    hits = joined.filter(F.col("bf_top1") == F.col("q_top1")).count()
    assert n > 0 and hits / n >= 0.85, (hits, n)


def test_ivf_relational_subset_of_brute_force(spark, emb_df):
    """The oracle-matchable relational IVF: every (query, neighbor, cos) it
    returns carries the exact brute-force cosine (approximation affects WHICH
    neighbors surface, never their scores)."""
    from mel_spark.operators.similarity import ivf_topk_relational

    queries = emb_df.filter(F.col("vec_id") < 15)
    bf = {
        (r["query_id"], r["neighbor_id"]): r["cos"]
        for r in brute_force_topk(queries, emb_df, k=50).collect()
    }
    rel = ivf_topk_relational(
        queries, emb_df, k=3, n_cells=8, nprobe=6, iterations=2
    ).collect()
    assert len(rel) > 0
    for r in rel:
        key = (r["query_id"], r["neighbor_id"])
        if key in bf:
            assert bf[key] == r["cos"], (key, bf[key], r["cos"])


def test_index_path_cache_invalidated_on_rewrite(spark, tmp_path):
    """ADVICE r4: with spark.python.worker.reuse, the per-worker index cache
    must not serve stale vectors after the parquet at index_path is REWRITTEN
    in place (e.g. an embed checkpoint recomputed under a new config) — the
    cache key carries a content fingerprint of the data files."""
    import numpy as np
    import pandas as pd

    from mel_spark.operators.similarity import broadcast_knn

    path = str(tmp_path / "idx")
    d = 8

    def write_index(closest_id):
        # vec 0 is the query; `closest_id` gets an identical vector, the
        # other a far one
        base = np.zeros(d, dtype=np.float32)
        base[0] = 1.0
        far = np.zeros(d, dtype=np.float32)
        far[1] = 1.0
        rows = [(0, [float(x) for x in base])]
        for vid in (1, 2):
            v = base if vid == closest_id else far
            rows.append((vid, [float(x) for x in v]))
        spark.createDataFrame(rows, ["vec_id", "embedding"]).coalesce(1).write.mode(
            "overwrite"
        ).parquet(path)

    q = spark.createDataFrame(
        [(0, [1.0] + [0.0] * (d - 1))], ["vec_id", "embedding"]
    )
    write_index(1)
    r1 = broadcast_knn(q, None, k=1, index_path=path).collect()[0]["neighbor_ids"]
    assert r1 == [1]
    write_index(2)  # same path, new content
    r2 = broadcast_knn(q, None, k=1, index_path=path).collect()[0]["neighbor_ids"]
    assert r2 == [2], "stale index served after in-place rewrite"


def test_index_path_reads_fp16_packed_checkpoint(spark, tmp_path):
    """index_path over a fp16-packed binary emb column (the embed
    checkpoint's default storage) must match the array<float> form."""
    import numpy as np

    from mel_spark.operators.similarity import broadcast_knn

    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((40, 16)).astype(np.float16).astype(np.float32)
    rows_arr = [(i, [float(x) for x in vecs[i]]) for i in range(40)]
    rows_bin = [(i, bytearray(vecs[i].astype("<f2").tobytes())) for i in range(40)]
    p_arr, p_bin = str(tmp_path / "arr"), str(tmp_path / "bin")
    spark.createDataFrame(rows_arr, ["vec_id", "embedding"]).write.parquet(p_arr)
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    spark.createDataFrame(
        rows_bin,
        StructType([StructField("vec_id", LongType()), StructField("embedding", BinaryType())]),
    ).write.parquet(p_bin)
    q = spark.createDataFrame(rows_arr[:5], ["vec_id", "embedding"])
    got_a = sorted(
        (r["query_id"], tuple(r["neighbor_ids"]))
        for r in broadcast_knn(q, None, k=3, index_path=p_arr).collect()
    )
    got_b = sorted(
        (r["query_id"], tuple(r["neighbor_ids"]))
        for r in broadcast_knn(q, None, k=3, index_path=p_bin).collect()
    )
    assert got_a == got_b


def test_ivf_fitted_matches_relational_with_aligned_init(spark, emb_df):
    """VERDICT r4 #7: the production fitted IVF (numpy Lloyd, broadcast
    centroid matrix) and the oracle-matched relational twin implement the
    SAME quantizer — injecting the twin's md5-seeded medoid init into the
    fitted path must yield identical probe/re-score output end to end
    (same cells up to float noise ⇒ same candidates ⇒ same exact re-score)."""
    from mel_spark.operators.similarity import ivf_topk, ivf_topk_relational

    kw = dict(k=5, n_cells=8, nprobe=3, iterations=2, seed=42)
    fitted = ivf_topk(emb_df, emb_df, init_hash="md5", **kw)
    twin = ivf_topk_relational(emb_df, emb_df, **kw)
    a = {tuple(r) for r in fitted.select("query_id", "neighbor_id", "cos", "rank").collect()}
    b = {tuple(r) for r in twin.select("query_id", "neighbor_id", "cos", "rank").collect()}
    assert a == b


def test_searchers_accept_f16_binary_emb_dataframes(spark, tmp_path):
    """The embed checkpoint's DEFAULT storage is fp16-packed binary; every
    searcher entry point (not just the index_path loader) must accept such a
    DataFrame and return exactly what it returns for the decoded array form
    (vectors are f16-representable, so decode is lossless here)."""
    import numpy as np
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    from mel_spark.operators.ann_index import build_ivf_index, ivf_index_topk
    from mel_spark.operators.similarity import (
        broadcast_knn, brute_force_topk, ivf_topk, lsh_topk,
    )

    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((40, 16)).astype(np.float16).astype(np.float32)
    arr_df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        ["vec_id", "embedding"],
    )
    bin_df = spark.createDataFrame(
        [(i, bytearray(vecs[i].astype("<f2").tobytes())) for i in range(40)],
        StructType([StructField("vec_id", LongType()),
                    StructField("embedding", BinaryType())]),
    )
    qa, qb = arr_df.filter(F.col("vec_id") < 6), bin_df.filter(F.col("vec_id") < 6)

    def rows(df, cols):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    pair_cols = ["query_id", "neighbor_id", "cos", "rank"]
    assert rows(brute_force_topk(qb, bin_df, k=3), pair_cols) == rows(
        brute_force_topk(qa, arr_df, k=3), pair_cols
    )
    knn_cols = ["query_id", "neighbor_ids"]
    got_bin = sorted((r["query_id"], tuple(r["neighbor_ids"]))
                     for r in broadcast_knn(qb, bin_df, k=3).collect())
    got_arr = sorted((r["query_id"], tuple(r["neighbor_ids"]))
                     for r in broadcast_knn(qa, arr_df, k=3).collect())
    assert got_bin == got_arr
    assert rows(lsh_topk(qb, bin_df, k=3, dim=16, n_planes=8, bands=4), pair_cols) == rows(
        lsh_topk(qa, arr_df, k=3, dim=16, n_planes=8, bands=4), pair_cols
    )
    kw = dict(k=3, n_cells=4, nprobe=2, iterations=2, seed=42)
    assert rows(ivf_topk(qb, bin_df, **kw), pair_cols) == rows(
        ivf_topk(qa, arr_df, **kw), pair_cols
    )
    # persisted index: binary queries decode to the same vectors
    p = str(tmp_path / "ivf")
    build_ivf_index(bin_df, p, n_cells=4, iterations=2, seed=42, fit="numpy")
    for quantized in (False, True):
        assert rows(
            ivf_index_topk(spark, qb, p, k=3, nprobe=2, quantized=quantized), pair_cols
        ) == rows(
            ivf_index_topk(spark, qa, p, k=3, nprobe=2, quantized=quantized), pair_cols
        )


def _exact_rows(df):
    return sorted(tuple(r) for r in df.select("query_id", "neighbor_id", "cos", "rank").collect())


@pytest.mark.parametrize(
    "searcher",
    ["ivf", "ivf_quantized", "ivf_relational", "ivf_relational_quantized",
     "index_numpy", "index_relational"],
)
def test_every_cell_probed_equals_brute_force(spark, emb_df, tmp_path, searcher):
    """The IVF searchers end in brute force's exact tail: with every cell
    probed (and, quantized, a reorder no smaller than the index) each one
    returns exactly brute_force_topk's (query_id, neighbor_id, cos, rank)
    rows — candidates, cosine, tiebreak and rank all shared."""
    from mel_spark.operators.ann_index import build_ivf_index, ivf_index_topk
    from mel_spark.operators.similarity import ivf_topk, ivf_topk_relational

    queries = emb_df.filter(F.col("vec_id") < 10)
    cells, k = 4, 5
    kw = dict(k=k, n_cells=cells, nprobe=cells, iterations=2, seed=42)
    n = emb_df.count()
    if searcher.startswith("index_"):
        p = str(tmp_path / "ivf")
        fit = searcher.removeprefix("index_")
        build_ivf_index(emb_df, p, n_cells=cells, iterations=2, fit=fit, emb_format="f32")
        got = ivf_index_topk(spark, queries, p, k=k, nprobe=cells)
    else:
        topk = ivf_topk_relational if "relational" in searcher else ivf_topk
        if searcher.endswith("quantized"):
            kw.update(quantized=True, reorder=n)
        got = topk(queries, emb_df, **kw)
    assert _exact_rows(got) == _exact_rows(brute_force_topk(queries, emb_df, k=k))


def test_retrieval_leaves_no_cached_plan(spark, emb_df, tmp_path):
    """Relational IVF, the persisted index (both fits) and the near-dup LSH
    path each compute a reused intermediate once, yet leave nothing in the
    CacheManager: a persist() outlives its DataFrame there, a lazy local
    checkpoint is reclaimed with it."""
    from mel_spark.operators.ann_index import build_ivf_index, ivf_index_topk
    from mel_spark.operators.dedup import embedding_near_dup_pairs
    from mel_spark.operators.similarity import ivf_topk_relational

    spark.catalog.clearCache()
    queries = emb_df.filter(F.col("vec_id") < 10)
    ivf_topk_relational(queries, emb_df, k=3, n_cells=4, nprobe=2).collect()
    for fit in ("numpy", "relational"):
        p = str(tmp_path / fit)
        build_ivf_index(emb_df, p, n_cells=4, iterations=2, fit=fit)
        ivf_index_topk(spark, queries, p, k=3, nprobe=2).collect()
    embedding_near_dup_pairs(
        emb_df, "vec_id", "embedding", threshold=0.3, dim=64, n_planes=8, bands=4
    ).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
