"""Scalar function units: string distances, shingles edge cases, remap,
alias tables, evaluation math."""

import math

import pytest
from pyspark.sql import functions as F

from mel_spark.functions import text as T
from mel_spark.functions.strings import _jw, _lev_norm
from mel_spark.operators.alias_table import alias_candidates, build_alias_table, probe_alias_table
from mel_spark.operators.evaluate import pairs_from_clusters, pairwise_prf, recall_at_k
from mel_spark.operators.remap import remap_ids


# ---- pure-python string kernels (golden values) ---------------------------

def test_jaro_winkler_known_values():
    assert _jw("", "") == 1.0
    assert _jw("abc", "abc") == 1.0
    assert _jw("abc", "") == 0.0
    # classic textbook pair
    assert math.isclose(_jw("MARTHA", "MARHTA"), 0.9611, abs_tol=1e-4)
    assert math.isclose(_jw("DWAYNE", "DUANE"), 0.84, abs_tol=1e-2)


def test_levenshtein_norm_known_values():
    assert _lev_norm("kitten", "kitten") == 1.0
    assert math.isclose(_lev_norm("kitten", "sitting"), 1 - 3 / 7, abs_tol=1e-9)
    assert _lev_norm("", "abc") == 0.0


def test_string_udfs_match_kernels(spark):
    df = spark.createDataFrame(
        [("MARTHA", "MARHTA"), ("src/a.py", "src/b.py"), ("", "x")], ["a", "b"]
    )
    from mel_spark.functions.strings import jaro_winkler_udf, levenshtein_norm_udf

    rows = df.select("a", "b", jaro_winkler_udf("a", "b").alias("jw"),
                     levenshtein_norm_udf("a", "b").alias("lev")).collect()
    for r in rows:
        assert math.isclose(r["jw"], _jw(r["a"], r["b"]), abs_tol=1e-12)
        assert math.isclose(r["lev"], _lev_norm(r["a"], r["b"]), abs_tol=1e-12)


# ---- shingles edge cases ----------------------------------------------------

def test_shingles_short_doc(spark):
    from mel_spark.functions import text as T

    df = spark.createDataFrame([("a b",), ("a",), ("a b c d",)], ["text"])
    rows = df.select(T.shingles("text", 3).alias("sh")).collect()
    assert rows[0]["sh"] == ["a b"]
    assert rows[1]["sh"] == ["a"]
    assert rows[2]["sh"] == ["a b c", "b c d"]


# ---- remap (J1: qids_remap semantics) --------------------------------------

def test_remap_identity_when_absent(spark):
    facts = spark.createDataFrame([(1, 10), (2, 11), (3, 12)], ["k", "entity"])
    redirects = spark.createDataFrame([(11, 99)], ["old_entity_id", "new_entity_id"])
    out = {r["k"]: r["entity"] for r in remap_ids(facts, redirects, "entity").collect()}
    assert out == {1: 10, 2: 99, 3: 12}


def test_remap_empty_map(spark):
    """dummy_empty_redirects.json case: empty map is identity."""
    facts = spark.createDataFrame([(1, 10)], ["k", "entity"])
    redirects = spark.createDataFrame([], "old_entity_id long, new_entity_id long")
    out = remap_ids(facts, redirects, "entity").collect()
    assert out[0]["entity"] == 10


# ---- alias table (A1/J2/W1) -------------------------------------------------

def test_alias_table_top_r_and_ties(spark):
    links = spark.createDataFrame(
        [("paris", 1)] * 3 + [("paris", 2)] * 3 + [("paris", 3)] * 1 + [("rome", 7)],
        ["mention", "qid"],
    )
    at = build_alias_table(links, "mention", "qid", top_r=2)
    rows = {(r["alias"], r["rank"]): (r["entity"], r["cnt"]) for r in at.collect()}
    # tie between entities 1 and 2 broken by entity id asc
    assert rows[("paris", 1)] == (1, 3)
    assert rows[("paris", 2)] == (2, 3)
    assert ("paris", 3) not in rows
    assert rows[("rome", 1)] == (7, 1)


def test_alias_probe_hit_and_miss(spark):
    links = spark.createDataFrame([("paris", 1), ("paris", 1), ("paris", 2)], ["mention", "qid"])
    cands = alias_candidates(build_alias_table(links, "mention", "qid", top_r=1))
    queries = spark.createDataFrame(
        [("paris", 1), ("paris", 2), ("tokyo", 1)], ["mention", "gold"]
    )
    out = {(r["mention"], r["gold"]): r["hit"] for r in
           probe_alias_table(queries, cands, "mention", "gold").collect()}
    assert out[("paris", 1)] is True
    assert out[("paris", 2)] is False  # top-1 table only holds entity 1
    assert out[("tokyo", 1)] is False  # unknown alias → miss, not null


# ---- evaluation -------------------------------------------------------------

def test_pairwise_prf_math(spark):
    pred = spark.createDataFrame([("a", "b"), ("a", "c")], ["mention_id_a", "mention_id_b"])
    gold = spark.createDataFrame([("a", "b"), ("b", "d")], ["mention_id_a", "mention_id_b"])
    m = pairwise_prf(pred, gold)
    assert (m["tp"], m["fp"], m["fn"]) == (1, 1, 1)
    assert math.isclose(m["f1"], 0.5)


def test_recall_at_k_unique_candidates(spark):
    """RecallCalculator property: candidate dedup before truncation
    (tests/models/test_recall_calculator.py:100-103 analogue)."""
    df = spark.createDataFrame(
        [(1, [9, 9, 9, 1]), (2, [5, 6, 7, 2]), (3, [3, 8, 8, 8])],
        ["q", "cands"],
    )
    r2 = recall_at_k(df, gold_col="q", cand_col="cands", k=2).first()["recall_at_2"]
    # dedup: [9,1] hits q=1; [5,6] misses q=2; [3,8] hits q=3 → 2/3
    assert math.isclose(r2, round(2 / 3, 6), abs_tol=1e-9)


# ---- fast-path (xxhash) shingle/bucket functions ----------------------------

def test_fast_shingle_hashes_edges(spark):
    from mel_spark.functions import text as T

    df = spark.createDataFrame([("a b c d e",), ("a b",), ("a",)], ["text"])
    staged = df.select("text", T.token_int_hashes("text").alias("th"))
    rows = staged.select(
        "text", T.shingle_hashes_from_token_ints(F.col("th"), 3).alias("sh")
    ).collect()
    by_text = {r["text"]: r["sh"] for r in rows}
    assert len(by_text["a b c d e"]) == 3  # 5 tokens → 3 trigrams
    assert len(by_text["a b"]) == 1        # short doc → one clamped shingle
    assert len(by_text["a"]) == 1
    assert all(v >= 0 for sh in by_text.values() for v in sh)


def test_fast_shingles_deterministic_across_partitioning(spark):
    from mel_spark.functions import text as T

    texts = [(f"tok{i} tok{i+1} tok{i+2} tok{i+3}",) for i in range(50)]
    a = spark.createDataFrame(texts, ["text"])
    b = spark.createDataFrame(texts, ["text"]).repartition(7)

    def run(df):
        staged = df.select("text", T.token_int_hashes("text").alias("th"))
        return {
            r["text"]: (list(r["sh"]), list(r["tb"]))
            for r in staged.select(
                "text",
                T.shingle_hashes_from_token_ints(F.col("th"), 3).alias("sh"),
                F.lit(None).alias("_pad"),
                F.col("th").alias("tb"),
            ).collect()
        }

    assert run(a) == run(b)


def test_embed_buckets_udf_matches_manual(spark):
    """Gather-sum UDF == manual numpy projection sum for the same buckets."""
    import numpy as np

    from mel_spark.functions import vectors as V
    from mel_spark.functions import text as T

    df = spark.createDataFrame([("alpha beta gamma",), ("",)], ["text"])
    staged = df.select("text", T.token_bucket_ids("text").alias("tb"))
    rows = staged.select("text", "tb", V.embed_buckets_udf(16)("tb").alias("emb")).collect()
    proj = V._projection_matrix(16, 4096, 42)
    for r in rows:
        if r["tb"]:
            v = proj[np.array(r["tb"])].sum(axis=0)
            v = v / np.linalg.norm(v)
            assert np.allclose(np.array(r["emb"]), v, atol=1e-6)
        else:
            assert all(x == 0.0 for x in r["emb"])


# ---------------------------------------------------------------------------
# F4/F5 token-matrix ops (tokenizer_wrapper.py:6-15, tokens_cutter.py:59-160)
# ---------------------------------------------------------------------------

def _window(spark, n_tokens, ms, me, width=10):
    """mention_window over token ids 1..n (identity ids for readability)."""
    df = spark.createDataFrame([(list(range(1, n_tokens + 1)), ms, me)], ["ids", "ms", "me"])
    return (
        df.select(T.mention_window(F.col("ids"), F.col("ms"), F.col("me"), width).alias("w"))
        .collect()[0]["w"]
    )


def test_pad_tokens_truncates_and_pads(spark):
    df = spark.createDataFrame([([1, 2, 3],), (list(range(1, 20)),)], ["ids"])
    got = [r["p"] for r in df.select(T.pad_tokens(F.col("ids"), 5).alias("p")).collect()]
    assert got[0] == [1, 2, 3, 0, 0]
    assert got[1] == [1, 2, 3, 4, 5]


def test_token_ids_zero_is_reserved_pad(spark):
    df = spark.createDataFrame([("a b c d e",)], ["text"])
    ids = df.select(T.token_ids("text").alias("i")).collect()[0]["i"]
    assert all(i >= 1 for i in ids)


def test_mention_window_mid_cut(spark):
    # 20 tokens, mention [9, 12), width 10 (usable 8): remains 5 → left 2,
    # right 3 → window tokens 8..15 (ids 8..15), padded to 10
    assert _window(spark, 20, 9, 12) == [8, 9, 10, 11, 12, 13, 14, 15, 0, 0]


def test_mention_window_left_edge_takes_more_right(spark):
    # mention at the very start → window = first `usable` tokens
    assert _window(spark, 20, 0, 3) == [1, 2, 3, 4, 5, 6, 7, 8, 0, 0]


def test_mention_window_right_edge_takes_more_left(spark):
    # mention at the very end → window = last `usable` tokens
    assert _window(spark, 20, 17, 20) == [13, 14, 15, 16, 17, 18, 19, 20, 0, 0]


def test_mention_window_too_large_mention_is_mention_only(spark):
    # mention longer than usable-2 → mention-only, truncated to usable-2
    assert _window(spark, 20, 2, 12) == [3, 4, 5, 6, 7, 8, 9, 10, 0, 0][:6] + [0, 0, 0, 0]


def test_mention_window_short_doc_pads(spark):
    # doc shorter than the window → whole doc, padded
    assert _window(spark, 4, 1, 2) == [1, 2, 3, 4, 0, 0, 0, 0, 0, 0]


def test_featurize_map_matches_catalyst_builders(spark):
    """The fused NumPy featurizer (pipeline hot path) must be BIT-IDENTICAL
    to the Catalyst builders it replaces: same xs set, same band ints, same
    embedding — so blocks/pairs/F1 are unchanged by the rewrite."""
    from mel_spark.functions import vectors as V

    docs = spark.createDataFrame(
        [(1, "def0 class1 import2 def0 class1 return3 self4"),
         (2, "a"),                      # shorter than shingle_n → clamped gram
         (3, "x1 y2"),                  # len 2 < 3
         (4, "merge5 hash6 token7 emb8 score9 merge5 hash6 token7")],
        ["csid", "content"],
    )
    staged = docs.select("csid", T.token_int_hashes("content").alias("_th"))
    # JVM reference: xs + sig→bands + emb
    jvm = staged.select(
        "csid",
        F.array_sort(F.array_distinct(T.shingle_hashes_from_token_ints(F.col("_th"), 3))).alias("xs"),
        T.minhash_band_ints(
            T.minhash_signature_from_ints(
                F.array_sort(F.array_distinct(T.shingle_hashes_from_token_ints(F.col("_th"), 3))), 32
            ),
            16, 2,
        ).alias("bands"),
        V.embed_buckets_udf(64)(
            F.transform(F.col("_th"), lambda x: (x % F.lit(4096)).cast("int"))
        ).alias("emb"),
    ).collect()
    import numpy as np

    for fmt in ("f32", "f16"):
        feat_fn, feat_schema = V.featurize_map(
            dim=64, shingle_n=3, num_hashes=32, bands=16, emb_format=fmt
        )
        got = {r["csid"]: r for r in staged.mapInArrow(feat_fn, feat_schema).collect()}
        assert set(got) == {r["csid"] for r in jvm}
        for r in jvm:
            g = got[r["csid"]]
            assert list(g["xs"]) == list(r["xs"]), f"xs mismatch csid={r['csid']} {fmt}"
            assert list(g["bands"]) == list(r["bands"]), f"bands mismatch csid={r['csid']} {fmt}"
            # f16 storage rounds to a 10-bit mantissa (|v| <= 1: error < 2^-11)
            emb, atol = (
                (np.frombuffer(g["emb"], dtype="<f2"), 2.0 ** -11)
                if fmt == "f16" else (np.array(g["emb"]), 1e-6)
            )
            assert np.allclose(emb, np.array(r["emb"]), atol=atol), (fmt, r["csid"])


def test_featurize_map_arrow_rejects_null_and_empty(spark):
    """A caller that bypasses ingest's canonicalization gets the contract
    named in the error: NULL or zero-length token arrays are named errors,
    not IndexErrors in the kernel."""
    import pyarrow as pa
    import pytest

    from mel_spark.functions import vectors as V

    fn, _ = V.featurize_map()
    rb = pa.RecordBatch.from_arrays(
        [
            pa.array([1, 2], pa.int64()),
            pa.array([[5, 7, 9], []], pa.list_(pa.int64())),
        ],
        names=["csid", "_th"],
    )
    with pytest.raises(ValueError, match="NULL/zero-length token array"):
        list(fn(iter([rb])))
    rb_null = pa.RecordBatch.from_arrays(
        [
            pa.array([1, 2], pa.int64()),
            pa.array([[5, 7, 9], None], pa.list_(pa.int64())),
        ],
        names=["csid", "_th"],
    )
    with pytest.raises(ValueError, match="canonicalize NULL content"):
        list(fn(iter([rb_null])))
    # empty batch → empty typed batch, not a crash
    empty = pa.RecordBatch.from_arrays(
        [pa.array([], pa.int64()), pa.array([], pa.list_(pa.int64()))],
        names=["csid", "_th"],
    )
    out = list(fn(iter([empty])))
    assert len(out) == 1 and out[0].num_rows == 0


def test_featurize_kernel_chunking_matches_per_doc_reference():
    """The doc-chunked embedding gather and minhash loops (bandwidth
    optimization, chunk sizes 512/2048) must be bit-identical to a naive
    per-document computation — exercised with >2048 docs of varied lengths
    so multiple chunk boundaries are crossed."""
    import numpy as np
    import pyarrow as pa

    from mel_spark.functions import vectors as V
    from mel_spark.functions.text import MINHASH_P, _minhash_params

    rng = np.random.default_rng(7)
    D, dim, vocab, n_hashes, bands, shingle_n = 3000, 16, 4096, 32, 16, 3
    lens = rng.integers(1, 12, D)
    toks = [rng.integers(0, 1 << 30, int(n)).tolist() for n in lens]

    fn, _ = V.featurize_map(
        dim=dim, vocab_buckets=vocab, shingle_n=shingle_n,
        num_hashes=n_hashes, bands=bands,
    )
    rb = pa.RecordBatch.from_arrays(
        [pa.array(np.arange(D), pa.int64()), pa.array(toks, pa.list_(pa.int64()))],
        names=["csid", "_th"],
    )
    out = list(fn(iter([rb])))[0]
    got_emb = V.emb_matrix_arrow(out.column("emb"))
    got_xs = out.column("xs").to_pylist()
    got_bands = out.column("bands").to_pylist()

    proj = V._projection_matrix(dim, vocab, 42)
    sh_coefs = np.array([1000003, 9176, 523717, 31, 65599][:shingle_n], np.int64)
    band_coefs = np.array([1000003, 9176, 523717, 31][: n_hashes // bands], np.int64)
    params = np.array(_minhash_params(n_hashes, 42), np.int64)
    P = np.int64(MINHASH_P)
    for d in rng.choice(D, 300, replace=False):
        t = np.asarray(toks[int(d)], np.int64)
        # embedding: per-doc gather+sum, L2-normed
        v = proj[t & np.int64(vocab - 1)].sum(axis=0)
        v = (v / (np.linalg.norm(v) or 1.0)).astype(np.float32)
        assert np.allclose(got_emb[d], v.astype(np.float64), atol=2e-3), d
        # shingles: per-doc convolution (or clamped gram for short docs)
        if len(t) >= shingle_n:
            sh = np.array(
                [(t[i : i + shingle_n] * sh_coefs).sum() % P
                 for i in range(len(t) - shingle_n + 1)], np.int64,
            )
        else:
            idx = np.minimum(np.arange(shingle_n), len(t) - 1)
            sh = np.array([(t[idx] * sh_coefs).sum() % P], np.int64)
        xs_ref = np.unique(sh)
        assert list(got_xs[d]) == xs_ref.tolist(), d
        # minhash sig + band keys
        sig = np.array(
            [((params[h, 0] * xs_ref + params[h, 1]) % P).min()
             for h in range(n_hashes)], np.int64,
        )
        rpb = n_hashes // bands
        bk = [
            (int((band_coefs * sig[b * rpb : (b + 1) * rpb]).sum())
             + b * 1_000_000_007) % (int(P) * 4)
            for b in range(bands)
        ]
        assert list(got_bands[d]) == bk, d

