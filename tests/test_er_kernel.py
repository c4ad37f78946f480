"""Parity of the mapInArrow ER-feature kernel (text.doc_features_map) with
the legacy Catalyst expression chain it replaced — same xs (sorted distinct
md5-derived shingle ints) and the same band equality classes (binary keys are
a bijection of the 'b{i}:<hex>' strings). Also pins the plan-cache property
the bench relies on: two independent builds of the kernel DataFrame are
CacheManager-substitutable (the second reads the first's InMemoryRelation)."""

import numpy as np
import pyarrow as pa
import pytest

from mel_spark.functions import text as T

SHINGLE_N = 3
MH_HASHES = 32
MH_BANDS = 16
MH_ROWS = MH_HASHES // MH_BANDS


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),
        (3, "x"),                       # shorter than the shingle width
        (4, ""),                        # empty text → one '' token
        (5, "a  b"),                    # double space → empty token kept
        (6, "trailing space "),
    ] + [(100 + i, f"w{i} w{i+1} w{i+2} w{i+3} common tail tokens here") for i in range(40)]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _legacy(docs):
    staged = (
        docs.selectExpr("doc_id", f"{T.shingles_sql('text', SHINGLE_N)} AS sh")
        .selectExpr("doc_id", f"{T.shingle_int_hashes_sql('sh')} AS xs")
        .selectExpr(
            "doc_id",
            "array_sort(array_distinct(xs)) AS xs",
            f"{T.minhash_signature_from_ints_sql('xs', MH_HASHES)} AS sig",
        )
        .selectExpr(
            "doc_id",
            "xs",
            f"{T.minhash_band_keys_sql('sig', MH_BANDS, MH_ROWS)} AS bands",
        )
    )
    return staged


def _assert_matches_legacy(got, want):
    assert set(got) == set(want)
    for did, w in want.items():
        g = got[did]
        assert [int(x) for x in g["xs"]] == [int(x) for x in w["xs"]], did
        # binary key = index byte + digest bytes ↔ 'b{i}:' + hexdigest
        rebuilt = [f"b{b[0]}:{b[1:].hex()}" for b in g["bands"]]
        assert rebuilt == list(w["bands"]), did


def test_kernel_matches_catalyst_chain(spark, docs):
    fn, schema = T.doc_features_map(SHINGLE_N, MH_HASHES, MH_BANDS)
    got = {
        r["doc_id"]: r
        for r in docs.select("doc_id", "text").mapInArrow(fn, schema).collect()
    }
    _assert_matches_legacy(got, {r["doc_id"]: r for r in _legacy(docs).collect()})

    # one Arrow batch of > 2048 docs of varied length, fed straight to the
    # kernel, crosses the signature primitive's chunk boundaries; an empty
    # batch yields an empty batch
    rng = np.random.default_rng(11)
    vocab = [f"v{i}" for i in range(30)]
    rows = [(i, " ".join(rng.choice(vocab, int(rng.integers(1, 100)))))
            for i in range(2500)]
    rb = pa.RecordBatch.from_arrays(
        [pa.array([r[0] for r in rows], pa.int64()),
         pa.array([r[1] for r in rows], pa.string())],
        names=["doc_id", "text"],
    )
    out = list(fn(iter([rb, rb.slice(0, 0)])))
    assert [b.num_rows for b in out] == [len(rows), 0]
    got = {r["doc_id"]: r for r in out[0].to_pylist()}
    big = spark.createDataFrame(rows, ["doc_id", "text"])
    _assert_matches_legacy(got, {r["doc_id"]: r for r in _legacy(big).collect()})


def test_kernel_plans_are_cache_substitutable(spark, docs):
    fn, schema = T.doc_features_map(SHINGLE_N, MH_HASHES, MH_BANDS)
    a = docs.select("doc_id", "text").mapInArrow(fn, schema).persist()
    a.count()
    try:
        b = docs.select("doc_id", "text").mapInArrow(fn, schema)
        plan = b._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan
    finally:
        a.unpersist()
