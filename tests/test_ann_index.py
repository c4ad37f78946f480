"""Persisted IVF index (operators/ann_index.py): build-once/probe-many parity
with the in-flight IVF paths, partition-pruned probing, load-cap semantics,
and commit-marker durability.

Reference behaviors mirrored: Index.from_dir build→serve split + max_per_qid
cap (src/data_processors/index/index.py:16-58), ScaNN leaves_to_search probing
(src/finetunings/evaluation/find_recall.py:28-37)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from mel_spark.operators.ann_index import (
    build_ivf_index,
    ivf_index_topk,
    read_index_meta,
)

K = 5
CELLS = 8
NPROBE = 3
ITERS = 2


@pytest.fixture(scope="module")
def emb_df(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


@pytest.fixture(scope="module")
def queries(emb_df):
    return emb_df.filter(F.col("vec_id") < 50)


def _rows(df):
    return sorted(
        (r["query_id"], r["neighbor_id"], r["cos"], r["rank"])
        for r in df.collect()
    )


def test_relational_index_matches_inflight_twin(spark, emb_df, queries, tmp_path):
    """fit=relational + probe=catalyst + f32 storage must be bit-identical to
    ivf_topk_relational with the same params — the persisted index changes
    WHERE the lists live, not a single score or rank."""
    from mel_spark.operators.similarity import ivf_topk_relational

    p = str(tmp_path / "ivf_rel")
    meta = build_ivf_index(
        emb_df, p, n_cells=CELLS, iterations=ITERS, seed=42,
        fit="relational", emb_format="f32",
    )
    assert meta["rows"] == emb_df.count()
    got = ivf_index_topk(spark, queries, p, k=K, nprobe=NPROBE)
    want = ivf_topk_relational(
        queries, emb_df, k=K, n_cells=CELLS, nprobe=NPROBE, iterations=ITERS, seed=42,
    )
    assert _rows(got) == _rows(want)


def test_numpy_index_matches_inflight_fitted(spark, emb_df, queries, tmp_path):
    """fit=numpy + probe=numpy + f32 storage reproduces ivf_topk exactly:
    same train_ivf_centroids fit, same matmul probe, same Catalyst re-score."""
    from mel_spark.operators.similarity import ivf_topk

    p = str(tmp_path / "ivf_np")
    build_ivf_index(
        emb_df, p, n_cells=CELLS, iterations=ITERS, seed=42,
        fit="numpy", emb_format="f32",
    )
    got = ivf_index_topk(spark, queries, p, k=K, nprobe=NPROBE)
    want = ivf_topk(
        queries, emb_df, k=K, n_cells=CELLS, nprobe=NPROBE, iterations=ITERS, seed=42,
    )
    assert _rows(got) == _rows(want)


def test_quantized_probe_over_stored_codes(spark, emb_df, queries, tmp_path):
    """The asymmetric-hashing first pass over STORED codes with a reorder
    wide enough to keep every candidate must equal the unquantized probe —
    quantization only prunes, never rescores, the final exact ranks."""
    p = str(tmp_path / "ivf_q")
    build_ivf_index(
        emb_df, p, n_cells=CELLS, iterations=ITERS, seed=42,
        fit="numpy", emb_format="f32",
    )
    exact = ivf_index_topk(spark, queries, p, k=K, nprobe=NPROBE)
    quant = ivf_index_topk(
        spark, queries, p, k=K, nprobe=NPROBE, quantized=True, reorder=10_000,
    )
    assert _rows(quant) == _rows(exact)


def test_f16_storage_halves_bytes_and_keeps_neighbors(spark, emb_df, queries, tmp_path):
    """fp16 lists must be at most ~60% of the f32 lists' bytes (fp16 payload
    is half; parquet framing costs a little) and still return the same
    neighbor SETS at this fixture's scale (scores may differ in late dp)."""
    p32 = str(tmp_path / "f32")
    p16 = str(tmp_path / "f16")
    build_ivf_index(emb_df, p32, n_cells=CELLS, iterations=ITERS, fit="numpy",
                    emb_format="f32")
    build_ivf_index(emb_df, p16, n_cells=CELLS, iterations=ITERS, fit="numpy",
                    emb_format="f16")

    def _emb_bytes(root):
        import pyarrow.parquet as pq

        total = 0
        for dirpath, _, files in os.walk(os.path.join(root, "lists")):
            for fn in files:
                if not fn.endswith(".parquet"):
                    continue
                md = pq.ParquetFile(os.path.join(dirpath, fn)).metadata
                for rg in range(md.num_row_groups):
                    g = md.row_group(rg)
                    for ci in range(g.num_columns):
                        col = g.column(ci)
                        if col.path_in_schema.startswith("emb"):
                            total += col.total_compressed_size
        return total

    # the emb column itself (code/id framing is identical in both) must be
    # about half: fp16 stores 2 bytes/dim vs 4, and the binary blob also
    # drops parquet's per-element list repetition levels
    assert _emb_bytes(p16) <= 0.55 * _emb_bytes(p32)
    got32 = {(r["query_id"], r["neighbor_id"])
             for r in ivf_index_topk(spark, queries, p32, k=K, nprobe=NPROBE).collect()}
    got16 = {(r["query_id"], r["neighbor_id"])
             for r in ivf_index_topk(spark, queries, p16, k=K, nprobe=NPROBE).collect()}
    overlap = len(got16 & got32) / len(got32)
    assert overlap >= 0.95, f"fp16 neighbor overlap {overlap:.3f}"


def test_probe_reads_only_probed_partitions(spark, emb_df, queries, tmp_path):
    """The scan under a probe must be partition-pruned to the probed cells:
    every file that feeds the candidate join lives under a probed cell's
    directory, and at least one cell directory is never read."""
    p = str(tmp_path / "ivf_prune")
    build_ivf_index(
        emb_df, p, n_cells=CELLS, iterations=ITERS, fit="numpy", emb_format="f32",
    )
    one_query = emb_df.filter(F.col("vec_id") == 0)
    out = ivf_index_topk(spark, one_query, p, k=K, nprobe=2)
    assert out.count() == K

    # physical check on the same scan shape ivf_index_topk builds: an isin()
    # over the partition column reaches the scan as a PartitionFilter, and
    # input_file_name() proves only the matching cell directory is read
    lists = spark.read.parquet(os.path.join(p, "lists"))
    pruned = lists.filter(F.col("cell").isin([0]))
    files = {
        r["f"] for r in pruned.select(
            F.input_file_name().alias("f")).distinct().collect()
    }
    assert files, "cell=0 list should exist"
    assert all("cell=0" in f for f in files)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_max_per_key_cap(spark, emb_df, tmp_path):
    """The reference's max_per_qid load cap: at most N vectors per key
    survive the build, lowest ids win (deterministic)."""
    p = str(tmp_path / "ivf_cap")
    capped = build_ivf_index(
        emb_df.withColumn("label", F.pmod(F.col("vec_id"), F.lit(7))),
        p, n_cells=CELLS, iterations=1, fit="numpy", emb_format="f32",
        max_per_key=3, key_col="label",
    )
    lists = spark.read.parquet(os.path.join(p, "lists"))
    assert capped["rows"] == lists.count()
    per_key = (
        lists.withColumn("label", F.pmod(F.col("id"), F.lit(7)))
        .groupBy("label").count().agg(F.max("count")).first()[0]
    )
    assert per_key == 3
    # lowest ids win: ids 0..20 cover 3 per label for labels 0..6
    kept = sorted(r["id"] for r in lists.select("id").collect())
    assert kept == list(range(21))


def test_meta_is_commit_marker(spark, emb_df, queries, tmp_path):
    """No _META.json → the index is 'not built', even if lists exist
    (half-build after a crash); version mismatch is refused."""
    p = str(tmp_path / "ivf_meta")
    build_ivf_index(emb_df, p, n_cells=CELLS, iterations=1, fit="numpy",
                    emb_format="f32")
    meta_path = os.path.join(p, "_META.json")
    os.rename(meta_path, meta_path + ".bak")
    with pytest.raises(FileNotFoundError, match="not built"):
        ivf_index_topk(spark, queries, p, k=K, nprobe=NPROBE)
    os.rename(meta_path + ".bak", meta_path)
    with open(meta_path) as f:
        meta = json.load(f)
    meta["version"] = 999
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    with pytest.raises(ValueError, match="version"):
        read_index_meta(p)


def test_dim_mismatch_refused(spark, emb_df, tmp_path):
    p = str(tmp_path / "ivf_dim")
    build_ivf_index(emb_df, p, n_cells=CELLS, iterations=1, fit="numpy",
                    emb_format="f32")
    bad = emb_df.withColumn("embedding", F.slice("embedding", 1, 8))
    with pytest.raises(ValueError, match="dim"):
        ivf_index_topk(spark, bad.filter(F.col("vec_id") < 5), p, k=K)


# ---------------------------------------------------------------------------
# Fold-maintained index: append epochs under frozen centroids (r5)
# ---------------------------------------------------------------------------


def _split(emb_df):
    """Deterministic base/batch split of the fixture corpus."""
    base = emb_df.filter(F.pmod(F.col("vec_id"), F.lit(5)) != 0)
    batch = emb_df.filter(F.pmod(F.col("vec_id"), F.lit(5)) == 0)
    return base, batch


@pytest.mark.parametrize("fit", ["relational", "numpy"])
def test_append_equals_probing_grown_corpus_exactly(spark, emb_df, queries, tmp_path, fit):
    """Build over the base corpus, append the batch → probing must equal an
    independent oracle computed in-test: assign EVERY corpus row to its cell
    with plain numpy over the stored centroids, take each query's nprobe
    best cells the same way, brute-force exact cosine over those cells'
    members. Catches wrong frozen-centroid assignment, rows landing in wrong
    epochs/cells, and probes missing appended rows."""
    import math

    import numpy as np

    from mel_spark.operators.ann_index import append_to_ivf_index

    base, batch = _split(emb_df)
    p = str(tmp_path / f"ivf_app_{fit}")
    build_ivf_index(base, p, n_cells=CELLS, iterations=ITERS, seed=42,
                    fit=fit, emb_format="f32")
    meta = append_to_ivf_index(batch, p)
    assert meta["rows"] == emb_df.count()
    assert meta["epochs"] == [0, 1]

    got = _rows(ivf_index_topk(spark, queries, p, k=K, nprobe=NPROBE))

    # independent numpy oracle over the STORED centroids
    cents = {
        r["cell"]: np.array(r["cent"], dtype=np.float64)
        for r in spark.read.parquet(os.path.join(p, "centroids")).collect()
    }
    # numpy fit stores ALREADY-normalized float32 centroids and scores raw
    # dots against them (_assign_cells does not renormalize) — the oracle
    # must not either, or float64-renormalization flips near-ties
    C = np.stack([cents[c] for c in sorted(cents)])
    Cn = C.astype(np.float32).astype(np.float64)
    all_rows = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in emb_df.collect()
    }

    def _round6(x):
        return (math.floor(x * 1e6 + 0.5) if x >= 0 else math.ceil(x * 1e6 - 0.5)) / 1e6

    def _cell_of(v):
        vn = v / (np.linalg.norm(v) or 1.0)
        # both fit modes break centroid ties toward the lowest cell id
        sims = vn @ Cn.T if fit == "numpy" else np.array(
            [_round6(float(vn @ (c / (np.linalg.norm(c) or 1.0)))) for c in C]
        )
        return int(np.argmax(sims))

    members = {}
    for vid, v in all_rows.items():
        members.setdefault(_cell_of(v), []).append(vid)

    expect = []
    for r in queries.collect():
        qid, q = r["vec_id"], np.array(r["embedding"], dtype=np.float64)
        qn = q / (np.linalg.norm(q) or 1.0)
        sims = qn @ Cn.T
        probe_cells = sorted(
            range(len(C)), key=lambda c: (-sims[c], c)
        )[:NPROBE] if fit == "numpy" else sorted(
            range(len(C)),
            key=lambda c: (
                -_round6(float(qn @ (C[c] / (np.linalg.norm(C[c]) or 1.0)))), c,
            ),
        )[:NPROBE]
        cand = [
            v for c in probe_cells for v in members.get(c, []) if v != qid
        ]
        scored = sorted(
            (
                (-_round6(float(
                    (q / (np.linalg.norm(q) or 1.0))
                    @ (all_rows[v] / (np.linalg.norm(all_rows[v]) or 1.0))
                )), v)
                for v in cand
            ),
        )[:K]
        for rank, (negcos, v) in enumerate(scored, start=1):
            expect.append((qid, v, -negcos, rank))
    assert got == sorted(expect)


def test_append_split_invariance_and_drift(spark, emb_df, queries, tmp_path):
    """Appending a batch in one epoch vs two must probe identically (epochs
    are storage, not semantics), and the drift accounting must see the
    appended fraction."""
    from mel_spark.operators.ann_index import append_to_ivf_index, ivf_cell_drift

    base, batch = _split(emb_df)
    b1 = batch.filter(F.col("vec_id") < 250)
    b2 = batch.filter(F.col("vec_id") >= 250)

    p_one = str(tmp_path / "one")
    p_two = str(tmp_path / "two")
    for p in (p_one, p_two):
        build_ivf_index(base, p, n_cells=CELLS, iterations=ITERS, seed=42,
                        fit="numpy", emb_format="f16")
    append_to_ivf_index(batch, p_one)
    append_to_ivf_index(b1, p_two)
    meta = append_to_ivf_index(b2, p_two)
    assert meta["epochs"] == [0, 1, 2]
    assert _rows(ivf_index_topk(spark, queries, p_one, k=K, nprobe=NPROBE)) == \
        _rows(ivf_index_topk(spark, queries, p_two, k=K, nprobe=NPROBE))

    drift = {r["cell"]: r for r in ivf_cell_drift(spark, p_two).collect()}
    n_app = batch.count()
    assert sum(r["appended"] for r in drift.values()) == n_app
    assert sum(r["total"] for r in drift.values()) == emb_df.count()
    assert all(0.0 <= r["drift_frac"] <= 1.0 for r in drift.values())


def test_append_crash_fence_and_refit_flag(spark, emb_df, queries, tmp_path):
    """An uncommitted epoch (crash between write and _META commit) is
    invisible to probes and swept by the next append; crossing the refit
    threshold flips needs_refit."""
    import shutil

    from mel_spark.operators.ann_index import append_to_ivf_index

    base, batch = _split(emb_df)
    p = str(tmp_path / "ivf_fence")
    build_ivf_index(base, p, n_cells=CELLS, iterations=1, seed=42,
                    fit="numpy", emb_format="f32")
    before = _rows(ivf_index_topk(spark, queries, p, k=K, nprobe=NPROBE))

    # simulate a crashed append: epoch files exist, _META never updated
    meta_path = os.path.join(p, "_META.json")
    committed = open(meta_path).read()
    append_to_ivf_index(batch, p)
    with open(meta_path, "w") as f:
        f.write(committed)  # roll back the commit → epoch 1 is orphaned
    assert _rows(ivf_index_topk(spark, queries, p, k=K, nprobe=NPROBE)) == before

    # retry sweeps the orphan, then lands cleanly (no doubled rows)
    meta = append_to_ivf_index(batch, p)
    assert meta["rows"] == emb_df.count()
    lists = spark.read.parquet(os.path.join(p, "lists"))
    assert lists.count() == emb_df.count()
    assert not meta["needs_refit"]

    # tiny threshold → the appended fraction (~20%) crosses it
    meta2 = append_to_ivf_index(
        base.filter(F.col("vec_id") < 10).withColumn(
            "vec_id", F.col("vec_id") + F.lit(10_000)),
        p, refit_threshold=0.1,
    )
    assert meta2["needs_refit"]


def test_append_refuses_capped_index(spark, emb_df, tmp_path):
    from mel_spark.operators.ann_index import append_to_ivf_index

    p = str(tmp_path / "ivf_capref")
    build_ivf_index(
        emb_df.withColumn("label", F.pmod(F.col("vec_id"), F.lit(7))),
        p, n_cells=CELLS, iterations=1, fit="numpy", emb_format="f32",
        max_per_key=3, key_col="label",
    )
    with pytest.raises(ValueError, match="max_per_key"):
        append_to_ivf_index(emb_df.limit(5), p)


def test_ensure_and_token_idempotency(spark, emb_df, queries, tmp_path):
    """ensure_ivf_index builds only when absent; append with a fold token is
    replay-safe (second call with the same token is a committed no-op) —
    the contract jobs/er_job.py --ann-index-path relies on."""
    from mel_spark.operators.ann_index import (
        append_to_ivf_index,
        ensure_ivf_index,
        read_index_meta,
    )

    base, batch = _split(emb_df)
    p = str(tmp_path / "ivf_ensure")
    m1 = ensure_ivf_index(base, p, n_cells=CELLS, iterations=1, seed=42,
                          fit="numpy", emb_format="f16")
    assert m1["rows"] == base.count()
    # present → untouched (no rebuild, same meta)
    m2 = ensure_ivf_index(batch, p)
    assert m2 == read_index_meta(p) and m2["rows"] == base.count()

    a1 = append_to_ivf_index(batch, p, token="fold-7")
    before = _rows(ivf_index_topk(spark, queries, p, k=K, nprobe=NPROBE))
    a2 = append_to_ivf_index(batch, p, token="fold-7")  # replayed fold
    assert a2 == a1 and a2["epochs"] == [0, 1]
    assert a2["epoch_tokens"] == {"1": "fold-7"}
    assert _rows(ivf_index_topk(spark, queries, p, k=K, nprobe=NPROBE)) == before
    lists = spark.read.parquet(os.path.join(p, "lists"))
    assert lists.count() == emb_df.count()  # not doubled


def test_first_build_token_makes_replayed_append_a_noop(spark, tmp_path):
    """r6 ADVICE fix: a fold that BUILDS the index from a chain already
    containing its own delta records its token as epoch 0's — a crash-replay
    of the same fold then appends the same delta with the same token and
    must be a committed no-op (no duplicated ids, no new epoch)."""
    from pyspark.sql import functions as F

    from mel_spark.operators.ann_index import (
        append_to_ivf_index,
        build_ivf_index,
        read_index_meta,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    d = str(tmp_path / "idx")
    build_ivf_index(
        emb, d, n_cells=4, iterations=1, seed=42, fit="relational",
        emb_format="f32", token="fold-epoch-0",
    )
    m0 = read_index_meta(d)
    assert m0["epoch_tokens"] == {"0": "fold-epoch-0"}
    # replayed fold: same delta (here: a subset of the built rows), same token
    delta = emb.filter(F.col("vec_id") % 5 == 0)
    m1 = append_to_ivf_index(delta, d, token="fold-epoch-0")
    assert m1["epochs"] == m0["epochs"]            # no new epoch
    assert m1["rows"] == m0["rows"]                # no duplicated ids


def test_default_cell_count_never_exceeds_rows(spark, tmp_path):
    """The 5·√N leaves rule is capped at the row count: a 2-row index
    records exactly as many cells as its centroid table holds."""
    from mel_spark.operators.ann_index import default_n_cells, ensure_ivf_index

    assert [default_n_cells(n) for n in (1, 2, 3, 100)] == [1, 2, 3, 50]
    two = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0])], ["vec_id", "embedding"]
    )
    p = str(tmp_path / "ivf_two")
    meta = ensure_ivf_index(two, p, iterations=1)
    cents = spark.read.parquet(os.path.join(p, "centroids")).count()
    assert meta["n_cells"] == cents == 2
