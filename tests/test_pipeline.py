"""End-to-end ER pipeline: F1 vs planted clusters, sha invariant, resume."""

import pytest
from pyspark.sql import functions as F

from mel_spark.datagen import GenConfig, generate_repos
from mel_spark.operators.evaluate import pairs_from_clusters, pairwise_prf
from mel_spark.pipeline import ERConfig, run_pipeline


@pytest.fixture(scope="module")
def pipeline_run(spark, tmp_path_factory):
    tables = generate_repos(GenConfig(n_files=600, seed=42))
    repos = spark.createDataFrame(tables["repos"])
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    out = run_pipeline(spark, repos, ckpt)
    return tables, out, ckpt


def test_f1_against_planted_clusters(spark, pipeline_run):
    tables, out, _ = pipeline_run
    ref = spark.createDataFrame(tables["reference_clusters"])
    gold = pairs_from_clusters(ref, "mention_id", "entity_id")
    pred = pairs_from_clusters(out["clusters"], "mention_id", "cluster_id")
    m = pairwise_prf(pred, gold)
    assert m["f1"] >= 0.99, m


def test_content_sha_invariant(spark, pipeline_run):
    """input_hint: per-row sha256(content) equality vs the source table."""
    tables, out, _ = pipeline_run
    import hashlib

    src = tables["repos"].copy()
    src["content_sha"] = [
        hashlib.sha256(c.encode()).hexdigest() for c in src["content"]
    ]
    expected = spark.createDataFrame(src[["repo", "path", "commit", "content_sha"]])
    got = out["mentions"].select("repo", "path", "commit", "content_sha")
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0


def test_resume_skips_green_stages(spark, pipeline_run):
    tables, out, ckpt = pipeline_run
    from mel_spark.sources.checkpoint import CheckpointManager

    mgr = CheckpointManager(ckpt)
    for stage in ["ingest", "embed", "blocks", "pairs", "clusters"]:
        assert mgr.exists(stage), stage
    # re-run: compute thunks must NOT be invoked
    calls = []

    def boom():
        calls.append(1)
        raise AssertionError("stage recomputed despite valid checkpoint")

    df, resumed = mgr.get_or_compute("ingest", spark, boom)
    assert resumed and not calls and df.count() == 600


def test_marker_counters_match_recounts(spark, pipeline_run):
    """jobs/er_job.py reports rows/candidate_pairs from the ingest/pairs
    checkpoint markers instead of recounting inside the timed window — valid
    only while every stage marker records the EXACT written row count."""
    _, out, ckpt = pipeline_run
    from mel_spark.sources.checkpoint import CheckpointManager

    mgr = CheckpointManager(ckpt)
    assert mgr.counters("ingest")["rows"] == out["mentions"].count()
    assert mgr.counters("pairs")["rows"] == out["scored"].count()
    # block_sizes counts RAW pre-salt keys; the pairing stage's distinct
    # (post-salt/cap, singletons dropped) key count is a DIFFERENT number —
    # er_job must keep recounting `blocks` rather than read this marker
    raw_keys = mgr.read("block_index", spark).select("block_key").distinct().count()
    assert mgr.counters("block_sizes")["rows"] == raw_keys
    assert raw_keys != out["blocks"].select("block_key").distinct().count()


def test_lineage_columns_present(pipeline_run):
    _, out, _ = pipeline_run
    for c in ("_stage", "_run_id", "_src_partition"):
        assert c in out["mentions"].columns


def test_embedding_deterministic_across_parallelism(spark, pipeline_run):
    """FIXTURES.md §5: same content ⇒ identical vector at different
    partitionings (features are keyed by the content hash csid)."""
    tables, out, _ = pipeline_run
    emb1 = out["embedded"].select("csid", "emb")
    repos = spark.createDataFrame(tables["repos"]).repartition(13)
    from mel_spark.pipeline import ingest, embed_stage

    emb2 = embed_stage(ingest(repos), ERConfig()).select(
        "csid", F.col("emb").alias("emb2")
    )
    j = emb1.join(emb2, "csid")
    assert j.count() == out["embedded"].count()
    # direct equality covers both storage formats (fp16 binary / f32 array)
    diff = j.filter(F.col("emb") != F.col("emb2")).count()
    assert diff == 0


def test_ingest_redirect_decoration(spark):
    """S5 semantics: the redirect remap decorates the source read, so a
    redirected entity id is normalized BEFORE mention identity is derived —
    mentions arriving under the old id land in the remapped entity's rows
    (reference decorates every loader, src/utils/loaders.py:37-56)."""
    from mel_spark.pipeline import ingest

    repos = spark.createDataFrame(
        [
            ("org/old-name", "a.py", "c1", "python", "x = 1"),
            ("org/new-name", "a.py", "c1", "python", "x = 1"),
            ("org/other", "b.py", "c2", "python", "y = 2"),
        ],
        ["repo", "path", "commit", "lang", "content"],
    )
    redirects = spark.createDataFrame(
        [("org/old-name", "org/new-name")], ["old_entity_id", "new_entity_id"]
    )
    out = ingest(repos, redirects=redirects).collect()
    repos_seen = {r["repo"] for r in out}
    assert repos_seen == {"org/new-name", "org/other"}
    # identity derived AFTER the remap: the old-name and new-name rows now
    # have the SAME mention_id (and collapse into one entity downstream)
    mids = {r["mention_id"] for r in out if r["repo"] == "org/new-name"}
    assert len(mids) == 1


def test_fp16_embed_storage_shrinks_checkpoint_and_preserves_clusters(spark, tmp_path):
    """VERDICT r4 #5: the embed checkpoint's default fp16-packed emb column
    must cost <= half the f32 array's parquet bytes (per-column, from parquet
    metadata) while leaving the cluster output identical on realistic data
    (planted near-dups score ~0.79 vs threshold 0.72 — fp16's ~1e-3 cosine
    noise is two orders of magnitude inside the margin)."""
    import glob
    import os

    import pyarrow.parquet as pq

    from mel_spark.datagen import GenConfig, generate_repos
    from mel_spark.pipeline import ERConfig, run_pipeline

    tables = generate_repos(GenConfig(n_files=200, seed=19))
    repos = spark.createDataFrame(tables["repos"])
    out16 = run_pipeline(
        spark, repos, str(tmp_path / "f16"), ERConfig(emb_storage="f16")
    )
    out32 = run_pipeline(
        spark, repos, str(tmp_path / "f32"), ERConfig(emb_storage="f32")
    )

    def emb_col_bytes(ckpt):
        total = 0
        for f in glob.glob(os.path.join(ckpt, "embed", "*.parquet")):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for c in range(g.num_columns):
                    col = g.column(c)
                    if col.path_in_schema.split(".")[0] == "emb":
                        total += col.total_compressed_size
        return total

    b16, b32 = emb_col_bytes(str(tmp_path / "f16")), emb_col_bytes(str(tmp_path / "f32"))
    assert b16 > 0 and b32 > 0
    assert b16 <= 0.55 * b32, f"fp16 emb column {b16}B vs f32 {b32}B"

    a = out16["clusters"].select("mention_id", "cluster_id")
    b = out32["clusters"].select("mention_id", "cluster_id")
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_null_content_canonicalized_to_empty_doc(spark, tmp_path):
    """NULL content is a certainty at the 10^12-file tier. ingest()
    canonicalizes it to the EMPTY document: the row survives every stage
    (featurize would crash on a NULL token array), gets the sha256('') csid —
    i.e. null bodies and empty bodies are the same entity — and the final
    assignment covers every ingested mention."""
    from mel_spark.pipeline import ingest, run_pipeline

    rows = [
        ("r1", "a.py", "c1", "py", "def f(): pass"),
        ("r2", "b.py", "c2", "py", None),   # null body
        ("r3", "c.py", "c3", "py", ""),     # empty body
        ("r4", "d.py", "c4", "py", None),   # another null body
    ]
    repos = spark.createDataFrame(rows, "repo string, path string, commit string, lang string, content string")

    m = ingest(repos)
    import hashlib

    empty_sha = hashlib.sha256(b"").hexdigest()
    shas = {r["path"]: r["content_sha"] for r in m.select("path", "content_sha").collect()}
    assert shas["b.py"] == shas["c.py"] == shas["d.py"] == empty_sha

    out = run_pipeline(spark, repos, str(tmp_path / "ckpt"))
    clusters = out["clusters"].select("mention_id", "cluster_id").collect()
    assert len(clusters) == 4  # every ingested row has an assignment
    feats = out["embedded"]
    assert feats.filter(F.col("emb").isNull()).count() == 0


def test_featurize_map_rejects_null_token_arrays():
    """A caller that bypasses ingest's canonicalization gets the contract
    named in the error, not an IndexError in the shingle kernel."""
    import pyarrow as pa

    from mel_spark.functions.vectors import featurize_map

    fn, _ = featurize_map()
    rb = pa.RecordBatch.from_arrays(
        [
            pa.array([1, 2], pa.int64()),
            pa.array([[5, 7, 9], []], pa.list_(pa.int64())),
        ],
        names=["csid", "_th"],
    )
    with pytest.raises(ValueError, match="NULL/zero-length token array"):
        list(fn(iter([rb])))


def test_ensure_scan_parallelism_only_widens_narrow_scans(spark, tmp_path):
    """The conditional repartition is a no-op when the input already has at
    least session-parallelism splits (the production-scale case) and widens a
    single-split scan to the session's core count; row content unchanged."""
    from mel_spark.session import ensure_scan_parallelism

    want = spark.sparkContext.defaultParallelism
    spark.range(1000).coalesce(1).write.parquet(str(tmp_path / "narrow"))
    narrow = spark.read.parquet(str(tmp_path / "narrow"))
    assert narrow.rdd.getNumPartitions() < want
    widened = ensure_scan_parallelism(narrow)
    assert widened.rdd.getNumPartitions() == want
    assert widened.count() == 1000

    wide = spark.range(1000).repartition(want + 4)
    assert ensure_scan_parallelism(wide) is wide  # untouched, no added plan node


def test_ensure_scan_parallelism_memo_reprobes_rewritten_input(spark, tmp_path):
    """The memoized split-count probe is keyed on the path's content token:
    an input rewritten at the same path (many files → one file) is probed
    again and widened, instead of reusing the first probe's split count."""
    from mel_spark.session import ensure_scan_parallelism

    want = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "docs.parquet")
    spark.range(1000).repartition(2 * want).write.parquet(path)
    first = spark.read.parquet(path)
    assert first.rdd.getNumPartitions() >= want
    assert ensure_scan_parallelism(first, cache_key=path) is first

    spark.range(1000).coalesce(1).write.mode("overwrite").parquet(path)
    second = spark.read.parquet(path)
    assert second.rdd.getNumPartitions() < want
    widened = ensure_scan_parallelism(second, cache_key=path)
    assert widened.rdd.getNumPartitions() == want
    assert widened.count() == 1000
