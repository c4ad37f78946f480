"""CheckpointManager protocol: markers, schema pinning, resume, counters."""

import json
import os

import pytest
from pyspark.sql import functions as F

from mel_spark.sources.checkpoint import CheckpointManager


def test_write_read_roundtrip(spark, tmp_path):
    mgr = CheckpointManager(str(tmp_path))
    df = spark.range(10).withColumn("v", F.col("id") * 2)
    out = mgr.write("s1", df)
    assert out.count() == 10
    assert mgr.exists("s1")
    meta = mgr.counters("s1")
    assert meta["rows"] == 10 and meta["status"] == "complete"
    for c in ("_stage", "_run_id", "_src_partition"):
        assert c in out.columns


def test_empty_stage_schema_pinned(spark, tmp_path):
    mgr = CheckpointManager(str(tmp_path))
    df = spark.range(5).filter("id < 0").withColumn("name", F.lit("x"))
    out = mgr.write("empty", df)
    assert out.count() == 0
    reread = mgr.read("empty", spark)
    assert "name" in reread.columns and reread.count() == 0


def test_incomplete_marker_not_resumed(spark, tmp_path):
    mgr = CheckpointManager(str(tmp_path))
    df = spark.range(3)
    mgr.write("s2", df)
    # corrupt: mark as incomplete → stage must recompute
    marker = mgr._marker("s2")
    with open(marker) as f:
        meta = json.load(f)
    meta["status"] = "running"
    with open(marker, "w") as f:
        json.dump(meta, f)
    assert not mgr.exists("s2")
    out, resumed = mgr.get_or_compute("s2", spark, lambda: spark.range(4))
    assert not resumed and out.count() == 4


def test_missing_dir_not_resumed(spark, tmp_path):
    mgr = CheckpointManager(str(tmp_path))
    mgr.write("s3", spark.range(2))
    import shutil

    shutil.rmtree(os.path.join(str(tmp_path), "s3"))
    assert not mgr.exists("s3")


def test_elapsed_recorded(spark, tmp_path):
    mgr = CheckpointManager(str(tmp_path))
    mgr.get_or_compute("s4", spark, lambda: spark.range(2))
    assert mgr.counters("s4")["elapsed_sec"] > 0


def test_fingerprint_mismatch_recomputes(spark, tmp_path):
    """Same checkpoint dir, different config/input fingerprint → the stale
    stage must NOT be served (ADVICE r1: threshold change consistency)."""
    mgr = CheckpointManager(str(tmp_path))
    out, resumed = mgr.get_or_compute("s5", spark, lambda: spark.range(3), fingerprint="cfgA")
    assert not resumed
    out, resumed = mgr.get_or_compute("s5", spark, lambda: spark.range(3), fingerprint="cfgA")
    assert resumed
    out, resumed = mgr.get_or_compute("s5", spark, lambda: spark.range(7), fingerprint="cfgB")
    assert not resumed and out.count() == 7


def test_row_count_revalidated_on_resume(spark, tmp_path):
    """exists() re-checks the recorded row count against the on-disk table —
    a truncated/corrupt checkpoint recomputes instead of resuming."""
    import glob

    mgr = CheckpointManager(str(tmp_path))
    mgr.get_or_compute("s6", spark, lambda: spark.range(100).repartition(4))
    # delete one data file to corrupt the stage
    part = glob.glob(os.path.join(str(tmp_path), "s6", "part-*"))[0]
    os.remove(part)
    assert not mgr.exists("s6", spark)
    out, resumed = mgr.get_or_compute("s6", spark, lambda: spark.range(100))
    assert not resumed and out.count() == 100


def test_observed_count_empty_stage(spark, tmp_path):
    """The marker row count comes from an Observation piggybacked on the
    write (no re-read scan); an EMPTY stage writes no data files, so the
    observed metric must still fire and record 0 — not hang or fall back
    to a failed inference read."""
    mgr = CheckpointManager(str(tmp_path))
    mgr.write("e0", spark.range(5).filter("id < 0").withColumn("t", F.lit("x")))
    assert mgr.counters("e0")["rows"] == 0
    assert mgr.exists("e0", spark)  # recount-on-resume agrees with 0


def test_observed_count_partitioned_write(spark, tmp_path):
    """partitionBy() routes the plan through a dynamic-partition write; the
    observed count must equal the true total across partitions (the V1 write
    path's observed-metrics corner)."""
    mgr = CheckpointManager(str(tmp_path))
    df = spark.range(57).withColumn("p", F.col("id") % 5)
    mgr.write("p0", df, partition_by=["p"])
    meta = mgr.counters("p0")
    assert meta["rows"] == 57
    assert mgr.read("p0", spark).count() == 57
    assert mgr.exists("p0", spark)


def test_marker_written_once_per_computed_stage(spark, tmp_path, monkeypatch):
    """A computed stage commits its marker ONCE, ``elapsed_sec`` included —
    no second read-modify-write to add the stage time afterwards."""
    from mel_spark.sources import checkpoint

    commits = []
    real = checkpoint.write_json
    monkeypatch.setattr(
        checkpoint, "write_json", lambda path, obj: (commits.append(path), real(path, obj))
    )
    mgr = CheckpointManager(str(tmp_path))
    mgr.get_or_compute("w1", spark, lambda: spark.range(3))
    assert commits == [mgr._marker("w1")]
    assert mgr.counters("w1")["elapsed_sec"] >= 0


def test_stage_fingerprint_matches_the_recorded_hash():
    """Checkpoint dirs already on disk keep resuming only while the hash is
    unchanged: sha256 over the sorted-key config JSON and the identity
    parts, NUL-separated, exactly as their markers record it."""
    import hashlib
    from dataclasses import asdict

    from mel_spark.pipeline import ERConfig
    from mel_spark.sources.checkpoint import stage_fingerprint

    cfg = ERConfig(threshold=0.7)
    cfg_json = json.dumps(asdict(cfg), sort_keys=True)
    assert stage_fingerprint(cfg, "tok") == hashlib.sha256(
        (cfg_json + "\x00" + "tok").encode()
    ).hexdigest()
    assert stage_fingerprint(cfg, "/base", "tok") == hashlib.sha256(
        (cfg_json + "\x00" + "/base" + "\x00" + "tok").encode()
    ).hexdigest()


def test_durable_json_commits_only_through_the_protocol():
    """Every marker and sidecar under mel_spark/ commits through
    ``checkpoint.write_json``: no other module renames a file into place or
    writes a ``.tmp`` sibling (checked on the source, no Spark)."""
    import ast
    import pathlib

    import mel_spark

    pkg = pathlib.Path(mel_spark.__file__).parent
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        if path == pkg / "sources" / "checkpoint.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            renames = (
                isinstance(node, ast.Attribute) and node.attr in ("replace", "rename")
                and isinstance(node.value, ast.Name) and node.value.id in ("os", "_os")
            ) or (
                isinstance(node, ast.ImportFrom) and node.module == "os"
                and any(a.name in ("replace", "rename") for a in node.names)
            )
            tmp_name = (
                isinstance(node, ast.Constant) and isinstance(node.value, str)
                and node.value.endswith(".tmp")
            )
            if renames or tmp_name:
                offenders.append(f"{path.relative_to(pkg)}:{node.lineno}")
    assert offenders == []
