"""jobs/er_job.py end to end: a full run, then ``--update-base`` folding a
batch into it with the bucketed probe table and the persisted ANN index
maintained.

The job sets session confs and calls ``spark.stop()``, so each invocation
runs in its own Python process, never in the pytest session. The fold's
``clusters.parquet`` must equal a from-scratch ``run_pipeline`` over
base ∪ batch, computed in the pytest session.
"""

import hashlib
import importlib.util
import json
import os
import subprocess
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JOB = os.path.join(ROOT, "jobs", "er_job.py")
F1_KEYS = {"tp", "fp", "fn", "precision", "recall", "f1"}
RUN_STAGES = {"ingest", "embed", "block_index", "block_sizes", "blocks", "pairs", "clusters"}
FOLD_STAGES = {"ingest_delta", "embed_delta", "block_index_delta", "block_sizes_delta",
               "pairs_delta", "clusters_delta"}


def _job(*args: str) -> dict:
    env = dict(os.environ,
               PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])))
    r = subprocess.run([sys.executable, JOB, *args], capture_output=True, text=True,
                       env=env, timeout=600)
    assert r.returncode == 0, r.stderr[-4000:]
    return json.loads(r.stdout.strip().splitlines()[-1])


def _assignment(path: str) -> pd.DataFrame:
    df = pd.read_parquet(path, columns=["mention_id", "cluster_id"])
    return df.sort_values("mention_id").reset_index(drop=True)


@pytest.fixture(scope="module")
def runs(tiny_tables, tmp_path_factory):
    """One full run over 90% of the tiny corpus, then one fold of the other
    10% (split by mention-id hash), both keeping the bucketed probe table and
    the ANN index; returns the two JSON lines and the dirs."""
    from mel_spark.datagen import write_parquet

    tmp = tmp_path_factory.mktemp("er_job")
    repos, gold = tiny_tables["repos"], tiny_tables["reference_clusters"]
    in_batch = gold["mention_id"].map(
        lambda m: int(hashlib.md5(m.encode()).hexdigest()[:8], 16) % 10 == 0
    ).to_numpy()
    base, batch = str(tmp / "base"), str(tmp / "batch")
    write_parquet({"repos": repos[~in_batch], "reference_clusters": gold[~in_batch]}, base)
    write_parquet({"repos": repos[in_batch], "reference_clusters": gold[in_batch]}, batch)
    index = ["--bucketed-index", "er_job_bidx", "--bucketed-index-path", str(tmp / "bidx"),
             "--bucketed-index-buckets", "4", "--ann-index-path", str(tmp / "ann")]
    run = _job("--input", base, "--checkpoint", str(tmp / "ckpt"),
               "--output", str(tmp / "out"), *index)
    fold = _job("--update-base", str(tmp / "ckpt"), "--input", batch,
                "--checkpoint", str(tmp / "fold"), "--output", str(tmp / "fold-out"),
                "--emit-survivors", *index)
    return {"run": run, "fold": fold, "tmp": tmp, "repos": repos, "n_batch": int(in_batch.sum())}


def test_full_run_reports_its_metrics(runs):
    m = runs["run"]
    assert set(m) == {"rows", "blocks", "candidate_pairs", "matches", "clusters",
                      "elapsed_sec", "candidate_pairs_per_sec", "stage_sec",
                      "pairs_stage_pairs_per_sec", "ann_index"} | F1_KEYS
    assert set(m["stage_sec"]) == RUN_STAGES
    assert m["rows"] == len(runs["repos"]) - runs["n_batch"]
    assert m["f1"] == 1.0
    assert m["ann_index"]["epochs"] == 1
    out = _assignment(str(runs["tmp"] / "out" / "clusters.parquet"))
    assert len(out) == m["rows"] and out["cluster_id"].nunique() == m["clusters"]


def test_fold_equals_from_scratch_run(runs, spark):
    from mel_spark.pipeline import ERConfig, run_pipeline
    from mel_spark.sources.bucketed import fold_appended

    m = runs["fold"]
    assert {"mode", "new_mentions", "total_mentions", "new_matches", "clusters",
            "elapsed_sec", "stage_sec", "survivors", "ann_index"} | F1_KEYS == set(m)
    assert m["mode"] == "incremental"
    assert m["new_mentions"] == runs["n_batch"]
    assert m["total_mentions"] == len(runs["repos"])
    assert m["f1"] == 1.0
    # the full run built the index (epoch 0); the fold appended its batch
    assert m["ann_index"]["epochs"] == 2
    with open(runs["tmp"] / "ann" / "_META.json") as f:
        assert len(json.load(f)["epochs"]) == 2
    assert m["ann_index"]["rows"] == spark.read.parquet(
        str(runs["tmp"] / "fold" / "embed_delta")).count() + runs["run"]["ann_index"]["rows"]
    # the bucketed table took the fold's delta keys exactly once
    assert fold_appended(str(runs["tmp"] / "fold"), "er_job_bidx")

    ref = str(runs["tmp"] / "ref-out")
    out = run_pipeline(spark, spark.createDataFrame(runs["repos"]), str(runs["tmp"] / "ref"),
                       ERConfig())
    out["clusters"].select("mention_id", "cluster_id").write.parquet(ref)
    folded = _assignment(str(runs["tmp"] / "fold-out" / "clusters.parquet"))
    assert folded.equals(_assignment(ref))
    assert m["clusters"] == folded["cluster_id"].nunique()
    assert m["survivors"] == m["clusters"]


def test_fold_stage_sec_reports_every_delta_stage(runs):
    assert set(runs["fold"]["stage_sec"]) == FOLD_STAGES


def test_probe_sort_merge_needs_the_bucketed_table(tmp_path):
    """Without --bucketed-index the probe's corpus side is the chain read, so
    a sort-merge probe would shuffle the corpus key stream: argparse rejects
    the combination before any session starts."""
    spec = importlib.util.spec_from_file_location("er_job", JOB)
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    with pytest.raises(SystemExit) as e:
        job.main(["--update-base", str(tmp_path / "base"), "--synthesize", "10",
                  "--checkpoint", str(tmp_path / "c"), "--output", str(tmp_path / "o"),
                  "--probe-sort-merge"])
    assert e.value.code == 2
