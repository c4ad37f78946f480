"""Bucketed block-index: the shuffle-free probe path for folds whose delta
keys are past the broadcast bound (sources/bucketed.py). Pins (1) output
equivalence with the broadcast probe, (2) the plan shape — the cold-key
corpus scan reaches its sort-merge join with NO Exchange — and (3) the
append lifecycle."""

import pytest
from pyspark.sql import functions as F

from mel_spark.operators import incremental
from mel_spark.operators.incremental import probe_keys
from mel_spark.sources.bucketed import (
    append_bucketed_index,
    read_bucketed_index,
    write_bucketed_index,
)
from plan_shape import ancestors, corpus_scan, join_above, plan_nodes, scans


def _exchange_free_scans(plan: str, table: str) -> list[bool]:
    """Per scan of ``table``: is it a bucketed scan that reaches its first
    SortMergeJoin ancestor with no Exchange on the way? (The salted probe
    scans the table twice — the cold branch must be exchange-free; the hot
    branch re-keys on the salted hash, so its few rows legitimately
    exchange.)"""
    nodes = plan_nodes(plan)
    out = []
    for i in scans(nodes, table):
        path = []
        for t in ancestors(nodes, i):
            if "SortMergeJoin" in t:
                break
            path.append(t)
        out.append(
            "Bucketed: true" in nodes[i][1]
            and not any(t.startswith("Exchange") for t in path)
        )
    return out


@pytest.fixture()
def key_sets(spark):
    """Synthetic (block_key, mention_id) sets with one planted HOT key shared
    by base and delta."""
    base = spark.range(200).select(
        F.when(F.col("id") < 40, F.lit(777)).otherwise(F.xxhash64("id")).alias("block_key"),
        F.col("id").alias("mention_id"),
    )
    delta = spark.range(1000, 1030).select(
        F.when(F.col("id") < 1010, F.lit(777))
        .otherwise(F.xxhash64(F.col("id") % 180))  # overlap some base keys
        .alias("block_key"),
        F.col("id").alias("mention_id"),
    )
    return base, delta


def _canon(df):
    return sorted(tuple(r) for r in df.collect())


def test_bucketed_probe_output_equals_broadcast_probe(spark, key_sets, tmp_path):
    base, delta = key_sets
    want = _canon(
        probe_keys(delta, base, broadcast_delta=True, salt_threshold=8, n_salts=2)
    )
    tbl = "bidx_equiv"
    write_bucketed_index(base, tbl, n_buckets=8, path=str(tmp_path / "bidx"))
    try:
        got = _canon(
            probe_keys(
                delta,
                read_bucketed_index(spark, tbl),
                broadcast_delta=False,
                salt_threshold=8,
                n_salts=2,
            )
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    assert got == want and len(got) > 0


def test_bucketed_cold_probe_corpus_scan_has_no_exchange(spark, key_sets, tmp_path):
    """The scale contract: with the delta NOT broadcast (past the broadcast
    ceiling) and the index bucketed on block_key, the cold-key corpus stream
    must reach its join WITHOUT an Exchange — the storage partitioning
    satisfies the join requirement; only the delta side (and the few hot-key
    rows) reshuffle."""
    base, delta = key_sets
    tbl = "bidx_plan"
    write_bucketed_index(base, tbl, n_buckets=8, path=str(tmp_path / "bidx"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = probe_keys(
            delta,
            read_bucketed_index(spark, tbl),
            broadcast_delta=False,
            salt_threshold=8,
            n_salts=2,
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")

    free = _exchange_free_scans(plan, tbl)
    # the salted probe scans the table twice: the cold anti-join branch and
    # the hot semi-join branch
    assert len(free) >= 2, f"expected 2 scans of {tbl}:\n{plan}"
    assert any(free), (
        f"no bucketed, exchange-free corpus scan — bucketing not exploited:\n{plan}"
    )


def test_append_bucketed_index_keeps_spec_and_content(spark, key_sets, tmp_path):
    base, delta = key_sets
    tbl = "bidx_append"
    write_bucketed_index(base, tbl, n_buckets=8, path=str(tmp_path / "bidx"))
    try:
        append_bucketed_index(delta, tbl)
        t = read_bucketed_index(spark, tbl)
        assert t.count() == base.count() + delta.count()
        rows = [
            r
            for r in spark.sql(f"DESCRIBE TABLE EXTENDED {tbl}").collect()
            if r["col_name"] == "Num Buckets"
        ]
        assert rows and int(rows[0]["data_type"]) == 8
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    with pytest.raises(ValueError, match="does not exist"):
        append_bucketed_index(delta, "bidx_never_written")


def test_ensure_bucketed_index_lifecycle(spark, tmp_path, er_job_joins, monkeypatch):
    """The production lifecycle er_job drives (jobs/er_job.py --bucketed-index):
    create from the base chain → validate-noop → re-register on a fresh
    catalog from the external location → stay valid across a MAINTAINED fold
    (append + marker) → detect an UNMAINTAINED fold and rebuild → refuse to
    rebuild into a foreign directory."""
    from mel_spark.datagen import GenConfig, generate_repos
    from mel_spark.operators.incremental import incremental_update, read_stage_chain
    from mel_spark.pipeline import run_pipeline
    from mel_spark.sources.bucketed import (
        ensure_bucketed_index,
        fold_appended,
        record_fold_appended,
    )
    from mel_spark.sources.checkpoint import CheckpointManager

    tables = generate_repos(GenConfig(n_files=150, seed=31))
    repos = spark.createDataFrame(tables["repos"])
    h = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(10))
    base = str(tmp_path / "base")
    run_pipeline(spark, repos.filter(h < 6), base)

    tbl, loc = "bidx_life", str(tmp_path / "bidx_life")

    def tbl_canon():
        return _canon(spark.table(tbl).select("block_key", "mention_id"))

    def chain_canon(ckpt):
        return _canon(
            read_stage_chain(spark, ckpt, "block_index").select(
                "block_key", "mention_id"
            )
        )

    try:
        # create from the base chain
        assert ensure_bucketed_index(spark, tbl, base, n_buckets=4, path=loc) is True
        assert tbl_canon() == chain_canon(base)
        # clean validation: nothing rebuilt
        assert ensure_bucketed_index(spark, tbl, base, n_buckets=4, path=loc) is False

        # fresh-session simulation: the in-memory catalog entry is gone, the
        # files + meta sidecar remain → re-registered, bucket spec preserved
        spark.sql(f"DROP TABLE {tbl}")
        assert ensure_bucketed_index(spark, tbl, base, n_buckets=4, path=loc) is False
        spec = [
            r
            for r in spark.sql(f"DESCRIBE TABLE EXTENDED {tbl}").collect()
            if r["col_name"] == "Num Buckets"
        ]
        assert spec and int(spec[0]["data_type"]) == 4

        # maintained fold: probe via the table (sort-merge: bound 0), append
        # the delta, drop marker
        f1 = str(tmp_path / "f1")
        plans: dict[str, str] = {}
        with monkeypatch.context() as m:
            m.setattr(incremental, "FOLD_BROADCAST_MAX_BYTES", 0)
            out = incremental_update(
                spark,
                base,
                repos.filter(h == 6),
                checkpoint_dir=f1,
                plan_capture=plans,
                base_keys_table=tbl,
            )
        assert out["joins"]["probe"] == "sort_merge"
        assert join_above(plans["pairs_delta"], tbl, "Inner") == {"SortMergeJoin"}
        append_bucketed_index(
            CheckpointManager(f1)
            .read("block_index_delta", spark)
            .select("block_key", "mention_id"),
            tbl,
        )
        record_fold_appended(f1, tbl)
        assert fold_appended(f1, tbl)
        assert ensure_bucketed_index(spark, tbl, f1, n_buckets=4, path=loc) is False
        assert tbl_canon() == chain_canon(f1)

        # UNMAINTAINED fold (no append/marker): validation from its head must
        # detect the missing delta and rebuild from the chain
        f2 = str(tmp_path / "f2")
        incremental_update(spark, f1, repos.filter(h > 6), checkpoint_dir=f2)
        with pytest.warns(UserWarning, match="diverged"):
            assert (
                ensure_bucketed_index(spark, tbl, f2, n_buckets=4, path=loc) is True
            )
        assert tbl_canon() == chain_canon(f2)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")

    # never rebuild into a directory we don't provably own
    foreign = tmp_path / "foreign"
    foreign.mkdir()
    (foreign / "keep.txt").write_text("not ours")
    with pytest.raises(ValueError, match="refusing"):
        ensure_bucketed_index(
            spark, "bidx_foreign", base, n_buckets=4, path=str(foreign)
        )


def test_fold_with_bucketed_index_equals_default_fold(
    spark, tmp_path, er_job_joins, full_scan_locations, monkeypatch
):
    """End-to-end, under er_job's join conf: a fold whose delta keys are past
    the broadcast bound (forced: bound 0) probes the bucketed index table
    sort-merge with no Exchange above the cold corpus scan, and emits
    byte-identical clusters to the chain-read fold at the real bound, whose
    probe broadcasts the delta keys."""
    from mel_spark.datagen import GenConfig, generate_repos
    from mel_spark.operators.incremental import incremental_update, read_stage_chain
    from mel_spark.pipeline import run_pipeline

    tables = generate_repos(GenConfig(n_files=200, seed=23))
    repos = spark.createDataFrame(tables["repos"])
    in_a = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(10)) < 7
    base = str(tmp_path / "base")
    run_pipeline(spark, repos.filter(in_a), base)

    batch = repos.filter(~in_a)
    plans: dict[str, str] = {}
    default = incremental_update(spark, base, batch, plan_capture=plans)
    assert default["joins"]["probe"] == "broadcast"
    assert join_above(plans["pairs_delta"], corpus_scan(base, "block_index"), "Inner") == {
        "BroadcastHashJoin"
    }
    want = _canon(default["clusters"].select("mention_id", "cluster_id"))

    tbl = "bidx_fold"
    write_bucketed_index(
        read_stage_chain(spark, base, "block_index"),
        tbl,
        n_buckets=8,
        path=str(tmp_path / "bidx"),
    )
    monkeypatch.setattr(incremental, "FOLD_BROADCAST_MAX_BYTES", 0)
    try:
        out = incremental_update(
            spark, base, batch, plan_capture=plans, base_keys_table=tbl
        )
        got = _canon(out["clusters"].select("mention_id", "cluster_id"))
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    assert out["joins"]["probe"] == "sort_merge"
    assert join_above(plans["pairs_delta"], tbl, "Inner") == {"SortMergeJoin"}
    assert any(_exchange_free_scans(plans["pairs_delta"], tbl))
    assert got == want
