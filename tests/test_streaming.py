"""Structured Streaming twins: streaming over the events rows must converge to
the batch query results once all data is processed."""

import pytest
from pyspark.sql import functions as F

from mel_spark.streaming.events import sessionize_stream, tumbling_counts_stream


@pytest.fixture(scope="module")
def events_batch(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _run_stream_once(spark, batch_df, transform, tmpdir):
    """Feed the batch rows through a file streaming source, run to completion
    in availableNow mode, return the final complete-output table."""
    src = f"{tmpdir}/src"
    batch_df.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(batch_df.schema).parquet(src)
    out = transform(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("stream_sink")
        .outputMode("complete")
        .option("checkpointLocation", f"{tmpdir}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table("stream_sink")


def test_tumbling_counts_converge_to_batch(spark, events_batch, tmp_path):
    got = _run_stream_once(spark, events_batch, tumbling_counts_stream, str(tmp_path))
    from __spark_entry__ import q_ev_tumbling_counts

    import os

    expected = q_ev_tumbling_counts(spark, os.environ.get("MEL_TEST_SF_DIR", "/root/testdata/sf0.001"))
    diff = got.exceptAll(expected).count() + expected.exceptAll(got).count()
    assert diff == 0


def test_session_window_counts(spark, events_batch, tmp_path):
    got = _run_stream_once(spark, events_batch, sessionize_stream, str(tmp_path))
    # sanity: every user appears; session event counts sum to total events
    totals = got.groupBy("user_id").agg(F.sum("n_events").alias("n")).collect()
    per_user = {r["user_id"]: r["n"] for r in totals}
    batch_counts = {
        r["user_id"]: r["n"]
        for r in events_batch.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert per_user == batch_counts


def test_streaming_dedup_drops_watermark_duplicates(spark, events_batch, tmp_path):
    """dropDuplicatesWithinWatermark twin of the batch exact-dedup: feeding
    each event twice yields each event_id exactly once downstream."""
    from mel_spark.streaming.events import dedup_stream

    doubled = events_batch.union(events_batch)
    src = f"{tmp_path}/dsrc"
    doubled.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(doubled.schema).parquet(src)
    q = (
        dedup_stream(stream)
        .writeStream.format("memory")
        .queryName("dedup_sink")
        .outputMode("append")
        .option("checkpointLocation", f"{tmp_path}/dckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("dedup_sink")
    n_ids = events_batch.select("event_id").distinct().count()
    assert got.count() == n_ids
    assert got.select("event_id").distinct().count() == n_ids


def test_streaming_er_ingest_converges_to_full_run(spark, tmp_path):
    """Repo rows arriving on a stream, folded micro-batch by micro-batch
    (foreachBatch + incremental_update), must end at the SAME cluster
    assignment as one from-scratch run over everything — the streaming form
    of the fold-equals-full-run contract."""
    from mel_spark.datagen import GenConfig, generate_repos
    from mel_spark.pipeline import run_pipeline
    from mel_spark.streaming import StreamingFoldState, start_er_stream
    from mel_spark.operators.incremental import read_clusters_chain

    tables = generate_repos(GenConfig(n_files=300, seed=13))
    repos = spark.createDataFrame(tables["repos"])
    shard = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(10))
    base_rows = repos.filter(shard < 6)
    stream_rows = repos.filter(shard >= 6)
    assert stream_rows.count() > 0

    full = run_pipeline(spark, repos, str(tmp_path / "full"))
    base = str(tmp_path / "base")
    run_pipeline(spark, base_rows, base)

    # two parquet files in the source dir + maxFilesPerTrigger=1 → two epochs
    src = f"{tmp_path}/src"
    stream_rows.filter(shard.isin(6, 7)).coalesce(1).write.mode("overwrite").parquet(src)
    stream_rows.filter(shard.isin(8, 9)).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(stream_rows.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    state = StreamingFoldState(base_checkpoint=base, fold_root=str(tmp_path / "folds"))
    q = start_er_stream(stream, state, offsets_dir=str(tmp_path / "offsets"), trigger_once=True)
    q.awaitTermination(300)

    assert state.epochs_folded >= 2  # the chain really advanced per epoch
    got = read_clusters_chain(spark, state.current_base())
    want = full["clusters"].select("mention_id", "cluster_id")
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_streaming_er_head_persists_across_invocations(spark, tmp_path):
    """Cron-shaped deployment: a SECOND job invocation (fresh
    StreamingFoldState) must resume the chain from the last fold — new
    arrivals chain onto the previous invocation's folds, never back onto the
    base (which would orphan them)."""
    from mel_spark.datagen import GenConfig, generate_repos
    from mel_spark.pipeline import run_pipeline
    from mel_spark.streaming import StreamingFoldState, start_er_stream
    from mel_spark.operators.incremental import read_clusters_chain

    tables = generate_repos(GenConfig(n_files=240, seed=17))
    repos = spark.createDataFrame(tables["repos"])
    shard = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(10))
    full = run_pipeline(spark, repos, str(tmp_path / "full"))
    base = str(tmp_path / "base")
    run_pipeline(spark, repos.filter(shard < 6), base)

    src = f"{tmp_path}/src"
    schema = repos.schema

    def invoke():
        stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
        st = StreamingFoldState(base_checkpoint=base, fold_root=str(tmp_path / "folds"))
        q = start_er_stream(stream, st, offsets_dir=str(tmp_path / "off"), trigger_once=True)
        q.awaitTermination(300)
        return st

    repos.filter(shard.isin(6, 7)).coalesce(1).write.mode("overwrite").parquet(src)
    st1 = invoke()
    assert st1.epochs_folded == 1
    # second invocation, later arrivals — fresh state must resume from st1's head
    repos.filter(shard.isin(8, 9)).coalesce(1).write.mode("append").parquet(src)
    st2 = invoke()
    assert st2.epochs_folded == 1
    assert st2.current_base() != base and st2.current_base() != st1.current_base()

    got = read_clusters_chain(spark, st2.current_base())
    want = full["clusters"].select("mention_id", "cluster_id")
    assert got.count() == want.count() and got.exceptAll(want).count() == 0


def _mk_split_repos(spark, n_files=140, seed=29):
    from mel_spark.datagen import GenConfig, generate_repos

    tables = generate_repos(GenConfig(n_files=n_files, seed=seed))
    repos = spark.createDataFrame(tables["repos"])
    shard = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(10))
    return repos, shard


def test_compact_cadence_survives_fresh_invocations(spark, tmp_path):
    """ADVICE r4: compaction cadence must key on the CUMULATIVE fold counter
    persisted in _HEAD.json — a per-invocation counter never fires in the
    cron-shaped one-epoch-per-invocation deployment, and the chain grows
    without bound. Two single-epoch invocations with compact_every=2: the
    second must compact (head has no parent, full clusters materialized)."""
    import os

    from mel_spark.pipeline import run_pipeline
    from mel_spark.streaming import StreamingFoldState, start_er_stream
    from mel_spark.operators.incremental import read_clusters_chain

    repos, shard = _mk_split_repos(spark)
    full = run_pipeline(spark, repos, str(tmp_path / "full"))
    base = str(tmp_path / "base")
    run_pipeline(spark, repos.filter(shard < 6), base)
    src = f"{tmp_path}/src"

    def invoke():
        stream = (
            spark.readStream.schema(repos.schema).option("maxFilesPerTrigger", 1).parquet(src)
        )
        st = StreamingFoldState(
            base_checkpoint=base,
            fold_root=str(tmp_path / "folds"),
            compact_every=2,
            max_chain_depth=0,
        )
        q = start_er_stream(stream, st, offsets_dir=str(tmp_path / "off"), trigger_once=True)
        q.awaitTermination(300)
        return st

    repos.filter(shard.isin(6, 7)).coalesce(1).write.mode("overwrite").parquet(src)
    st1 = invoke()
    assert st1.total_folds == 1
    assert os.path.exists(f"{st1.current_base()}/_PARENT.json")  # not yet compacted

    repos.filter(shard.isin(8, 9)).coalesce(1).write.mode("append").parquet(src)
    st2 = invoke()
    assert st2.total_folds == 2  # durable counter carried across invocations
    head = st2.current_base()
    assert not os.path.exists(f"{head}/_PARENT.json")  # cadence fired
    assert os.path.exists(f"{head}/clusters._MARKER.json")

    got = read_clusters_chain(spark, head)
    want = full["clusters"].select("mention_id", "cluster_id")
    assert got.count() == want.count() and got.exceptAll(want).count() == 0


def test_max_chain_depth_backstop_compacts(spark, tmp_path):
    """The hard depth bound fires regardless of cadence: with
    max_chain_depth=1 every fold is immediately compacted into a flat dir."""
    import os

    from mel_spark.pipeline import run_pipeline
    from mel_spark.streaming import StreamingFoldState, fold_micro_batch
    from mel_spark.operators.incremental import chain_depth

    repos, shard = _mk_split_repos(spark, n_files=80, seed=31)
    base = str(tmp_path / "base")
    run_pipeline(spark, repos.filter(shard < 7), base)
    st = StreamingFoldState(
        base_checkpoint=base, fold_root=str(tmp_path / "folds"), max_chain_depth=1
    )
    out = fold_micro_batch(st, repos.filter(shard >= 7), epoch_id=0)
    assert out  # folded
    assert chain_depth(st.current_base()) == 0  # compacted on the spot
    assert os.path.exists(f"{st.current_base()}/clusters._MARKER.json")


def test_offsets_loss_replays_committed_epoch_without_fork(spark, tmp_path):
    """Failure injection for the documented crash window (fold completed +
    _HEAD advanced, stream offsets NOT committed): losing the offsets
    checkpoint re-delivers the folded epoch through the real streaming
    machinery. The replay must be a no-op on the chain (no fork, no
    double-fold — the epoch's delta stages are untouched) and later epochs
    must keep folding on top; the final assignment equals a from-scratch
    run."""
    import json
    import os

    from mel_spark.pipeline import run_pipeline
    from mel_spark.streaming import StreamingFoldState, start_er_stream
    from mel_spark.operators.incremental import read_clusters_chain, _parent_of

    repos, shard = _mk_split_repos(spark, n_files=160, seed=37)
    full = run_pipeline(spark, repos, str(tmp_path / "full"))
    base = str(tmp_path / "base")
    run_pipeline(spark, repos.filter(shard < 6), base)
    src = f"{tmp_path}/src"

    def invoke():
        stream = (
            spark.readStream.schema(repos.schema).option("maxFilesPerTrigger", 1).parquet(src)
        )
        st = StreamingFoldState(base_checkpoint=base, fold_root=str(tmp_path / "folds"))
        q = start_er_stream(stream, st, offsets_dir=str(tmp_path / "off"), trigger_once=True)
        q.awaitTermination(300)
        return st

    repos.filter(shard.isin(6, 7)).coalesce(1).write.mode("overwrite").parquet(src)
    st1 = invoke()
    epoch0 = st1.current_base()
    marker = f"{epoch0}/ingest_delta._MARKER.json"
    with open(marker) as f:
        fold0_meta = json.load(f)

    # CRASH: offsets lost after the fold committed — epoch 0 re-delivers
    import shutil

    shutil.rmtree(f"{tmp_path}/off")
    repos.filter(shard.isin(8, 9)).coalesce(1).write.mode("append").parquet(src)
    st2 = invoke()

    # epoch 0 was NOT re-folded (its delta stages untouched, same run_id)
    with open(marker) as f:
        assert json.load(f) == fold0_meta
    # no fork: the new head chains directly onto the replayed epoch's dir
    head = st2.current_base()
    assert head != epoch0 and _parent_of(head) == epoch0
    got = read_clusters_chain(spark, head)
    want = full["clusters"].select("mention_id", "cluster_id")
    assert got.count() == want.count() and got.exceptAll(want).count() == 0


def test_head_guard_normalizes_path_spelling(spark, tmp_path):
    """ADVICE r4: the replayed-head-epoch guard compares paths — a later
    invocation passing fold_root in a different textual form (trailing slash,
    ./ segments) must still hit the guard instead of crash-looping in
    incremental_update's same-dir rejection."""
    from mel_spark.pipeline import run_pipeline
    from mel_spark.streaming import StreamingFoldState, fold_micro_batch

    repos, shard = _mk_split_repos(spark, n_files=80, seed=41)
    base = str(tmp_path / "base")
    run_pipeline(spark, repos.filter(shard < 7), base)
    batch = repos.filter(shard >= 7)

    st = StreamingFoldState(base_checkpoint=base, fold_root=str(tmp_path / "folds"))
    assert fold_micro_batch(st, batch, epoch_id=0)

    # fresh state, differently-spelled paths (as a cron job might construct)
    st2 = StreamingFoldState(
        base_checkpoint=f"{base}/",
        fold_root=f"{tmp_path}/./folds/",
    )
    assert st2.current_base() == st.current_base()
    assert fold_micro_batch(st2, batch, epoch_id=0) == {}  # guard hit, no-op


def test_diverged_offsets_and_head_refuse_to_fold(spark, tmp_path):
    """Offsets checkpoint lost while fold_root/_HEAD.json survives: the stream
    re-delivers an OLD epoch id while the durable head is further along.
    Re-folding that interior epoch onto the current head would overwrite its
    parent pointer with its own descendant — a cycle that makes every chain
    read loop forever. The guard must refuse loudly instead of corrupting."""
    from mel_spark.datagen import GenConfig, generate_repos
    from mel_spark.pipeline import run_pipeline
    from mel_spark.streaming.er_stream import StreamingFoldState, fold_micro_batch

    tables = generate_repos(GenConfig(n_files=120, seed=31))
    repos = spark.createDataFrame(tables["repos"])
    shard = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(3))
    base = str(tmp_path / "base")
    run_pipeline(spark, repos.filter(shard == 0), base)

    st = StreamingFoldState(base_checkpoint=base, fold_root=str(tmp_path / "folds"))
    fold_micro_batch(st, repos.filter(shard == 1), 0)
    fold_micro_batch(st, repos.filter(shard == 2), 1)

    # offsets reset → a fresh invocation re-delivers epoch 0; the durable
    # head is epoch 1 and epoch 0's recorded parent is the base
    st2 = StreamingFoldState(base_checkpoint=base, fold_root=str(tmp_path / "folds"))
    assert st2.current_base().endswith("epoch_000000000001")
    with pytest.raises(ValueError, match="diverged"):
        fold_micro_batch(st2, repos.filter(shard == 1), 0)

    # the chain itself is untouched and still reads flat
    from mel_spark.operators.incremental import read_clusters_chain

    assert read_clusters_chain(spark, st2.current_base()).count() == repos.count()


def test_streaming_fold_maintains_bucketed_index(
    spark, tmp_path, er_job_joins, fold_sort_merge, monkeypatch
):
    """Streaming deployment of the bucketed probe table (sources/bucketed.py):
    each epoch probes the table (sort-merge: bound 0, so the delta keys are
    past the broadcast bound), appends its delta keys exactly once, and a
    compaction epoch RE-ANCHORS the table's meta at the flattened chain
    WITHOUT rewriting its (identical) data — after every epoch the table
    content equals the chain's block index."""
    import os

    from mel_spark.pipeline import run_pipeline
    from mel_spark.streaming import er_stream
    from plan_shape import join_above

    # every epoch's fold reports a sort-merge probe over the table
    folds = []
    fold = er_stream.incremental_update

    def capturing(*args, **kwargs):
        plans: dict[str, str] = {}
        out = fold(*args, plan_capture=plans, **kwargs)
        probe = join_above(plans["pairs_delta"], tbl, "Inner")
        folds.append((out["joins"]["probe"], probe))
        return out

    monkeypatch.setattr(er_stream, "incremental_update", capturing)
    from mel_spark.streaming import StreamingFoldState, start_er_stream
    from mel_spark.operators.incremental import read_stage_chain
    from mel_spark.sources.bucketed import (
        ensure_bucketed_index,
        fold_appended,
        read_bucketed_index,
    )

    repos, shard = _mk_split_repos(spark, n_files=140, seed=37)
    base = str(tmp_path / "base")
    run_pipeline(spark, repos.filter(shard < 6), base)
    src = f"{tmp_path}/src"
    tbl, loc = "bidx_stream", str(tmp_path / "bidx")

    def invoke():
        stream = (
            spark.readStream.schema(repos.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        st = StreamingFoldState(
            base_checkpoint=base,
            fold_root=str(tmp_path / "folds"),
            compact_every=2,
            max_chain_depth=0,
            bucketed_table=tbl,
            bucketed_path=loc,
            bucketed_buckets=4,
        )
        q = start_er_stream(stream, st, offsets_dir=str(tmp_path / "off"), trigger_once=True)
        q.awaitTermination(300)
        return st

    def canon(df):
        return sorted(tuple(r) for r in df.select("block_key", "mention_id").collect())

    try:
        repos.filter(shard.isin(6, 7)).coalesce(1).write.mode("overwrite").parquet(src)
        st1 = invoke()
        assert st1.total_folds == 1
        assert fold_appended(st1.current_base(), tbl)
        assert canon(read_bucketed_index(spark, tbl)) == canon(
            read_stage_chain(spark, st1.current_base(), "block_index")
        )

        # snapshot the table's data files: the compaction epoch must APPEND
        # its delta and then only re-anchor the meta — never rewrite the
        # corpus-sized bucketed data (a rebuild replaces every part file)
        def data_files():
            return {
                f: os.path.getsize(os.path.join(loc, f))
                for f in os.listdir(loc)
                if not f.startswith(("_", "."))
            }

        files_before = data_files()
        assert files_before  # sanity: epoch 1 wrote real part files

        # second epoch hits the compaction cadence: the chain flattens and the
        # table meta re-anchors at the compacted head (content unchanged)
        repos.filter(shard.isin(8, 9)).coalesce(1).write.mode("append").parquet(src)
        st2 = invoke()
        head = st2.current_base()
        assert st2.total_folds == 2
        assert not os.path.exists(f"{head}/_PARENT.json")  # compacted
        assert canon(read_bucketed_index(spark, tbl)) == canon(
            read_stage_chain(spark, head, "block_index")
        )
        files_after = data_files()
        for f, size in files_before.items():
            assert files_after.get(f) == size, (
                f"compaction rewrote bucketed data file {f} — expected a "
                "meta-only re-anchor"
            )
        assert set(files_after) > set(files_before)  # epoch 2's append landed
        # the re-anchored table anchors at the compacted head, validates clean
        assert ensure_bucketed_index(spark, tbl, head, n_buckets=4, path=loc) is False

        # third + fourth epochs drive a SECOND append→compact cycle over the
        # re-anchored table — re-anchoring must compose (the coverage walk
        # from the new head ends at the previous compacted anchor)
        extra, eshard = _mk_split_repos(spark, n_files=80, seed=57)
        files_c1 = data_files()
        extra.filter(eshard < 5).coalesce(1).write.mode("append").parquet(src)
        st3 = invoke()
        assert st3.total_folds == 3
        extra.filter(eshard >= 5).coalesce(1).write.mode("append").parquet(src)
        st4 = invoke()
        head2 = st4.current_base()
        assert st4.total_folds == 4
        assert not os.path.exists(f"{head2}/_PARENT.json")  # compacted again
        assert canon(read_bucketed_index(spark, tbl)) == canon(
            read_stage_chain(spark, head2, "block_index")
        )
        files_c2 = data_files()
        for f, size in files_c1.items():
            assert files_c2.get(f) == size, (
                f"second compaction rewrote bucketed data file {f}"
            )
        assert ensure_bucketed_index(spark, tbl, head2, n_buckets=4, path=loc) is False
        assert folds == [("sort_merge", {"SortMergeJoin"})] * 4
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


# ---------------------------------------------------------------------------
# applyInPandasWithState custom stateful sessionizer (gap + event-count cap)
# ---------------------------------------------------------------------------

def _sentinels(spark, events_batch):
    """One far-future event per user: its arrival closes every user's final
    real session through the normal gap rule (no reliance on a trailing
    no-data micro-batch firing timeouts for finite test streams)."""
    mx = events_batch.agg(F.max("ts").alias("m")).first()["m"]
    users = events_batch.select("user_id").distinct()
    return users.select(
        (F.lit(10**9) + F.col("user_id")).alias("event_id"),
        F.lit(mx + __import__("datetime").timedelta(days=10)).alias("ts"),
        "user_id",
        F.lit("sentinel").alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit("{}").alias("props"),
    )


def _capped_rows(df, max_real_ts):
    rows = df.filter(F.col("session_start") <= F.lit(max_real_ts)).collect()
    return sorted(
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"],
         round(r["sum_value"], 4))
        for r in rows
    )


def _run_capped(spark, parts, tmpdir, gap_seconds=1800, max_events=3):
    """Write each part as one parquet file (append), stream with
    maxFilesPerTrigger=1 so each part is its own micro-batch (state must
    carry across batches), availableNow to completion."""
    import time

    from mel_spark.streaming.events import sessionize_capped_stream

    src = f"{tmpdir}/capped_src"
    for p in parts:
        p.coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)  # distinct mtimes → deterministic file order
    stream = (
        spark.readStream.schema(parts[0].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = sessionize_capped_stream(
        stream, gap_seconds=gap_seconds, max_events=max_events
    )
    q = (
        out.writeStream.format("memory")
        .queryName("capped_sink")
        .outputMode("append")
        .option("checkpointLocation", f"{tmpdir}/capped_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return spark.table("capped_sink")


def test_capped_sessions_stream_converges_to_batch(spark, events_batch, tmp_path):
    from mel_spark.streaming.events import sessionize_capped_batch

    mx = events_batch.agg(F.max("ts").alias("m")).first()["m"]
    got = _run_capped(
        spark,
        [events_batch.unionByName(_sentinels(spark, events_batch))],
        str(tmp_path),
    )
    expected = sessionize_capped_batch(events_batch, 1800, 3)
    assert _capped_rows(got, mx) == _capped_rows(expected, mx)


def test_capped_sessions_state_carries_across_batches(spark, events_batch, tmp_path):
    """Split the events at the median ts into two micro-batches: open sessions
    (start, running count toward the cap, running sum) must carry in state and
    close identically to the single-pass batch twin."""
    from mel_spark.streaming.events import sessionize_capped_batch

    us = F.unix_micros(F.col("ts").cast("timestamp"))
    mid = events_batch.select(us.alias("us")).approxQuantile("us", [0.5], 0.0)[0]
    mx = events_batch.agg(F.max("ts").alias("m")).first()["m"]
    first = events_batch.filter(us <= F.lit(int(mid)))
    second = events_batch.filter(us > F.lit(int(mid)))
    assert first.count() > 0 and second.count() > 0
    got = _run_capped(
        spark,
        [first, second, _sentinels(spark, events_batch)],
        str(tmp_path),
    )
    expected = sessionize_capped_batch(events_batch, 1800, 3)
    assert _capped_rows(got, mx) == _capped_rows(expected, mx)


def test_capped_sessions_event_time_timeout_flushes_idle_user(spark, tmp_path):
    """The hasTimedOut branch: user A's open session must be EMITTED once
    another user's much-later event advances the watermark past A's gap
    horizon — no further data for A required (this is how open sessions drain
    on a real unbounded stream)."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows_a = [(1, t0, 7, "e", 1.5, "{}"), (2, t0 + dt.timedelta(seconds=60), 7, "e", 2.5, "{}")]
    rows_b = [(3, t0 + dt.timedelta(days=30), 8, "e", 0.0, "{}")]
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    batch_a = spark.createDataFrame(rows_a, cols)
    batch_b = spark.createDataFrame(rows_b, cols)
    got = _run_capped(spark, [batch_a, batch_b], str(tmp_path)).collect()
    by_user = {r["user_id"]: r for r in got}
    assert 7 in by_user, f"user 7's idle session was never flushed: {got}"
    a = by_user[7]
    assert a["n_events"] == 2
    assert abs(a["sum_value"] - 4.0) < 1e-9
    assert a["session_start"] == t0
    assert a["session_end"] == t0 + dt.timedelta(seconds=60)
    assert 8 not in by_user  # user 8's session is still open (no later data)


def test_streaming_fold_maintains_ann_index(spark, tmp_path):
    """With ann_index_path set, epoch 0 builds the persisted IVF index from
    the chain and later epochs append their embed_delta as fenced epochs —
    and a replayed epoch (same fold dir token) does not double-append."""
    import os

    from mel_spark.operators.ann_index import read_index_meta
    from mel_spark.pipeline import run_pipeline
    from mel_spark.streaming import StreamingFoldState, fold_micro_batch

    repos, shard = _mk_split_repos(spark, n_files=120, seed=37)
    base = str(tmp_path / "base")
    run_pipeline(spark, repos.filter(shard < 6), base)
    idx = str(tmp_path / "ann_idx")
    st = StreamingFoldState(
        base_checkpoint=base,
        fold_root=str(tmp_path / "folds"),
        ann_index_path=idx,
    )
    fold_micro_batch(st, repos.filter(shard.isin(6, 7)), epoch_id=0)
    m0 = read_index_meta(idx)  # first use: built from the chain (base+epoch0)
    assert m0["epochs"] == [0]

    fold_micro_batch(st, repos.filter(shard.isin(8, 9)), epoch_id=1)
    m1 = read_index_meta(idx)
    assert len(m1["epochs"]) == 2 and m1["rows"] > m0["rows"]

    # replay epoch 1 into the SAME fold dir (offsets loss): token fences
    fold_dir = st.current_base()
    from mel_spark.operators.ann_index import append_to_ivf_index
    from mel_spark.sources.checkpoint import CheckpointManager

    append_to_ivf_index(
        CheckpointManager(fold_dir).read("embed_delta", spark).select("csid", "emb"),
        idx, i_id="csid", i_emb="emb", token=fold_dir,
    )
    m2 = read_index_meta(idx)
    assert m2["epochs"] == m1["epochs"] and m2["rows"] == m1["rows"]
    lists = spark.read.parquet(os.path.join(idx, "lists"))
    assert lists.count() == m2["rows"]
