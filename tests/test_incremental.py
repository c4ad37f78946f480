"""Incremental ER: fold a new batch into a finished run (operators/incremental).

The hard contract: incremental_update(base=A, new=B) emits byte-identical
(mention_id, cluster_id) assignments to run_pipeline(A ∪ B) — same components,
same deterministic min-mid labels — while recomputing only batch-proportional
stages. Plus the two structural edge cases full-recompute pipelines get for
free and incremental ones classically get wrong: a new node merging two
existing clusters, and a known content surfacing under a new language opening
blocks the base run never formed.
"""

import pytest
from pyspark.sql import functions as F

from mel_spark.datagen import GenConfig, generate_repos
from mel_spark.operators.incremental import (
    content_roots,
    incremental_update,
    merge_components,
)
from mel_spark.pipeline import ERConfig, run_pipeline
from plan_shape import (
    ancestors,
    corpus_scan,
    join_above,
    plan_nodes,
    scans,
)

CLUSTER_COLS = ["mention_id", "cluster_id"]


def _clusters(df):
    return df.select(*CLUSTER_COLS)


def _assert_same_clusters(got, want):
    got, want = _clusters(got), _clusters(want)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_incremental_equals_full_run(spark, tmp_path):
    tables = generate_repos(GenConfig(n_files=500, seed=7))
    repos = spark.createDataFrame(tables["repos"])
    in_a = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(10)) < 7
    batch_a, batch_b = repos.filter(in_a), repos.filter(~in_a)
    assert batch_b.count() > 0

    full = run_pipeline(spark, repos, str(tmp_path / "full"))
    run_pipeline(spark, batch_a, str(tmp_path / "base"))
    inc = incremental_update(
        spark, str(tmp_path / "base"), batch_b, checkpoint_dir=str(tmp_path / "inc")
    )
    _assert_same_clusters(inc["clusters"], full["clusters"])


def test_new_node_merges_two_existing_clusters(spark):
    # new csid 100 matches members of two different existing clusters → all
    # three nodes must land in one component labeled by the min touched root
    edges = spark.createDataFrame(
        [(100, 1), (100, 2)], ["mention_id_a", "mention_id_b"]
    )
    roots = spark.createDataFrame([(1, 10), (2, 20)], ["csid", "root"])
    remap = {
        r["mention_id"]: r["cluster_id"]
        for r in merge_components(edges, roots).collect()
    }
    assert remap == {100: 10, 20: 10, 10: 10}


def test_known_content_in_new_language_opens_block(spark, tmp_path):
    # X and Y are near-duplicates but live in different languages in the base
    # corpus, so the base run never pairs them. The new batch re-sends content
    # X under Y's language — a full recompute pairs (X, Y) in that language's
    # band blocks, and the incremental path must find the same edge even
    # though X's features already exist (csid adoption, delta (csid, lang)).
    toks = ["def", "load", "config", "from", "path", "return", "parsed",
            "value", "with", "open", "file", "as", "handle", "read", "lines",
            "strip", "split", "key", "append", "result"] * 3
    x = " ".join(toks)
    y = " ".join(toks[:-1] + ["changed"])
    rows = [
        ("repoA", "a.py", "c1", "py", x),
        ("repoB", "b.js", "c1", "js", y),
    ]
    new_rows = [("repoC", "c.js", "c1", "js", x)]
    cols = ["repo", "path", "commit", "lang", "content"]
    base_df = spark.createDataFrame(rows, cols)
    new_df = spark.createDataFrame(new_rows, cols)

    base = run_pipeline(spark, base_df, str(tmp_path / "base"))
    # precondition: base run keeps X and Y apart (different langs)
    assert (
        base["clusters"].select("cluster_id").distinct().count() == 2
    ), "test premise broken: base run already merged X and Y"

    full = run_pipeline(
        spark, base_df.unionByName(new_df), str(tmp_path / "full")
    )
    inc = incremental_update(spark, str(tmp_path / "base"), new_df)
    _assert_same_clusters(inc["clusters"], full["clusters"])
    # and the merge really happened: one cluster holding all three mentions
    assert _clusters(inc["clusters"]).select("cluster_id").distinct().count() == 1


def test_resent_mentions_and_duplicate_contents_are_noops(spark, tmp_path):
    tables = generate_repos(GenConfig(n_files=200, seed=11))
    repos = spark.createDataFrame(tables["repos"])
    full = run_pipeline(spark, repos, str(tmp_path / "base"))
    # re-send a slice of the SAME rows: assignments must be unchanged and no
    # mention may be duplicated
    resend = repos.limit(40)
    inc = incremental_update(spark, str(tmp_path / "base"), resend)
    _assert_same_clusters(inc["clusters"], full["clusters"])
    n = inc["clusters"].count()
    assert inc["clusters"].select("mention_id").distinct().count() == n


def test_content_roots_cover_every_base_content(spark, tmp_path):
    tables = generate_repos(GenConfig(n_files=200, seed=13))
    repos = spark.createDataFrame(tables["repos"])
    out = run_pipeline(spark, repos, str(tmp_path / "base"))
    roots = content_roots(out["mentions"], out["clusters"])
    n_csid = out["mentions"].select("csid").distinct().count()
    assert roots.count() == n_csid
    assert roots.select("csid").distinct().count() == n_csid


def test_chained_folds_equal_full_run(spark, tmp_path):
    """Two successive incremental folds (checkpoint chain: deltas + parent
    pointers) reproduce a from-scratch run over all three batches, and
    compact_checkpoint collapses the chain without changing the answer."""
    from mel_spark.operators.incremental import compact_checkpoint, read_clusters_chain

    tables = generate_repos(GenConfig(n_files=400, seed=21))
    repos = spark.createDataFrame(tables["repos"])
    h = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(10))
    b0, b1, b2 = repos.filter(h < 6), repos.filter(h.between(6, 7)), repos.filter(h > 7)
    assert b1.count() > 0 and b2.count() > 0

    run_pipeline(spark, b0, str(tmp_path / "base"))
    incremental_update(
        spark, str(tmp_path / "base"), b1, checkpoint_dir=str(tmp_path / "f1")
    )
    inc2 = incremental_update(
        spark, str(tmp_path / "f1"), b2, checkpoint_dir=str(tmp_path / "f2")
    )
    full = run_pipeline(spark, repos, str(tmp_path / "full"))
    _assert_same_clusters(inc2["clusters"], full["clusters"])

    # chain reads reconstruct the same table the fold returned
    _assert_same_clusters(
        read_clusters_chain(spark, str(tmp_path / "f2")), full["clusters"]
    )
    # compaction materializes the chain and stays identical
    compact_checkpoint(spark, str(tmp_path / "f2"))
    _assert_same_clusters(
        read_clusters_chain(spark, str(tmp_path / "f2")), full["clusters"]
    )
    # a compacted fold dir is a standalone base (no parent pointer left)
    import os

    assert not os.path.exists(str(tmp_path / "f2" / "_PARENT.json"))


def test_empty_batch_is_identity(spark, tmp_path):
    """Folding an EMPTY batch must reproduce the base assignment exactly
    (degenerate-input contract, FIXTURES.md §7)."""
    tables = generate_repos(GenConfig(n_files=150, seed=31))
    repos = spark.createDataFrame(tables["repos"])
    base = run_pipeline(spark, repos, str(tmp_path / "base"))
    empty = repos.filter(F.lit(False))
    inc = incremental_update(
        spark, str(tmp_path / "base"), empty, checkpoint_dir=str(tmp_path / "f0")
    )
    _assert_same_clusters(inc["clusters"], base["clusters"])


def test_probe_keys_salting_consistent(spark):
    """The hot-key salt applied to BOTH probe sides: (1) below the threshold
    the salted probe is identical to the raw probe; (2) on a hot key the
    output is a subset of the raw probe (bounded recall trade), and members
    whose (block_key, member) salts agree still meet."""
    from mel_spark.operators.incremental import probe_keys

    hot = 7_000_000_000
    base = spark.createDataFrame(
        [(hot, i) for i in range(40)] + [(42, 1000), (42, 1001)],
        ["block_key", "mention_id"],
    )
    delta = spark.createDataFrame(
        [(hot, 500), (42, 2000)], ["block_key", "mention_id"]
    )
    raw = {
        (r["mention_id_a"], r["mention_id_b"])
        for r in probe_keys(delta, base).collect()
    }
    same = {
        (r["mention_id_a"], r["mention_id_b"])
        for r in probe_keys(delta, base, salt_threshold=100).collect()
    }
    assert same == raw  # no key above threshold -> identical
    salted = {
        (r["mention_id_a"], r["mention_id_b"])
        for r in probe_keys(delta, base, salt_threshold=10, n_salts=4).collect()
    }
    assert salted <= raw
    # the cold key (42) is untouched by salting
    assert (1000, 2000) in salted and (1001, 2000) in salted
    # the hot-key probe survives for sub-block co-residents (recall > 0)
    assert any(a != 500 and b == 500 or a == 500 for a, b in salted - {(1000, 2000), (1001, 2000)})


def test_probe_keys_salting_matches_full_run_sub_blocks(spark):
    """On a hot key, a (base, new) pair meets in the salted probe iff a full
    run's salt_hot_blocks over base ∪ delta puts both in one sub-block; the
    fold-equals-full-run contract rests on the two salting the same way."""
    from mel_spark.operators import blocking
    from mel_spark.operators.incremental import probe_keys

    hot, cold = 9_000_000_000, 77
    base = spark.createDataFrame(
        [(hot, i) for i in range(40)] + [(cold, 1000), (cold, 1001)],
        ["block_key", "mention_id"],
    )
    new_ids = range(5000, 5012)
    delta = spark.createDataFrame(
        [(hot, i) for i in new_ids] + [(cold, 5000)], ["block_key", "mention_id"]
    )
    probed = {
        (r["mention_id_a"], r["mention_id_b"])
        for r in probe_keys(
            delta, base, max_candidates_per_key=1000, salt_threshold=20, n_salts=4
        ).collect()
    }
    salted = blocking.salt_hot_blocks(
        base.unionByName(delta), salt_threshold=20, n_salts=4
    ).collect()
    sub_blocks = {}
    for r in salted:
        sub_blocks.setdefault(r["block_key"], set()).add(r["mention_id"])
    new = set(new_ids)
    # probe pairs are (least, greatest) = (base, new): base ids are smaller
    full_run = {
        (b, n) for members in sub_blocks.values() for n in members & new for b in members - new
    }
    assert probed == full_run
    hot_pairs = {(b, n) for b, n in probed if b < 40}
    assert 0 < len(hot_pairs) < 40 * len(new_ids)  # the hot key WAS split
    assert {(1000, 5000), (1001, 5000)} <= probed  # the cold key was not


def test_probe_keys_duplicate_base_rows_are_output_neutral(spark):
    """The bucketed table's documented crash window (append committed, fold
    marker lost → replay re-appends) duplicates base index rows. The probe
    must emit IDENTICAL pairs over the duplicated stream — even when the
    per-(new, key) cap binds — because the cap is a dense_rank: a duplicated
    old member ties with itself instead of consuming a second slot and
    evicting a real candidate."""
    from mel_spark.operators.incremental import probe_keys

    base = spark.createDataFrame(
        [(1, i) for i in range(10)] + [(2, 100), (2, 101)],
        ["block_key", "mention_id"],
    )
    delta = spark.createDataFrame([(1, 500), (2, 600)], ["block_key", "mention_id"])

    def pairs(b, cap):
        return {
            (r["mention_id_a"], r["mention_id_b"])
            for r in probe_keys(delta, b, max_candidates_per_key=cap).collect()
        }

    dup = base.unionByName(base)  # every base row delivered twice
    for cap in (3, 64):  # binding and non-binding cap
        assert pairs(dup, cap) == pairs(base, cap)
    # the binding cap keeps the 3 min-ordered old members of block 1
    assert pairs(base, 3) == {(0, 500), (1, 500), (2, 500), (100, 600), (101, 600)}


def test_fold_into_pre_block_index_base(spark, tmp_path):
    """A base checkpoint produced before the durable block_index stage existed
    (ingest/embed/clusters only) must still fold correctly: the probe keys
    fall back to re-deriving the base band keys from the features in hand."""
    import shutil

    tables = generate_repos(GenConfig(n_files=300, seed=11))
    repos = spark.createDataFrame(tables["repos"])
    in_a = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(10)) < 7
    batch_a, batch_b = repos.filter(in_a), repos.filter(~in_a)

    full = run_pipeline(spark, repos, str(tmp_path / "full"))
    base = str(tmp_path / "base")
    run_pipeline(spark, batch_a, base)
    # simulate the old layout: drop the durable block index from the base
    shutil.rmtree(f"{base}/block_index", ignore_errors=True)
    import os

    os.remove(f"{base}/block_index._MARKER.json")
    inc = incremental_update(
        spark, base, batch_b, checkpoint_dir=str(tmp_path / "inc")
    )
    _assert_same_clusters(inc["clusters"], full["clusters"])


def test_fold_into_own_base_rejected(spark, tmp_path):
    """checkpoint_dir == base_checkpoint corrupts the base (self-referential
    parent; stale full 'clusters' marker shadows clusters_delta) — must be
    rejected up front."""
    tables = generate_repos(GenConfig(n_files=60, seed=3))
    repos = spark.createDataFrame(tables["repos"])
    base = str(tmp_path / "base")
    run_pipeline(spark, repos, base)
    with pytest.raises(ValueError, match="must differ"):
        incremental_update(spark, base, repos, checkpoint_dir=base)


def test_compact_pre_block_index_chain(spark, tmp_path):
    """compact_checkpoint over a chain rooted in a pre-block_index base must
    not crash: it materializes ingest/embed/clusters, skips the absent index
    (future folds use the feature-derived fallback), and the compacted dir
    still reads the correct full assignment."""
    import os
    import shutil

    from mel_spark.operators.incremental import compact_checkpoint, read_clusters_chain

    tables = generate_repos(GenConfig(n_files=200, seed=5))
    repos = spark.createDataFrame(tables["repos"])
    in_a = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(10)) < 7
    base = str(tmp_path / "base")
    run_pipeline(spark, repos.filter(in_a), base)
    shutil.rmtree(f"{base}/block_index", ignore_errors=True)
    os.remove(f"{base}/block_index._MARKER.json")

    inc_dir = str(tmp_path / "inc")
    incremental_update(spark, base, repos.filter(~in_a), checkpoint_dir=inc_dir)
    before = read_clusters_chain(spark, inc_dir).collect()
    compact_checkpoint(spark, inc_dir)
    assert not os.path.exists(f"{inc_dir}/_PARENT.json")
    after = read_clusters_chain(spark, inc_dir).collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))


def test_known_csid_filter_plan_no_corpus_broadcast(spark, tmp_path):
    """The fold's known-csid prefilter must NEVER broadcast the corpus side:
    in the physical plan, the base feature scan's nearest exchange/join
    ancestor must be the LeftSemi join against the (batch-sized) csid set —
    not a BroadcastExchange, which is what the old corpus-side broadcast
    produced (~8 GB driver memory per 10^9 contents)."""
    from mel_spark.operators.incremental import known_csid_filter

    feats_path = str(tmp_path / "feats")
    spark.range(0, 5000).selectExpr("id as csid", "id * 2 as other").write.parquet(
        feats_path
    )
    feats_b = spark.read.parquet(feats_path)
    new_m = spark.createDataFrame(
        [(1, "a"), (2, "b"), (9999999, "c")], ["csid", "payload"]
    )
    out = known_csid_filter(feats_b, new_m)
    # correctness: only the unseen csid survives
    assert [r["csid"] for r in out.collect()] == [9999999]

    plan = out._jdf.queryExecution().executedPlan().toString()
    nodes = plan_nodes(plan)
    # the ONLY parquet scan in this query is the corpus (feats) side — the
    # batch is a local relation
    feats_scans = scans(nodes)
    assert feats_scans, f"no feats scan found in plan:\n{plan}"
    for i in feats_scans:
        # the NEAREST exchange-or-join above the corpus scan must be the
        # LeftSemi prefilter, never a BroadcastExchange
        hit = next(
            (t for t in ancestors(nodes, i) if "BroadcastExchange" in t or "Join" in t),
            None,
        )
        assert hit is not None and "LeftSemi" in hit, (
            f"corpus scan's nearest exchange/join ancestor is {hit!r}:\n{plan}"
        )


def test_chain_depth_50_reads_flat(spark, tmp_path):
    """A 50-deep fold chain must still resolve (iterative walk, no Python
    recursion) and read_clusters_chain must stay cheap: O(depth) unions + ONE
    aggregation + ONE anti-join, not one join per fold. Override semantics:
    the latest fold's assignment wins per mention."""
    import time

    from mel_spark.operators.incremental import (
        _write_parent,
        chain_depth,
        read_clusters_chain,
        read_stage_chain,
    )
    from mel_spark.sources.checkpoint import CheckpointManager

    depth = 50
    root = str(tmp_path / "d0")
    CheckpointManager(root).write(
        "clusters",
        spark.createDataFrame([(f"m{i}", 0) for i in range(5)], ["mention_id", "cluster_id"]),
    )
    CheckpointManager(root).write(
        "ingest", spark.createDataFrame([("m0", "x")], ["mention_id", "content"])
    )
    prev = root
    for k in range(1, depth + 1):
        d = str(tmp_path / f"d{k}")
        # each fold adds one mention AND re-assigns mention m0 to cluster k
        CheckpointManager(d).write(
            "clusters_delta",
            spark.createDataFrame(
                [(f"new{k}", k), ("m0", k)], ["mention_id", "cluster_id"]
            ),
        )
        CheckpointManager(d).write(
            "ingest_delta",
            spark.createDataFrame([(f"new{k}", "y")], ["mention_id", "content"]),
        )
        _write_parent(d, prev)
        prev = d

    assert chain_depth(prev) == depth
    t0 = time.time()
    rows = {r["mention_id"]: r["cluster_id"] for r in read_clusters_chain(spark, prev).collect()}
    elapsed = time.time() - t0
    assert rows["m0"] == depth  # latest override wins
    assert rows["new7"] == 7 and rows["m4"] == 0
    assert len(rows) == 5 + depth
    assert read_stage_chain(spark, prev, "ingest").count() == 1 + depth
    # analyzer + execution must stay in seconds at depth 50 (the recursive
    # per-fold-join construction this replaces blew up superlinearly)
    assert elapsed < 60, f"depth-{depth} chain read took {elapsed:.1f}s"


def test_block_sizes_persisted_and_appended(spark, tmp_path):
    """run_pipeline persists per-key block sizes next to the block index;
    every fold appends a block_sizes_delta; totals through the chain equal a
    fresh count over the chained index (the fold's hot-key set derives from
    these instead of re-counting the corpus key stream)."""
    import os

    from mel_spark.operators.incremental import read_stage_chain

    tables = generate_repos(GenConfig(n_files=200, seed=23))
    repos = spark.createDataFrame(tables["repos"])
    in_a = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(10)) < 7
    base = str(tmp_path / "base")
    out = run_pipeline(spark, repos.filter(in_a), base)
    assert os.path.exists(f"{base}/block_sizes._MARKER.json")

    inc_dir = str(tmp_path / "inc")
    incremental_update(spark, base, repos.filter(~in_a), checkpoint_dir=inc_dir)
    assert os.path.exists(f"{inc_dir}/block_sizes_delta._MARKER.json")

    totals = (
        read_stage_chain(spark, inc_dir, "block_sizes")
        .groupBy("block_key")
        .agg(F.sum("block_size").alias("n"))
    )
    fresh = (
        read_stage_chain(spark, inc_dir, "block_index")
        .groupBy("block_key")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert totals.exceptAll(fresh).count() == 0
    assert fresh.exceptAll(totals).count() == 0


def test_probe_keys_hot_set_counts_base_plus_delta(spark):
    """A key hot only in AGGREGATE (base and delta each below the threshold)
    must still be salted — matching a full run's salt_hot_blocks, which
    counts TOTAL block size. 150 base + 150 delta members with threshold 200:
    base-only counting would leave the key raw (all 150x150 pairs in one
    window partition); combined counting salts it (strict subset survives)."""
    from mel_spark.operators.incremental import probe_keys

    k = 5_000_000_000
    base = spark.createDataFrame(
        [(k, i) for i in range(150)], ["block_key", "mention_id"]
    )
    delta = spark.createDataFrame(
        [(k, 10_000 + i) for i in range(150)], ["block_key", "mention_id"]
    )
    raw = probe_keys(delta, base, max_candidates_per_key=1000).count()
    salted = probe_keys(
        delta, base, max_candidates_per_key=1000, salt_threshold=200, n_salts=4
    ).count()
    assert raw == 150 * 150
    assert 0 < salted < raw  # the aggregate-hot key WAS salted


def test_fold_clusters_plan_scans_corpus_never_shuffles_it(
    spark, tmp_path, er_job_joins, full_scan_locations
):
    """Whole-fold shuffle discipline: in the physical plan of the fold's
    updated assignment, every parquet scan of a BASE checkpoint table must
    feed a broadcast join as the STREAMED side — its nearest exchange/join
    ancestor is a Broadcast*Join, never an `Exchange hashpartitioning`
    (corpus shuffled) and never a `BroadcastExchange` (corpus collected to
    the driver). er_job runs with auto-broadcast disabled, so every
    batch-sized build side must carry an explicit hint — this test pins
    that property for the fold end-to-end, not just known_csid_filter, with
    every broadcast gate deciding "broadcast" at the real bound. The
    relabel's two measured frames are local checkpoints inside
    clusters_delta, so their corpus scans are audited in their own captured
    plans."""
    tables = generate_repos(GenConfig(n_files=300, seed=31))
    repos = spark.createDataFrame(tables["repos"])
    in_a = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(10)) < 7
    base = str(tmp_path / "base")
    run_pipeline(spark, repos.filter(in_a), base)

    plans: dict[str, str] = {}
    # with a fold checkpoint dir, as er_job runs it: the captured plans also
    # scan the fold's own delta stages back, so the corpus scans are the
    # ones located under the base checkpoint
    out = incremental_update(
        spark, base, repos.filter(~in_a), checkpoint_dir=str(tmp_path / "inc"),
        plan_capture=plans,
    )
    assert out["joins"] == {
        "probe": "broadcast", "relabel": "broadcast", "override": "broadcast"
    }

    assert {"mentions_touch", "touched_members", "clusters_delta",
            "clusters_full"} <= set(plans)
    audited_scans = 0
    for stage, plan in plans.items():
        nodes = plan_nodes(plan)
        corpus_scans = scans(nodes, corpus_scan(base))
        audited_scans += len(corpus_scans)
        for i in corpus_scans:
            hit = next(
                (t for t in ancestors(nodes, i) if "Exchange" in t or "Join" in t), None
            )
            assert hit is not None and "Join" in hit and "Broadcast" in hit, (
                f"[{stage}] corpus scan {nodes[i][1]!r} nearest exchange/join "
                f"ancestor is {hit!r} — corpus must stream through a "
                f"broadcast join:\n{plan}"
            )
    assert audited_scans > 0, f"no base-table scans audited: {list(plans)}"


def test_chained_fold_plan_scans_root_never_shuffles_it(
    spark, tmp_path, er_job_joins, full_scan_locations, monkeypatch
):
    """The shuffle discipline holds for a fold onto a FOLD dir too (every
    streaming epoch after the first, every daily fold onto yesterday's fold):
    base → fold1 → fold2, and in fold2's captured plans and in the chain read
    of fold2 every scan of the ROOT run's tables feeds a Broadcast*Join — the
    chain read's override broadcasts the overridden ids while they fit. The
    relabel carries each member's base label instead of re-reading it, so
    ``clusters_delta``'s own plan scans no base cluster table at all. Past the
    bound (budget 0) the chain read's anti-join over the root ``clusters``
    joins sort-merge, with the same clusters."""
    from mel_spark.operators import incremental
    from mel_spark.operators.incremental import read_clusters_chain

    tables = generate_repos(GenConfig(n_files=300, seed=31))
    repos = spark.createDataFrame(tables["repos"])
    h = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(10))
    base, f1, f2 = (str(tmp_path / d) for d in ("base", "f1", "f2"))
    run_pipeline(spark, repos.filter(h < 6), base)
    incremental_update(spark, base, repos.filter(h.between(6, 7)), checkpoint_dir=f1)
    plans: dict[str, str] = {}
    out = incremental_update(
        spark, f1, repos.filter(h > 7), checkpoint_dir=f2, plan_capture=plans
    )
    assert out["joins"] == {
        "probe": "broadcast", "relabel": "broadcast", "override": "broadcast"
    }
    chain = read_clusters_chain(spark, f2)
    plans["chain_read"] = chain._jdf.queryExecution().executedPlan().toString()

    audited_scans = 0
    for stage, plan in plans.items():
        nodes = plan_nodes(plan)
        root_scans = scans(nodes, corpus_scan(base))
        audited_scans += len(root_scans)
        for i in root_scans:
            hit = next(
                (t for t in ancestors(nodes, i) if "Exchange" in t or "Join" in t), None
            )
            assert hit is not None and "Join" in hit and "Broadcast" in hit, (
                f"[{stage}] root scan {nodes[i][1]!r} nearest exchange/join "
                f"ancestor is {hit!r}:\n{plan}"
            )
    assert scans(plan_nodes(plans["chain_read"]), corpus_scan(base, "clusters"))
    assert audited_scans > 0
    delta_nodes = plan_nodes(plans["clusters_delta"])
    assert not scans(delta_nodes, corpus_scan(base, "clusters"))
    assert not scans(delta_nodes, corpus_scan(f1, "clusters_delta"))

    want = _clusters(chain).collect()
    monkeypatch.setattr(incremental, "FOLD_BROADCAST_MAX_BYTES", 0)
    chain_sm = read_clusters_chain(spark, f2)
    plan_sm = chain_sm._jdf.queryExecution().executedPlan().toString()
    assert join_above(plan_sm, corpus_scan(base, "clusters"), "LeftAnti") == {
        "SortMergeJoin"
    }
    assert sorted(_clusters(chain_sm).collect()) == sorted(want)


@pytest.mark.parametrize(
    "gen_seed,split_seed,base_pct",
    [(101, 1, 8), (202, 2, 5), (303, 3, 2)],
)
def test_incremental_equals_full_run_randomized(
    spark, tmp_path, gen_seed, split_seed, base_pct
):
    """Seeded-randomized twin of the fixed-split equivalence (SURVEY §5:
    the reference tests invariants over seeded random inputs, e.g.
    tests/finetunings/evaluation/test_find_recall.py:25-66). Three corpora
    and three base/batch split geometries — including a tiny 20% base with
    an 80% batch, the worst case for the probe/relabel paths because almost
    every base cluster is touched — must each reproduce the from-scratch
    assignment byte-identically."""
    tables = generate_repos(GenConfig(n_files=300, seed=gen_seed))
    repos = spark.createDataFrame(tables["repos"])
    in_a = (
        F.pmod(F.xxhash64("repo", "path", "commit", F.lit(split_seed)), F.lit(10))
        < base_pct
    )
    batch_a, batch_b = repos.filter(in_a), repos.filter(~in_a)
    assert batch_a.count() > 0 and batch_b.count() > 0

    full = run_pipeline(spark, repos, str(tmp_path / "full"))
    run_pipeline(spark, batch_a, str(tmp_path / "base"))
    inc = incremental_update(
        spark, str(tmp_path / "base"), batch_b, checkpoint_dir=str(tmp_path / "inc")
    )
    _assert_same_clusters(inc["clusters"], full["clusters"])


def test_fold_sort_merge_relabel_equals_broadcast(
    spark, tmp_path, er_job_joins, fold_sort_merge, full_scan_locations
):
    """Past the broadcast bound (forced: budget 0) — the mega-cluster case,
    where touched-cluster membership outgrows any broadcast — the relabel
    build sides and the override anti-join join sort-merge, while the probe
    over the chain read still broadcasts (a sort-merge probe there would
    shuffle the corpus key stream). Under er_job's join conf the captured
    plans show it, and the assignment stays byte-identical to a from-scratch
    run (which the broadcast path is pinned to elsewhere): only the join
    strategy moves."""
    tables = generate_repos(GenConfig(n_files=400, seed=17))
    repos = spark.createDataFrame(tables["repos"])
    in_a = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(10)) < 7
    batch_a, batch_b = repos.filter(in_a), repos.filter(~in_a)

    full = run_pipeline(spark, repos, str(tmp_path / "full"))
    base = str(tmp_path / "base")
    run_pipeline(spark, batch_a, base)
    plans: dict[str, str] = {}
    # with a fold checkpoint dir, as er_job runs it; corpus scans are told
    # from the fold's read-back of its own delta stages by location
    inc_sm = incremental_update(
        spark, base, batch_b, checkpoint_dir=str(tmp_path / "inc"), plan_capture=plans
    )
    assert inc_sm["joins"] == {
        "probe": "broadcast", "relabel": "sort_merge", "override": "sort_merge"
    }
    assert join_above(plans["pairs_delta"], corpus_scan(base, "block_index"), "Inner") == {
        "BroadcastHashJoin"
    }
    assert "BroadcastHashJoin" not in plans["clusters_delta"]
    assert join_above(plans["clusters_full"], corpus_scan(base, "clusters"), "LeftAnti") == {
        "SortMergeJoin"
    }
    _assert_same_clusters(inc_sm["clusters"], full["clusters"])


def test_pairs_delta_plan_reads_the_corpus_index_once_per_probe_branch(
    spark, tmp_path, er_job_joins, full_scan_locations
):
    """The fold's candidate frame is built once in ``pairs_delta``'s plan:
    the scorer streams it, and the endpoint ids that prune the records are
    one explode over it, materialized once. So the corpus ``block_index``
    is scanned once per probe branch (the cold raw-key join and the hot
    salted one). Re-deriving the candidates for each record side of the
    scorer would scan it 18 times."""
    tables = generate_repos(GenConfig(n_files=120, seed=17))
    repos = spark.createDataFrame(tables["repos"])
    in_a = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(10)) < 7
    base = str(tmp_path / "base")
    run_pipeline(spark, repos.filter(in_a), base)
    plans: dict[str, str] = {}
    incremental_update(
        spark, base, repos.filter(~in_a), checkpoint_dir=str(tmp_path / "inc"),
        plan_capture=plans,
    )
    nodes = plan_nodes(plans["pairs_delta"])
    assert len(scans(nodes, corpus_scan(base, "block_index"))) == 2, plans["pairs_delta"]


def test_one_delta_key_over_the_bound_probes_sort_merge(
    spark, tmp_path, er_job_joins, monkeypatch
):
    """The bound is inclusive: over the bucketed block index, a fold whose
    delta keys fill the broadcast budget exactly broadcasts them into the
    probe, one key more and the probe joins sort-merge — with the same
    clusters. A resumed fold measures nothing for the stages it skips (probe
    and relabel None), and decides its override join from the same delta a
    fresh fold measures."""
    from mel_spark.operators import incremental
    from mel_spark.operators.incremental import read_stage_chain
    from mel_spark.sources.bucketed import write_bucketed_index
    from mel_spark.sources.checkpoint import CheckpointManager

    tables = generate_repos(GenConfig(n_files=150, seed=5))
    repos = spark.createDataFrame(tables["repos"])
    in_a = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(10)) < 7
    base, fold = str(tmp_path / "base"), str(tmp_path / "inc")
    batch = repos.filter(~in_a)
    run_pipeline(spark, repos.filter(in_a), base)
    fresh = incremental_update(spark, base, batch, checkpoint_dir=fold)
    n_keys = CheckpointManager(fold).counters("block_index_delta")["rows"]
    assert n_keys > 1

    tbl = "bidx_at_bound"
    write_bucketed_index(
        read_stage_chain(spark, base, "block_index"), tbl, n_buckets=4,
        path=str(tmp_path / "bidx"),
    )
    try:
        for n_fit, kind, strategy in (
            (n_keys, "broadcast", "BroadcastHashJoin"),
            (n_keys - 1, "sort_merge", "SortMergeJoin"),
        ):
            with monkeypatch.context() as m:
                m.setattr(
                    incremental, "FOLD_BROADCAST_MAX_BYTES",
                    n_fit * incremental._KEY_ROW_BYTES,
                )
                plans: dict[str, str] = {}
                out = incremental_update(
                    spark, base, batch, plan_capture=plans, base_keys_table=tbl
                )
                assert out["joins"]["probe"] == kind
                assert join_above(plans["pairs_delta"], tbl, "Inner") == {strategy}
                _assert_same_clusters(out["clusters"], fresh["clusters"])
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")

    assert fresh["joins"]["override"] == "broadcast"
    resumed = incremental_update(spark, base, batch, checkpoint_dir=fold)
    assert resumed["joins"] == {"probe": None, "relabel": None, "override": "broadcast"}
    monkeypatch.setattr(incremental, "FOLD_BROADCAST_MAX_BYTES", 0)
    resumed = incremental_update(spark, base, batch, checkpoint_dir=fold)
    assert resumed["joins"]["override"] == "sort_merge"
    _assert_same_clusters(resumed["clusters"], fresh["clusters"])


def test_fold_crash_resume_skips_green_delta_stages(spark, tmp_path):
    """A fold killed between delta stages resumes from its last green stage:
    re-invoking incremental_update with the same fold dir after the later
    stage checkpoints are lost (a) does NOT recompute the green ingest/embed
    deltas (their parquet is untouched on disk) and (b) emits byte-identical
    clusters to the uninterrupted fold."""
    import os
    import shutil

    tables = generate_repos(GenConfig(n_files=400, seed=11))
    repos = spark.createDataFrame(tables["repos"])
    in_a = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(10)) < 7
    batch_a, batch_b = repos.filter(in_a), repos.filter(~in_a)
    run_pipeline(spark, batch_a, str(tmp_path / "base"))

    fold_dir = tmp_path / "inc"
    done = incremental_update(
        spark, str(tmp_path / "base"), batch_b, checkpoint_dir=str(fold_dir)
    )
    want = done["clusters"].select("mention_id", "cluster_id").collect()

    def _stage_mtimes(stage):
        d = fold_dir / stage
        return sorted(
            (f, os.path.getmtime(os.path.join(r, f)))
            for r, _, fs in os.walk(d) for f in fs if f.endswith(".parquet")
        )

    before = {s: _stage_mtimes(s) for s in ("ingest_delta", "embed_delta")}

    # crash window: pairs_delta onward never committed; the parent pointer
    # (written after clusters_delta) is lost with them
    for stale in ("pairs_delta", "clusters_delta", "cc_rounds", "_PARENT.json"):
        p = fold_dir / stale
        if p.is_dir():
            shutil.rmtree(p)
        elif p.exists():
            p.unlink()
    for stale in ("pairs_delta", "clusters_delta"):
        marker = fold_dir / f"{stale}._MARKER.json"
        if marker.exists():
            marker.unlink()

    redone = incremental_update(
        spark, str(tmp_path / "base"), batch_b, checkpoint_dir=str(fold_dir)
    )
    got = redone["clusters"].select("mention_id", "cluster_id").collect()
    assert sorted(got) == sorted(want)
    after = {s: _stage_mtimes(s) for s in ("ingest_delta", "embed_delta")}
    assert after == before, "green delta stages must resume, not recompute"
