"""Connected-components correctness: transitivity, determinism, idempotence
(FIXTURES.md §6 invariants)."""

import pytest
from pyspark.sql import functions as F

from mel_spark.operators import cluster
from mel_spark.operators.cluster import attach_singletons, connected_components


@pytest.fixture
def distributed(monkeypatch):
    """Force the star rounds: no edge set fits a driver bound of zero."""
    monkeypatch.setattr(cluster, "DRIVER_CC_MAX_EDGES", 0)


def _spy(monkeypatch, name):
    """Count the calls of the cluster-module function ``name``."""
    calls = []
    orig = getattr(cluster, name)

    def wrapped(*args, **kwargs):
        calls.append(1)
        return orig(*args, **kwargs)

    monkeypatch.setattr(cluster, name, wrapped)
    return calls


def _cc(spark, edges):
    df = spark.createDataFrame(edges, ["mention_id_a", "mention_id_b"])
    return {
        r["mention_id"]: r["cluster_id"]
        for r in connected_components(df).collect()
    }


def test_chain_is_transitive(spark):
    got = _cc(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")])
    assert got["a"] == got["b"] == got["c"] == got["d"] == "a"
    assert got["x"] == got["y"] == "x"


def test_long_path_converges(spark):
    n = 40
    edges = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(n)]
    got = _cc(spark, edges)
    assert set(got.values()) == {"n000"}
    assert len(got) == n + 1


def test_star_and_cycle(spark):
    edges = [("h", f"l{i}") for i in range(10)] + [("c1", "c2"), ("c2", "c3"), ("c3", "c1")]
    got = _cc(spark, edges)
    assert len({got[f"l{i}"] for i in range(10)} | {got["h"]}) == 1
    assert got["c1"] == got["c2"] == got["c3"] == "c1"


def test_idempotent_rerun(spark):
    edges = [("a", "b"), ("b", "c"), ("p", "q")]
    assert _cc(spark, edges) == _cc(spark, edges)


def test_singletons_attached(spark):
    matches = spark.createDataFrame([("a", "b")], ["mention_id_a", "mention_id_b"])
    all_ids = spark.createDataFrame([("a",), ("b",), ("z",)], ["mention_id"])
    cc = connected_components(matches)
    out = {r["mention_id"]: r["cluster_id"] for r in attach_singletons(cc, all_ids).collect()}
    assert out == {"a": "a", "b": "a", "z": "z"}


def test_planted_hub_is_safe(spark, distributed):
    """A high-degree hub (the skewed match graph case, VERDICT r1 #3): the
    star steps must resolve it via scalar min-aggregation — no collect_set
    neighbor arrays — and still produce one transitive cluster. Pinned to
    the star rounds, whose hub safety this checks: 100k edges fit the
    driver bound, but a hub past the bound runs these rounds."""
    n = 100_000
    hub = spark.range(1, n + 1).select(
        F.lit(0).alias("mention_id_a"), F.col("id").alias("mention_id_b")
    )
    # a side chain hanging off the hub's last leaf exercises multi-round merging
    chain = spark.range(n, n + 50).select(
        F.col("id").alias("mention_id_a"), (F.col("id") + 1).alias("mention_id_b")
    )
    cc = connected_components(hub.union(chain))
    assert cc.select("cluster_id").distinct().collect()[0]["cluster_id"] == 0
    assert cc.count() == n + 51


def test_mid_clustering_resume(spark, tmp_path, distributed):
    """north_rule: the pipeline resumes MID-clustering. Run CC with a durable
    round checkpoint, simulate a crash by re-invoking with the same dir —
    the completed rounds must be read back, not recomputed, and the result
    must equal the non-checkpointed run. Pinned to the star rounds: only
    they write intermediate rounds to resume from."""
    import json
    import os

    n = 60
    edges = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(n)]
    df = spark.createDataFrame(edges, ["mention_id_a", "mention_id_b"])
    cc_dir = str(tmp_path / "cc")
    base = {r["mention_id"]: r["cluster_id"] for r in connected_components(df).collect()}
    first = {
        r["mention_id"]: r["cluster_id"]
        for r in connected_components(df, checkpoint_dir=cc_dir).collect()
    }
    assert first == base
    state = json.load(open(os.path.join(cc_dir, "_CC_STATE.json")))
    assert state["converged"] and state["iteration"] >= 1
    # "crash" after convergence: a rerun must resume, not restart — it reads
    # the final round back and performs ZERO additional star rounds
    n_rounds_before = len([d for d in os.listdir(cc_dir) if d.startswith("iter")])
    second = {
        r["mention_id"]: r["cluster_id"]
        for r in connected_components(df, checkpoint_dir=cc_dir).collect()
    }
    n_rounds_after = len([d for d in os.listdir(cc_dir) if d.startswith("iter")])
    assert second == base and n_rounds_after == n_rounds_before
    # mid-run crash: drop the converged flag and final round → resumes from
    # the remaining round and still converges to the same partition
    json.dump(
        {"iteration": state["iteration"] - 1,
         "fingerprint": state["fingerprint"], "converged": False},
        open(os.path.join(cc_dir, "_CC_STATE.json"), "w"),
    )
    third = {
        r["mention_id"]: r["cluster_id"]
        for r in connected_components(df, checkpoint_dir=cc_dir).collect()
    }
    assert third == base


def test_durable_every_cadence(spark, tmp_path, distributed):
    """durable_every=K: intermediate rounds are localCheckpoint-only, the
    converged round is still written durably with its state marker, results
    match the per-round-durable run, and crash-after-convergence resume
    performs zero extra rounds. Pinned to the star rounds: the cadence
    applies to them only (the driver path writes one converged round)."""
    import json
    import os

    n = 60  # a 61-node path needs several star rounds → exercises the cadence
    edges = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(n)]
    df = spark.createDataFrame(edges, ["mention_id_a", "mention_id_b"])
    base = {r["mention_id"]: r["cluster_id"] for r in connected_components(df).collect()}

    d1 = str(tmp_path / "cc_k1")
    dk = str(tmp_path / "cc_k3")
    got1 = {
        r["mention_id"]: r["cluster_id"]
        for r in connected_components(df, checkpoint_dir=d1).collect()
    }
    gotk = {
        r["mention_id"]: r["cluster_id"]
        for r in connected_components(df, checkpoint_dir=dk, durable_every=3).collect()
    }
    assert got1 == base and gotk == base

    st1 = json.load(open(os.path.join(d1, "_CC_STATE.json")))
    stk = json.load(open(os.path.join(dk, "_CC_STATE.json")))
    # same rounds to converge; the cadenced run wrote FEWER durable rounds
    assert stk["iteration"] == st1["iteration"] and stk["converged"]
    iters1 = {d for d in os.listdir(d1) if d.startswith("iter")}
    itersk = {d for d in os.listdir(dk) if d.startswith("iter")}
    assert len(itersk) < len(iters1)
    # the converged round is always durable, whatever the cadence
    assert f"iter{stk['iteration']}" in itersk

    # crash-after-convergence resume: same result, no new iter dirs
    again = {
        r["mention_id"]: r["cluster_id"]
        for r in connected_components(df, checkpoint_dir=dk, durable_every=3).collect()
    }
    assert again == base
    assert {d for d in os.listdir(dk) if d.startswith("iter")} == itersk


def test_matches_gold_partition(spark, tiny_tables):
    """Edges built from the gold assignment must recover exactly the gold
    partition (modulo label choice)."""
    ref = spark.createDataFrame(tiny_tables["reference_clusters"])
    gold_pairs = (
        ref.alias("a")
        .join(ref.alias("b"), F.col("a.entity_id") == F.col("b.entity_id"))
        .filter(F.col("a.mention_id") < F.col("b.mention_id"))
        .select(
            F.col("a.mention_id").alias("mention_id_a"),
            F.col("b.mention_id").alias("mention_id_b"),
        )
    )
    cc = attach_singletons(connected_components(gold_pairs), ref.select("mention_id"))
    joined = cc.join(ref, "mention_id")
    # each predicted cluster maps to exactly one gold entity and vice versa
    assert joined.groupBy("cluster_id").agg(F.countDistinct("entity_id").alias("n")).filter(
        "n > 1"
    ).count() == 0
    assert joined.groupBy("entity_id").agg(F.countDistinct("cluster_id").alias("n")).filter(
        "n > 1"
    ).count() == 0


def test_stale_state_discarded_on_fingerprint_mismatch(spark, tmp_path):
    """Rerunning into the same checkpoint dir with a DIFFERENT input
    fingerprint must discard the saved rounds and recompute — not resume
    from the previous input's converged edges (which silently emits stale
    components)."""
    ckpt = str(tmp_path / "cc")
    e1 = spark.createDataFrame(
        [("a", "b"), ("b", "c")], ["mention_id_a", "mention_id_b"]
    )
    got1 = {
        r["mention_id"]: r["cluster_id"]
        for r in connected_components(e1, checkpoint_dir=ckpt, input_fingerprint="fp1").collect()
    }
    assert got1 == {"b": "a", "c": "a", "a": "a"}
    # different edge set, SAME dir, new fingerprint: must reflect e2 only
    e2 = spark.createDataFrame(
        [("x", "y"), ("y", "z")], ["mention_id_a", "mention_id_b"]
    )
    got2 = {
        r["mention_id"]: r["cluster_id"]
        for r in connected_components(e2, checkpoint_dir=ckpt, input_fingerprint="fp2").collect()
    }
    assert got2 == {"y": "x", "z": "x", "x": "x"}, got2


def test_random_graphs_match_union_find_oracle(spark, monkeypatch):
    """Breadth check: random Erdős–Rényi-ish edge sets at several densities
    vs a pure-Python union-find with min-label semantics (cluster_id = min
    member id). The structural cases above pin known shapes; this pins the
    algorithm on graphs nobody hand-picked (seeded — deterministic), under
    both strategies."""
    import numpy as np

    def union_find_labels(edges, nodes):
        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for u, v in edges:
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[max(ru, rv)] = min(ru, rv)
        # relabel every component to its min member
        comp: dict[str, str] = {}
        for n in nodes:
            r = find(n)
            comp[r] = min(comp.get(r, n), n)
        return {n: comp[find(n)] for n in nodes}

    rng = np.random.default_rng(20260820)
    graphs = []
    for n_nodes, n_edges in [(30, 15), (60, 60), (50, 120), (200, 80)]:
        a = rng.integers(0, n_nodes, size=n_edges)
        b = rng.integers(0, n_nodes, size=n_edges)
        edges = [
            (f"v{u:03d}", f"v{v:03d}") for u, v in zip(a.tolist(), b.tolist()) if u != v
        ]
        if edges:
            graphs.append(((n_nodes, n_edges), edges))
    # both strategies: the driver solver, then the star rounds
    for bound in (cluster.DRIVER_CC_MAX_EDGES, 0):
        monkeypatch.setattr(cluster, "DRIVER_CC_MAX_EDGES", bound)
        for shape, edges in graphs:
            nodes = sorted({x for e in edges for x in e})
            expected = union_find_labels(edges, nodes)
            got = _cc(spark, edges)
            assert got == expected, f"mismatch at {shape}, driver bound {bound}"


def test_one_edge_over_the_bound_runs_distributed(spark, monkeypatch):
    """The bound is inclusive: an edge set of exactly DRIVER_CC_MAX_EDGES
    edges is solved on the driver, one more takes the star rounds — with
    the same labels. The self-loop is dropped before the bound is measured."""
    edges = [(f"n{i}", f"n{i + 1}") for i in range(5)] + [("q", "r"), ("z", "z")]
    monkeypatch.setattr(cluster, "DRIVER_CC_MAX_EDGES", len(edges) - 1)
    rounds = _spy(monkeypatch, "_large_star")
    at_bound = _cc(spark, edges)
    assert not rounds
    monkeypatch.setattr(cluster, "DRIVER_CC_MAX_EDGES", len(edges) - 2)
    over_bound = _cc(spark, edges)
    assert rounds
    assert at_bound == over_bound
    assert at_bound == {**{f"n{i}": "n0" for i in range(6)}, "q": "q", "r": "q"}


def test_driver_path_resumes_converged_forest(spark, tmp_path, monkeypatch):
    """With checkpoint_dir the driver path writes its forest once, as the
    converged round 0; a rerun reads it back without solving again and
    writes no new round."""
    import json
    import os

    edges = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(60)] + [("x", "y")]
    df = spark.createDataFrame(edges, ["mention_id_a", "mention_id_b"])
    cc_dir = str(tmp_path / "cc")
    base = {r["mention_id"]: r["cluster_id"] for r in connected_components(df).collect()}
    first = {
        r["mention_id"]: r["cluster_id"]
        for r in connected_components(df, checkpoint_dir=cc_dir).collect()
    }
    assert first == base
    state = json.load(open(os.path.join(cc_dir, "_CC_STATE.json")))
    assert state["converged"] and state["iteration"] == 0
    assert [d for d in os.listdir(cc_dir) if d.startswith("iter")] == ["iter0"]

    solves = _spy(monkeypatch, "_driver_star_forest")
    again = {
        r["mention_id"]: r["cluster_id"]
        for r in connected_components(df, checkpoint_dir=cc_dir).collect()
    }
    assert again == base and not solves
    assert [d for d in os.listdir(cc_dir) if d.startswith("iter")] == ["iter0"]


@pytest.mark.parametrize("strategy", ["driver", "distributed"])
@pytest.mark.parametrize("id_type", ["string", "long"])
def test_output_keeps_the_input_id_type(spark, monkeypatch, strategy, id_type):
    from pyspark.sql.types import LongType, StringType

    if strategy == "distributed":
        monkeypatch.setattr(cluster, "DRIVER_CC_MAX_EDGES", 0)
    t = {"string": StringType(), "long": LongType()}[id_type]
    raw = [(3, 1), (1, 2), (10, 11), (12, 11), (7, 7)]
    rows = [(str(a), str(b)) if id_type == "string" else (a, b) for a, b in raw]
    df = spark.createDataFrame(rows, f"mention_id_a {id_type}, mention_id_b {id_type}")
    cc = connected_components(df)
    assert [f.dataType for f in cc.schema.fields] == [t, t]
    got = {r["mention_id"]: r["cluster_id"] for r in cc.collect()}
    want = {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}
    if id_type == "string":
        want = {str(k): str(v) for k, v in want.items()}
    assert got == want


def test_non_convergence_raises(spark, distributed):
    """A star loop stopped before its fixpoint must fail loudly: its edges
    break the cluster_id = min member contract."""
    edges = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(60)]
    df = spark.createDataFrame(edges, ["mention_id_a", "mention_id_b"])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iterations=1)
