"""Transitive clustering: connected components of the match graph.

The reference resolves each mention to exactly one entity (argmax over
candidates, src/models/recall_calculator.py:100-110); our target generalizes
that to transitive entity clusters over the match graph (north_star).

``connected_components`` picks its strategy from a bound it measures:

 - DRIVER (at most ``DRIVER_CC_MAX_EDGES`` = 2**21 edges): the edges are
   collected through Arrow and solved in NumPy. The star rounds pay per-job
   and per-stage scheduling latency every round — seconds even for a few
   thousand edges — while the NumPy solve of 2**21 edges takes 0.6–3.2 s on
   one core (path and random graphs, 4-core x86 host). Safe because the
   bound is MEASURED by a limited collect (``limit(bound + 1)``), not
   estimated from Catalyst stats: however wrong an estimate would be, the
   driver never receives more than bound + 1 rows (~32 MB of long pairs),
   and one row over the bound sends the graph to the star rounds.
 - DISTRIBUTED (anything larger): the Kiveris et al. "Connected Components
   in MapReduce and Beyond" alternating large-star/small-star algorithm
   expressed as DataFrame self-joins with min-aggregation; every iteration
   localCheckpoints to break lineage (SURVEY.md §7.3 hard-part #1).

Scale notes for the star rounds (100 TB / 10^12 edges):
 - each round is one groupBy shuffle on node id; AQE handles skewed hubs,
 - HUB-SAFE: each star step is a scalar min() aggregation joined back to the
   edge list — no per-node neighbor arrays are ever materialized, so a
   multi-million-degree hub costs one partial-aggregatable min and a
   row-parallel join, never a single giant array row,
 - convergence is O(log n) rounds for large-star/small-star (vs O(diameter)
   for naive label propagation) — that is why we use it,
 - per-round edge-set fingerprint (count + sum of xxhash64) detects
   convergence without collecting edges,
 - the size probe costs one bounded job: each partition ships at most
   bound + 1 rows, and the probe materializes the lazy local checkpoint the
   rounds then read, so the upstream is not recomputed.
"""

from __future__ import annotations

import logging

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

logger = logging.getLogger(__name__)

# graphs with at most this many edges (self-loops dropped) are solved on the
# driver; one more edge and they take the star rounds
DRIVER_CC_MAX_EDGES = 1 << 21


def _fp_exprs() -> list:
    """The edge-set fingerprint metric expressions — the SINGLE definition.

    Convergence detection compares fingerprints computed two ways: the
    ``Observation`` folded into durable writes evaluates these expressions,
    and :func:`_fingerprint_and_star_test` computes the same two values on
    its exploded frame. The two must stay bit-identical, because a resumed
    run compares a persisted fingerprint with a fresh one.  Built per call
    because Column objects are bound to a plan once used."""
    return [
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
    ]


def _fingerprint_and_star_test(edges: DataFrame) -> tuple[tuple[int, int], bool]:
    """One aggregation job returning (fingerprint, is_min_rooted_star_forest).

    The fixpoints of the alternating large-star/small-star operator are
    exactly the min-rooted star forests (Kiveris et al. §3), and small-star
    output is always oriented root-ward (v < u, u != v by construction), so
    a round's output is final iff:
      * every u occurs exactly once   (n == countDistinct(u)), and
      * members and roots are disjoint (countDistinct(u) + countDistinct(v)
        == countDistinct over u ∪ v).
    Testing this on the SAME scan as the fingerprint lets the loop stop at
    the round that PRODUCED the fixpoint instead of running one more full
    LS∘SS round to observe an unchanged fingerprint (pre-r6 behavior, kept
    as the fallback stop). The fingerprint values are bit-identical to
    _fp_exprs (side='u' rows contribute exactly one (u,v) hash per edge), so
    persisted _CC_STATE fingerprints stay comparable."""
    frame = edges.selectExpr(
        "explode(array(struct('u' AS side, u AS node, u, v),"
        "              struct('v' AS side, v AS node, u, v))) AS x"
    ).select("x.*")
    row = frame.select(
        F.count(F.when(F.col("side") == "u", 1)).alias("n"),
        F.coalesce(
            F.bit_xor(F.when(F.col("side") == "u", F.xxhash64("u", "v"))), F.lit(0)
        ).alias("h"),
        F.count_distinct(F.when(F.col("side") == "u", F.col("node"))).alias("cd_u"),
        F.count_distinct(F.when(F.col("side") == "v", F.col("node"))).alias("cd_v"),
        F.count_distinct(F.col("node")).alias("cd_all"),
    ).first()
    star = (row["n"] == row["cd_u"]) and (row["cd_u"] + row["cd_v"] == row["cd_all"])
    return (int(row["n"]), int(row["h"])), star


def _plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for the optimized plan — a DRIVER-side lookup,
    no job. Cached inputs report their actual materialized bytes; scans
    report file sizes; unknown plans default to a huge sentinel, so callers
    treating 'small' as an optimization opportunity fail safe (big)."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # pragma: no cover - py4j edge
        return 1 << 62


def _driver_star_forest(u: np.ndarray, v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Connected components of the edge list (u, v), solved in NumPy.

    Returns (members, roots): one pair per node that is not the minimum of
    its component, mapping it to that minimum — the min-rooted star forest
    the star rounds converge to. Ids are factorized in sorted order, so the
    minimum index is the minimum id (Python orders str by code point, which
    is Spark's UTF-8 byte order). Each pass hooks the larger of every
    edge's two roots under the smaller (``np.minimum.at``), then pointer-jumps
    each node to its root. ``parent[i] <= i`` always holds, so the forest
    stays acyclic, and a pass that finds an edge between two trees removes
    at least one root, so the loop reaches its fixpoint."""
    ids, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
    a, b = inv[: len(u)], inv[len(u):]
    parent = np.arange(len(ids))
    while True:
        ra, rb = parent[a], parent[b]
        if np.array_equal(ra, rb):
            break
        np.minimum.at(parent, np.maximum(ra, rb), np.minimum(ra, rb))
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped
    member = np.flatnonzero(parent != np.arange(len(ids)))
    return ids[member], ids[parent[member]]


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: m = min(neighbors ∪ {u}); connect strictly-greater
    neighbors to m. Input/output: canonical undirected edge list (u, v).

    Hub-safe Kiveris formulation: the per-node minimum is a scalar groupBy-min
    (map-side partial agg) joined back to the symmetrized edge list — a hub's
    neighborhood is never materialized as one array row, so a
    multi-million-degree node costs a cheap aggregate + row-parallel join."""
    both = edges.select("u", "v").union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = both.groupBy("u").agg(F.min("v").alias("_mn"))
    out = (
        both.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(
            F.col("v").alias("u"),
            F.least(F.col("_mn"), F.col("u")).alias("v"),
        )
    )
    # NO distinct here: every consumer (_small_star's min aggregations, its
    # closing distinct) is duplicate-insensitive, so the dedup exchange would
    # be a full extra shuffle per round purely to shrink rows the next
    # map-side combine collapses anyway
    return out.filter(F.col("u") != F.col("v"))


def _small_star(edges: DataFrame) -> DataFrame:
    """Direct edges high→low; for each u connect all smaller neighbors (and u)
    to the minimum. Same hub-safe join + min-aggregation shape as large-star."""
    directed = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    mins = directed.groupBy("u").agg(F.min("v").alias("_m"))
    nbr_edges = (
        directed.join(mins, "u")
        .filter(F.col("v") != F.col("_m"))
        .select(F.col("v").alias("u"), F.col("_m").alias("v"))
    )
    # u itself always links to its minimum (_m < u by construction)
    self_edges = mins.select(F.col("u"), F.col("_m").alias("v"))
    out = nbr_edges.union(self_edges)
    return out.filter(F.col("u") != F.col("v")).distinct()


def connected_components(
    pairs: DataFrame,
    id_a: str = "mention_id_a",
    id_b: str = "mention_id_b",
    max_iterations: int = 25,
    checkpoint_dir: str | None = None,
    input_fingerprint: str | None = None,
    durable_every: int = 1,
) -> DataFrame:
    """Cluster the undirected match graph; returns (mention_id, cluster_id)
    where cluster_id = min member id (stable, deterministic).

    Nodes appearing only as singletons must be unioned by the caller
    (cluster_id = own id) — this operator only sees edges.

    Strategy (module docstring): a graph of at most ``DRIVER_CC_MAX_EDGES``
    (2**21) edges is solved on the driver in NumPy, as a small DataFrame of
    the converged star forest with the input's id type. The bound is
    measured by a limited collect, not estimated from stats, so the driver
    never holds more than bound + 1 rows. Larger graphs keep the hub-safe
    star rounds under AQE; a star loop still unconverged after
    ``max_iterations`` rounds raises ``RuntimeError``.

    ``checkpoint_dir`` enables MID-CLUSTERING resume (north_rule): every
    star round durably writes its edge set + a marker recording the round
    number and fingerprint; a restarted job continues from the last
    completed round instead of iteration 0. Without it, rounds use
    localCheckpoint (lineage break only — cheaper, not durable). A
    driver-solved graph is written once, as converged round 0.

    ``durable_every`` sets the durable-round cadence: rounds between durable
    writes break lineage with localCheckpoint only, so a crash loses at most
    ``durable_every - 1`` rounds of star work instead of paying a durable
    write+read per round. The converged round is ALWAYS written durably
    (with its state marker), so a finished run resumes to the final edge set
    with zero recomputation regardless of cadence. At the 10^12-edge tier a
    durable write is ~2× a round's IO — per-round durability doubles the
    stage cost to insure against losing one round.

    ``input_fingerprint`` identifies the EDGE SET this state belongs to (the
    caller's stage fingerprint). Persisted into _CC_STATE.json; on resume a
    mismatch discards the saved rounds and restarts from iteration 0 —
    without it, rerunning into the same dir with a different input/threshold
    would silently resume from the previous run's converged edges and emit
    stale components."""
    import json as _json
    import os as _os

    spark = pairs.sparkSession
    # NO input distinct (r6): duplicate edges are harmless to every consumer
    # — round 0's star steps are min-aggregations (duplicate-insensitive)
    # and small-star closes with its own distinct, so round outputs (and
    # therefore fingerprints, the star test, and the final members/roots)
    # are identical either way; the dedup was a full extra exchange inside
    # every round-0 job. Self-loops must still drop (a u==u edge would fake
    # an edge row for a singleton).
    edges = pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v")).filter(
        F.col("u") != F.col("v")
    )
    start_iter = 0
    prev_fp = None
    converged = False
    if checkpoint_dir:
        _os.makedirs(checkpoint_dir, exist_ok=True)
        state_path = _os.path.join(checkpoint_dir, "_CC_STATE.json")
        if _os.path.exists(state_path):
            with open(state_path) as f:
                state = _json.load(f)
            if state.get("input_fp") != input_fingerprint:
                logger.warning(
                    "connected_components: %s holds state for a different input "
                    "fingerprint (%s != %s); discarding saved rounds",
                    checkpoint_dir, state.get("input_fp"), input_fingerprint,
                )
                _os.remove(state_path)
            else:
                edges = spark.read.parquet(
                    _os.path.join(checkpoint_dir, f"iter{state['iteration']}")
                )
                start_iter = state["iteration"] + 1
                prev_fp = tuple(state["fingerprint"])
                converged = bool(state.get("converged"))
                logger.info(
                    "connected_components: resuming from round %d", state["iteration"]
                )

    def _write_durable(it: int, edges: DataFrame) -> tuple[DataFrame, tuple[int, int]]:
        # the write job doubles as the fingerprint pass: an Observation on the
        # written plan yields (count, xor-hash) from the same task set, so a
        # durable round costs ONE job + parquet IO, not write + re-read + agg
        from pyspark.sql import Observation

        obs = Observation()
        observed = edges.observe(obs, *_fp_exprs())
        path = _os.path.join(checkpoint_dir, f"iter{it}")
        observed.write.mode("overwrite").parquet(path)
        m = obs.get
        return spark.read.parquet(path), (int(m["n"]), int(m["h"]))

    def _write_state(it: int, fp: tuple[int, int], converged: bool) -> None:
        tmp = state_path + ".tmp"
        with open(tmp, "w") as f:
            _json.dump(
                {
                    "iteration": it,
                    "fingerprint": list(fp),
                    "converged": converged,
                    "input_fp": input_fingerprint,
                },
                f,
            )
        _os.replace(tmp, state_path)  # atomic: round is resumable

    if start_iter == 0:
        # lazy: the plan is truncated NOW (LogicalRDD); the probe's job
        # persists every partition, so the star rounds of a graph over the
        # bound read them instead of recomputing the upstream
        edges = edges.localCheckpoint(eager=False)
        probe = edges.limit(DRIVER_CC_MAX_EDGES + 1).toPandas()
        if len(probe) <= DRIVER_CC_MAX_EDGES:
            u, v = _driver_star_forest(probe["u"].to_numpy(), probe["v"].to_numpy())
            edges = spark.createDataFrame(pd.DataFrame({"u": u, "v": v}), edges.schema)
            converged = True
            if checkpoint_dir:
                edges, fp = _write_durable(0, edges)
                _write_state(0, fp, True)

    for it in range(start_iter, max_iterations):
        if converged:
            break
        edges = _small_star(_large_star(edges))
        durable = bool(checkpoint_dir) and (it + 1) % max(durable_every, 1) == 0
        if durable:
            edges, fp = _write_durable(it, edges)
            # the Observation fp cannot carry count-distincts; run the
            # star test as its own small job on the just-written round
            _, star = _fingerprint_and_star_test(edges)
            converged = star or fp == prev_fp
        else:
            # ONE job per star round: the lazy local checkpoint persists
            # its partitions while the fingerprint aggregation scans them
            # (the eager + separate-fingerprint form paid two jobs per
            # round — a fixed floor the 4×-parallel leg cannot amortize).
            # The same scan evaluates the star-forest fixpoint test,
            # stopping at the round that PRODUCED the final edge set
            # instead of paying one more LS∘SS round for an unchanged
            # fingerprint.
            edges = edges.localCheckpoint(eager=False)
            fp, star = _fingerprint_and_star_test(edges)
            converged = star or fp == prev_fp
        if checkpoint_dir:
            if converged and not durable:
                # the final edge set must be durable for crash-after-
                # convergence resume, whatever the cadence (edges are
                # already persisted, so this re-writes cached partitions,
                # no recompute)
                edges, fp = _write_durable(it, edges)
                durable = True
            if durable:
                _write_state(it, fp, converged)
        prev_fp = fp
    if not converged:
        # non-converged edges break the "cluster_id = min member, transitive"
        # contract: a wrong result must fail, not log
        raise RuntimeError(
            "connected_components: star rounds did not converge within "
            f"{max_iterations} iterations"
        )

    # after convergence every edge is (member → root); add roots themselves
    members = edges.select(F.col("u").alias("mention_id"), F.col("v").alias("cluster_id"))
    roots = edges.select(F.col("v").alias("mention_id"), F.col("v").alias("cluster_id")).distinct()
    return members.union(roots).groupBy("mention_id").agg(F.min("cluster_id").alias("cluster_id"))


def attach_singletons(clusters: DataFrame, all_ids: DataFrame, id_col: str = "mention_id",
                      ids_unique: bool = False) -> DataFrame:
    """Left-join cluster assignment onto the full id set; unmatched ids become
    their own singleton clusters. ``ids_unique=True`` skips the defensive
    dedup exchange when the caller's id set is a key column already (the
    contract queries pass document tables keyed by doc_id)."""
    ids = all_ids.select(F.col(id_col).alias("mention_id"))
    if not ids_unique:
        ids = ids.distinct()
    return (
        ids
        .join(clusters, "mention_id", "left")
        .select(
            "mention_id",
            F.coalesce("cluster_id", F.col("mention_id")).alias("cluster_id"),
        )
    )
