"""Spans and Spark job-group attribution for traced benchmark runs.

A span is recorded around each call the benchmark makes into a layer:
name, start, end, parent span and run id. While a span is open the Spark
job group is set to the span's own id, so the event log ties every job's
task time, GC time, input bytes and shuffle bytes to the innermost open
span. Spans stay in memory; the run writes them as JSON when it ends.

With tracing off, ``Tracer.span`` yields a throw-away dict and touches
nothing, so the untraced run pays no tracing cost.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

from host import dir_bytes

_GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
# event-log totals kept per job group and per span
EV_FIELDS = ("jobs", "task_s", "gc_s", "input_mb", "shuffle_write_mb", "scan_mb")
# the span of the benchmark's own edge count before connected_components
COUNT_SPAN = "trace.count"


class Tracer:
    def __init__(self, sc=None, run_id: str = ""):
        self.sc = sc  # None: tracing off
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @property
    def enabled(self) -> bool:
        return self.sc is not None

    @contextmanager
    def span(self, name: str, **attrs):
        if self.sc is None:
            yield {}
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "group": f"{self.run_id}/{sid}",
            **attrs,
        }
        prev = {k: self.sc.getLocalProperty(k) for k in _GROUP_KEYS}
        self.sc.setJobGroup(rec["group"], name)
        self.spans.append(rec)
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            for k, v in prev.items():
                self.sc.setLocalProperty(k, v)


@contextmanager
def layer_spans(tracer: Tracer):
    """Wrap the layer entry points in spans for the duration of the block.

    - ``CheckpointManager.get_or_compute``: one span per stage, named
      ``pipeline.<stage>`` or ``incremental.<stage>`` for fold (``*_delta``)
      stages, with the stage's written rows, on-disk MB and resume flag.
    - ``cluster.connected_components``: span ``cluster.cc`` with the input
      edge count (counted first, in its own ``trace.count`` span, which
      ``annotate`` leaves out of every ancestor's figures).
    - ``incremental.merge_components``: span ``incremental.merge``.
    """
    if not tracer.enabled:
        yield
        return
    from mel_spark.operators import cluster, incremental
    from mel_spark.sources.checkpoint import CheckpointManager

    orig_goc = CheckpointManager.get_or_compute
    orig_cc = cluster.connected_components
    orig_merge = incremental.merge_components

    def get_or_compute(self, stage, spark, compute, *args, **kwargs):
        layer = "incremental" if stage.endswith("_delta") else "pipeline"
        with tracer.span(f"{layer}.{stage}") as rec:
            df, resumed = orig_goc(self, stage, spark, compute, *args, **kwargs)
        rec["resumed"] = resumed
        rec["rows"] = self.counters(stage)["rows"]
        rec["ckpt_mb"] = dir_bytes(os.path.join(self.root, stage)) / 1e6
        return df, resumed

    def connected_components(pairs, id_a="mention_id_a", id_b="mention_id_b", *args, **kwargs):
        with tracer.span(COUNT_SPAN):
            n_edges = pairs.count()
        with tracer.span("cluster.cc", edges_in=n_edges):
            return orig_cc(pairs, id_a, id_b, *args, **kwargs)

    def merge_components(*args, **kwargs):
        with tracer.span("incremental.merge"):
            return orig_merge(*args, **kwargs)

    CheckpointManager.get_or_compute = get_or_compute
    cluster.connected_components = connected_components
    incremental.merge_components = merge_components
    try:
        yield
    finally:
        CheckpointManager.get_or_compute = orig_goc
        cluster.connected_components = orig_cc
        incremental.merge_components = orig_merge


def read_event_log(evlog_dir: str, scan_under: str | None = None) -> dict[str, dict[str, float]]:
    """Per job group: jobs, task seconds, JVM GC seconds, input MB,
    shuffle-write MB and ``scan_mb``, from the uncompressed JSON-lines Spark
    event log (``mel_spark.session`` turns it on when ``MEL_SPARK_EVLOG`` is
    set). A stage belongs to the group of the first job that lists it, a SQL
    execution to the group of its first job. ``scan_mb`` is the size of the
    files that parquet scans under the directory ``scan_under`` selected (the
    scan node's "size of files read"; a file scanned twice counts twice).

    Raises when the dir holds no event log or no job ran in a job group: a
    traced run whose attribution is broken must fail, not report zeros."""
    # Spark writes a rolling log: <dir>/eventlog_v2_<app>/events_<n>_<app>
    files = [os.path.join(d, f) for d, _sub, names in os.walk(evlog_dir)
             for f in names if f.startswith("events_")]
    if not files:
        raise FileNotFoundError(f"no rolling Spark event log under {evlog_dir}")
    files.sort(key=lambda f: int(os.path.basename(f).split("_")[1]))
    under = os.path.join(scan_under, "") if scan_under else None
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    scan_accums: set[int] = set()
    accum_updates: list[tuple[int, int, int]] = []
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(EV_FIELDS, 0.0))

    def scans(node: dict) -> None:
        loc = (node.get("metadata") or {}).get("Location", "")
        if under and f"file:{under}" in loc:
            scan_accums.update(m["accumulatorId"] for m in node.get("metrics", [])
                               if m["name"] == "size of files read")
        for child in node.get("children", []):
            scans(child)

    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id")
                    if group:
                        out[group]["jobs"] += 1
                        for sid in ev.get("Stage IDs", []):
                            stage_group.setdefault(sid, group)
                        if props.get("spark.sql.execution.id"):
                            exec_group.setdefault(int(props["spark.sql.execution.id"]), group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    acc = out[group]
                    acc["task_s"] += m.get("Executor Run Time", 0) / 1e3
                    acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    acc["input_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / 1e6
                    acc["shuffle_write_mb"] += (
                        (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 1e6
                    )
                elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                    scans(ev["sparkPlanInfo"])
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    accum_updates.extend((ev["executionId"], a, v) for a, v in ev["accumUpdates"])
    if not out:
        raise RuntimeError(f"no job in the event log under {evlog_dir} ran in a span's job group")
    for exec_id, acc_id, value in accum_updates:
        if acc_id in scan_accums and exec_id in exec_group:
            out[exec_group[exec_id]]["scan_mb"] += value / 1e6
    return dict(out)


def annotate(spans: list[dict], groups: dict[str, dict[str, float]]) -> None:
    """Add to every span, in place: ``wall_s``, ``self_s`` (wall minus the
    child spans' walls; spans of one run never overlap their siblings) and
    ``ev``, the event-log totals of the span and all its descendants.

    ``trace.count`` spans are the benchmark's own work: their wall time
    comes off every ancestor's wall time (kept as ``overhead_s``) and their
    jobs count towards no ancestor's totals."""
    children: dict[int, list[int]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s["id"])
    for s in reversed(spans):  # children always have larger ids than parents
        kids = [spans[c] for c in children[s["id"]]]
        own = [c for c in kids if c["name"] != COUNT_SPAN]
        s["overhead_s"] = sum(c["wall_s"] if c["name"] == COUNT_SPAN else c["overhead_s"]
                              for c in kids)
        s["wall_s"] = s["end"] - s["start"] - s["overhead_s"]
        s["self_s"] = s["wall_s"] - sum(c["wall_s"] for c in own)
        tot = dict(groups.get(s["group"], dict.fromkeys(EV_FIELDS, 0.0)))
        for c in own:
            for k in tot:
                tot[k] += c["ev"][k]
        s["ev"] = tot


def per_op_totals(spans: list[dict], root: str) -> list[dict[str, dict[str, float]]]:
    """For each span named ``root``, sum the annotated values of every
    descendant span by name: one {span name: {field: total}} per root."""
    by_parent: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            by_parent[s["parent"]].append(s)
    result = []
    for r in (s for s in spans if s["name"] == root):
        acc: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        todo = [r]
        while todo:
            s = todo.pop()
            fields = acc[s["name"]]
            fields["count"] += 1
            fields["wall_s"] += s["wall_s"]
            fields["self_s"] += s["self_s"]
            for k, v in s["ev"].items():
                fields[k] += v
            for k in ("rows", "ckpt_mb", "edges_in"):
                if k in s:
                    fields[k] += s[k]
            todo.extend(by_parent[s["id"]])
        result.append(acc)
    return result


def median_of(ops: list[dict[str, dict[str, float]]], name: str, field: str) -> float:
    """Median over operations of one span field; 0.0 when no operation of
    this run entered the layer."""
    vals = [op[name][field] for op in ops if name in op]
    return float(statistics.median(vals)) if vals else 0.0


def write_spans(path: str, spans: list[dict], extra: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    self_by_layer: dict[str, float] = defaultdict(float)
    for s in spans:
        self_by_layer[s["name"]] += s.get("self_s", 0.0)
    with open(path, "w") as fh:
        json.dump({"spans": spans, "self_s_by_layer": self_by_layer, **extra}, fh, indent=1)
