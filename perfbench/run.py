"""mel_spark benchmark: one workload per invocation, run from the root of a
checkout.

    python3 perfbench/run.py --workload pipeline_full --seed 1 --seconds 20 --trace 0

Set-up builds the workload's inputs from ``--seed`` inside the checkout,
then the timed section runs the workload's operation back to back for
``--seconds``. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``, with the end-to-end
metrics for ``--trace 0`` and the per-layer metrics for ``--trace 1``.
A traced run also writes its spans to ``.perfbench_out/``. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))


def end_to_end(res) -> dict[str, dict]:
    return {
        "setup_s": {"value": res.setup_s, "unit": "s"},
        "op_s": {"value": statistics.median(res.op_walls), "unit": "s"},
        "pairwise_f1": {"value": res.pairwise_f1, "unit": "ratio"},
        "stored_bytes_per_input_byte": {"value": res.stored_bytes_per_input_byte, "unit": "ratio"},
    }


def per_layer(spans: list[dict], res) -> dict[str, dict]:
    """Per-layer medians over the timed operations. A layer that this
    workload's operation never enters reads 0."""
    from spans import median_of, per_op_totals
    from workloads import CONTRACT_QUERIES, FOLD_STAGES, PIPELINE_STAGES

    ops = per_op_totals(spans, "op")
    folds = per_op_totals(spans, "fold")
    er = per_op_totals(spans, "er_layers")
    out: dict[str, tuple[float, str]] = {}
    for st in PIPELINE_STAGES:
        n = f"pipeline.{st}"
        out[f"{n}.wall_s"] = (median_of(ops, n, "wall_s"), "s")
        out[f"{n}.task_s"] = (median_of(ops, n, "task_s"), "s")
        out[f"{n}.rows"] = (median_of(ops, n, "rows"), "count")
        out[f"{n}.shuffle_write_mb"] = (median_of(ops, n, "shuffle_write_mb"), "MB")
        out[f"{n}.ckpt_mb"] = (median_of(ops, n, "ckpt_mb"), "MB")
    embed_task = median_of(ops, "pipeline.embed", "task_s")
    out["pipeline.embed.gc_frac"] = (
        median_of(ops, "pipeline.embed", "gc_s") / embed_task if embed_task else 0.0, "ratio")
    candidates = median_of(ops, "pipeline.pairs", "rows")
    out["pipeline.pairs.candidates"] = (candidates, "count")
    cc_edges = median_of(ops, "cluster.cc", "edges_in")
    out["pipeline.pairs.match_ratio"] = (cc_edges / candidates if candidates else 0.0, "ratio")
    out["cluster.cc.wall_s"] = (median_of(ops, "cluster.cc", "wall_s"), "s")
    out["cluster.cc.jobs"] = (median_of(ops, "cluster.cc", "jobs"), "count")
    out["cluster.cc.edges_in"] = (cc_edges, "count")
    # the clusters stage's own time once CC is taken out: singleton attach,
    # mention expansion, relabel and the checkpoint write
    out["cluster.attach.wall_s"] = (median_of(ops, "pipeline.clusters", "self_s"), "s")
    # the fold of pipeline_full's traced run, or er_incremental's merge
    # inside contract_docs' passes
    inc = folds + ops
    for st in FOLD_STAGES:
        n = f"incremental.{st}"
        out[f"{n}.wall_s"] = (median_of(inc, n, "wall_s"), "s")
        out[f"{n}.task_s"] = (median_of(inc, n, "task_s"), "s")
        out[f"{n}.rows"] = (median_of(inc, n, "rows"), "count")
        out[f"{n}.shuffle_write_mb"] = (median_of(inc, n, "shuffle_write_mb"), "MB")
    out["incremental.merge.wall_s"] = (median_of(inc, "incremental.merge", "wall_s"), "s")
    out["incremental.merge.jobs"] = (median_of(inc, "incremental.merge", "jobs"), "count")
    # MB of base-checkpoint files that the fold's parquet scans selected
    out["incremental.corpus_read_mb"] = (median_of(folds, "fold", "scan_mb"), "MB")
    for layer in ("scan", "featurize", "band_join", "verify", "cc", "attach"):
        out[f"er.{layer}_s"] = (median_of(er, f"er.{layer}", "wall_s"), "s")
    out["er.cc_jobs"] = (median_of(er, "er.cc", "jobs"), "count")
    for q in CONTRACT_QUERIES:
        n = f"query.{q}"
        out[f"{n}.wall_s"] = (median_of(ops, n, "wall_s"), "s")
        out[f"{n}.task_s"] = (median_of(ops, n, "task_s"), "s")
        out[f"{n}.shuffle_write_mb"] = (median_of(ops, n, "shuffle_write_mb"), "MB")
    out["session.start_s"] = (res.session_start_s, "s")
    out["session.warm_pass_s"] = (res.warm_pass_s, "s")
    # not an end-to-end metric: the JVM heap grows in steps whose timing
    # varies, so its run-to-run spread is about 0.25
    out["process.peak_rss_mb"] = (res.peak_rss_mb, "MB")
    # this traced run's own end-to-end figures: minus an untraced run's
    # (overhead.py) they are the tracing overhead
    for name, m in end_to_end(res).items():
        out[f"traced.{name}"] = (m["value"], m["unit"])
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "smoke"), default="full",
                   help="corpus sizes; 'smoke' is the quick self-check")
    args = p.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "mel_spark", "__init__.py")):
        print("run from the root of a mel_spark checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root]
    from host import prepare_env, stop_spark
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    evlog = os.path.join(work, "evlog") if args.trace else None
    prepare_env(work, evlog)
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    spark = None
    try:
        spark, tracer, res = WORKLOADS[args.workload](
            work, args.seed, args.seconds, bool(args.trace), args.scale)
        stop_spark(spark)
        spark = None
        if args.trace:
            from spans import annotate, read_event_log, write_spans

            annotate(tracer.spans, read_event_log(evlog, scan_under=res.fold_base or None))
            metrics = per_layer(tracer.spans, res)
            write_spans(
                os.path.join(root, ".perfbench_out", f"spans-{args.workload}-seed{args.seed}.json"),
                tracer.spans, {"workload": args.workload, "seed": args.seed, "metrics": metrics},
            )
        else:
            metrics = end_to_end(res)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"workload": args.workload, "seed": args.seed, "op_walls_s": res.op_walls,
                      "setup_s": res.setup_s, **res.info}))
    print(json.dumps({"correct": res.failed == 0, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    t0 = time.perf_counter()
    code = main()
    print(f"run.py finished in {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    sys.exit(code)
