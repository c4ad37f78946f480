"""spark-submit entry point for the entity-resolution pipeline.

Usage (north_rule packaging: spark-submit --py-files mel_spark.zip):

    spark-submit --py-files mel_spark.zip jobs/er_job.py \
        --input /data/repos_parquet_dir \
        --checkpoint /tmp/er_ckpt --output /tmp/er_out

    # or synthesize a deterministic corpus (no external data):
    spark-submit --py-files mel_spark.zip jobs/er_job.py \
        --synthesize 2000 --checkpoint /tmp/er_ckpt --output /tmp/er_out

    # incremental: fold a new batch into a finished run (cost proportional
    # to the batch; output labels identical to a from-scratch recompute):
    spark-submit --py-files mel_spark.zip jobs/er_job.py \
        --update-base /tmp/er_ckpt --input /data/new_batch_dir \
        --checkpoint /tmp/er_ckpt_v2 --output /tmp/er_out_v2

The fold runs through ``streaming.er_stream.fold_batch``, the same fold
sequence the streaming job uses. Both modes write ``clusters.parquet`` and
print one JSON line through one reporting tail: clusters, elapsed sec,
``stage_sec`` (every stage the checkpoint wrote), survivors / ann_index when
asked, and pairwise F1 when gold clusters exist. A full run adds rows, blocks,
candidate pairs, matches and pairs/sec; a fold adds mode, new/total mentions
and new matches, and scores F1 on the gold-covered (batch) mentions only.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--input", help="dir containing repos.parquet (+ optional reference_clusters.parquet)")
    p.add_argument("--synthesize", type=int, default=0, help="generate N synthetic files instead of reading --input")
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--threshold", type=float, default=None)
    p.add_argument(
        "--emit-survivors",
        action="store_true",
        help="also write <output>/survivors.parquet: the deduplicated corpus "
        "(per cluster the longest-content mention, tie min id) via "
        "dedup.select_survivors — the pipeline's training-data output",
    )
    p.add_argument(
        "--update-base",
        help="checkpoint dir of a COMPLETED run: incrementally fold the "
        "--input/--synthesize batch into it instead of running from scratch",
    )
    p.add_argument(
        "--bucketed-index",
        help="catalog table name for the bucketed block-index probe table "
        "(sources/bucketed.py). Full run: (re)built from the run's block "
        "index. Fold: validated/created from the base chain, used as the "
        "probe's corpus side, and the fold's delta keys appended exactly "
        "once (fenced by a per-fold marker)",
    )
    p.add_argument(
        "--bucketed-index-path",
        help="external location for --bucketed-index so it survives "
        "spark-submit invocations under the default in-memory catalog "
        "(a metastore deployment omits this)",
    )
    p.add_argument(
        "--bucketed-index-buckets",
        type=int,
        default=None,
        help="bucket count when (re)building --bucketed-index "
        "(default: sources/bucketed.py DEFAULT_BUCKETS)",
    )
    p.add_argument(
        "--ann-index-path",
        help="persisted IVF index dir (operators/ann_index.py) kept in step "
        "with the pipeline: full run — built from the run's embed "
        "checkpoint iff absent; fold — the batch's NEW embeddings are "
        "appended under the frozen centroids as one fenced epoch "
        "(idempotent per fold via the checkpoint-dir token), so the "
        "served index follows the incremental story between refits "
        "(meta.needs_refit flags when appends exceed half the index)",
    )
    p.add_argument(
        "--probe-sort-merge",
        action="store_true",
        help="fold probe: do NOT broadcast the delta key set — the probe "
        "runs as a sort-merge join over the --bucketed-index table where only "
        "the delta side exchanges (for batches past the broadcast ceiling); "
        "requires --bucketed-index",
    )
    p.add_argument(
        "--relabel-sort-merge",
        action="store_true",
        help="fold relabel: do NOT broadcast the touched-cluster membership "
        "(use when the batch touches a mega-cluster whose membership exceeds "
        "the broadcast ceiling; output is identical, the relabel joins run "
        "sort-merge)",
    )
    args = p.parse_args(argv)
    if not (args.input or args.synthesize):
        p.error("one of --input / --synthesize is required")
    if args.probe_sort_merge and not args.bucketed_index:
        # without the bucketed table the probe's corpus side is the chain
        # read, and under the disabled auto-broadcast below a sort-merge
        # probe shuffles the whole corpus key stream on every fold
        p.error("--probe-sort-merge requires --bucketed-index")
    if args.update_base:
        import os as _os

        if _os.path.abspath(args.update_base) == _os.path.abspath(args.checkpoint):
            p.error(
                "--checkpoint must differ from --update-base: a fold writes delta "
                "stages + a parent pointer into --checkpoint, and writing them into "
                "the completed base corrupts it (the base's full 'clusters' marker "
                "would shadow the fold's clusters_delta on the next chain read)"
            )

    from mel_spark.session import get_spark
    from mel_spark.pipeline import ERConfig, run_pipeline
    from mel_spark.sources.checkpoint import CheckpointManager

    # static auto-broadcast OFF: Catalyst's size estimates for UDF-produced
    # relations (the embedding stage) are unreliable and a mis-broadcast OOMs.
    # spark.sql.adaptive.autoBroadcastJoinThreshold is unset, so it inherits
    # this -1 and AQE does NOT turn sort-merge joins into broadcast joins
    # from real shuffle sizes either (on Spark 4.1 a 200k x 100-row join's
    # final plan stays SortMergeJoin): every join that must broadcast —
    # redirect maps, salt tables, the fold's batch-sized sides — carries an
    # explicit broadcast() hint
    spark = get_spark("er_job", extra_conf={"spark.sql.autoBroadcastJoinThreshold": "-1"})
    spark.sparkContext.setLogLevel("WARN")
    t0 = time.time()

    gold = None
    if args.synthesize:
        from mel_spark.datagen import GenConfig, generate_repos

        tables = generate_repos(GenConfig(n_files=args.synthesize, seed=args.seed))
        repos = spark.createDataFrame(tables["repos"])
        gold = spark.createDataFrame(tables["reference_clusters"])
    elif args.input:
        # a single small parquet file arrives as one split; spread it so every
        # core scans/embeds/blocks in parallel. Conditional: a big input
        # already has more splits than cores and must NOT be funneled through
        # a corpus-wide shuffle into parallelism*2 fat partitions (the old
        # unconditional repartition did exactly that)
        from mel_spark.session import ensure_scan_parallelism

        repos = ensure_scan_parallelism(
            spark.read.parquet(f"{args.input}/repos.parquet"),
            spark.sparkContext.defaultParallelism * 2,
        )
        try:
            gold = spark.read.parquet(f"{args.input}/reference_clusters.parquet")
        except Exception:
            gold = None

    cfg = ERConfig() if args.threshold is None else ERConfig(threshold=args.threshold)
    input_token = (
        f"synthesize:{args.synthesize}:{args.seed}" if args.synthesize else str(args.input)
    )
    mgr = CheckpointManager(args.checkpoint)
    ann_meta = None
    if args.update_base:
        from mel_spark.streaming.er_stream import fold_batch

        out, ann_meta = fold_batch(
            args.update_base,
            repos,
            cfg,
            args.checkpoint,
            input_token,
            bucketed_table=args.bucketed_index,
            bucketed_path=args.bucketed_index_path,
            bucketed_buckets=args.bucketed_index_buckets,
            ann_index_path=args.ann_index_path,
            probe_broadcast_delta=not args.probe_sort_merge,
            relabel_broadcast_touched=not args.relabel_sort_merge,
        )
        stages = ("ingest_delta", "embed_delta", "block_index_delta",
                  "block_sizes_delta", "pairs_delta", "clusters_delta")
    else:
        out = run_pipeline(spark, repos, args.checkpoint, cfg, input_token=input_token)
        if args.bucketed_index:
            from mel_spark.sources.bucketed import ensure_bucketed_index

            ensure_bucketed_index(
                spark, args.bucketed_index, args.checkpoint,
                n_buckets=args.bucketed_index_buckets, path=args.bucketed_index_path,
            )
        if args.ann_index_path:
            from mel_spark.operators.ann_index import ensure_ivf_index

            ann_meta = ensure_ivf_index(
                mgr.read("embed", spark).select("csid", "emb"),
                args.ann_index_path, i_id="csid", i_emb="emb",
            )
        stages = ("ingest", "embed", "block_index", "block_sizes", "blocks",
                  "pairs", "clusters")

    out["clusters"].write.mode("overwrite").parquet(f"{args.output}/clusters.parquet")
    n_survivors = None
    if args.emit_survivors:
        from mel_spark.operators.dedup import select_survivors

        surv = select_survivors(
            out["clusters"], out["mentions"], id_col="mention_id", text_col="content"
        )
        surv.write.mode("overwrite").parquet(f"{args.output}/survivors.parquet")
        n_survivors = spark.read.parquet(f"{args.output}/survivors.parquet").count()
    # every count below is measurement bookkeeping, not pipeline work: it
    # runs after ``elapsed`` is captured
    elapsed = time.time() - t0
    stage_times = {st: mgr.counters(st).get("elapsed_sec") for st in stages}
    if args.update_base:
        metrics = {
            "mode": "incremental",
            "new_mentions": out["mentions_new"].count(),
            "total_mentions": out["mentions"].count(),
            "new_matches": out["matches_new"].count(),
        }
    else:
        # rows/candidate_pairs come from the checkpoint markers, which record
        # the EXACT written row count of their stage (ingest rows / pairs
        # rows). blocks/matches are NOT marker-derivable — blocks is the
        # distinct POST-salt/cap pairing keys, which differs from the
        # block_sizes marker's raw pre-salt key count — so they are recounts.
        n_pairs = mgr.counters("pairs")["rows"]
        metrics = {
            "rows": mgr.counters("ingest")["rows"],
            "blocks": out["blocks"].select("block_key").distinct().count(),
            "candidate_pairs": n_pairs,
            "matches": out["matches"].count(),
            "candidate_pairs_per_sec": round(n_pairs / elapsed, 1),
            "pairs_stage_pairs_per_sec": (
                round(n_pairs / stage_times["pairs"], 1) if stage_times.get("pairs") else None
            ),
        }
    metrics.update(
        clusters=out["clusters"].select("cluster_id").distinct().count(),
        elapsed_sec=round(elapsed, 2),
        stage_sec=stage_times,
    )
    if n_survivors is not None:
        metrics["survivors"] = n_survivors
    if ann_meta is not None:
        metrics["ann_index"] = {
            "rows": ann_meta["rows"],
            "epochs": len(ann_meta["epochs"]),
            "needs_refit": ann_meta.get("needs_refit", False),
        }
    if gold is not None:
        from pyspark.sql import functions as F
        from mel_spark.operators.evaluate import pairs_from_clusters, pairwise_prf

        pred = pairs_from_clusters(out["clusters"], "mention_id", "cluster_id")
        if args.update_base:
            # fold-mode gold covers only the folded batch, while the predicted
            # assignment spans base ∪ batch — evaluate on the gold-covered
            # mention set, else every base-side pair counts as a false positive
            gold_m = F.broadcast(gold.select("mention_id").distinct())
            for side in ("mention_id_a", "mention_id_b"):
                pred = pred.join(gold_m.withColumnRenamed("mention_id", side), side, "left_semi")
        m = pairwise_prf(pred, pairs_from_clusters(gold, "mention_id", "entity_id"))
        metrics.update({k: round(v, 6) if isinstance(v, float) else v for k, v in m.items()})
    print(json.dumps(metrics))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
