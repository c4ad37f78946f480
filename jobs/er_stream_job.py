"""spark-submit entry point for STREAMING ER ingest (cron-shaped).

Watches a directory for newly arriving repos parquet files and folds each
micro-batch into the fold chain rooted at --base; exits once everything
available is drained (Trigger.AvailableNow — the "run from cron, fold what's
new, exit" deployment). Source offsets live in --offsets (Structured
Streaming checkpoint); data-level fold state lives under --fold-root
(operators/incremental delta checkpoints, O(batch) per epoch).

    spark-submit --py-files mel_spark.zip jobs/er_stream_job.py \
        --source /data/arrivals --base /ckpt/er_base \
        --fold-root /ckpt/er_folds --offsets /ckpt/er_offsets \
        [--compact-every 7]

Prints one JSON line: epochs folded this invocation, chain head, cluster
count at the head. Re-running after a crash resumes: the stream replays
unacknowledged epochs and the epoch-fingerprinted fold dirs absorb the
replay idempotently.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql.types import StringType, StructField, StructType

REPOS_SCHEMA = StructType(
    [StructField(c, StringType()) for c in ("repo", "path", "commit", "lang", "content")]
)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--source", required=True, help="dir watched for arriving parquet files")
    p.add_argument("--base", required=True, help="checkpoint dir of the completed base run")
    p.add_argument("--fold-root", required=True, help="dir for per-epoch fold checkpoints")
    p.add_argument("--offsets", required=True, help="Structured Streaming offsets checkpoint")
    p.add_argument("--threshold", type=float, default=None)
    p.add_argument("--compact-every", type=int, default=0,
                   help="compact the chain every N cumulative folds (durable "
                        "counter in _HEAD.json; 0 = cadence off)")
    p.add_argument("--max-chain-depth", type=int, default=16,
                   help="hard bound on fold-chain depth: compact whenever the "
                        "head's parent-pointer depth reaches this (0 = off)")
    p.add_argument("--max-files-per-trigger", type=int, default=0,
                   help="bound epoch size (0 = drain everything into one epoch)")
    p.add_argument("--bucketed-index",
                   help="catalog table name for the bucketed block-index probe "
                        "table, maintained per epoch (sources/bucketed.py)")
    p.add_argument("--bucketed-index-path",
                   help="external location for --bucketed-index (survives "
                        "invocations without a metastore)")
    p.add_argument("--bucketed-index-buckets", type=int, default=None)
    args = p.parse_args(argv)

    from mel_spark.pipeline import ERConfig
    from mel_spark.session import get_spark
    from mel_spark.streaming.er_stream import StreamingFoldState, start_er_stream

    spark = get_spark(
        "er_stream_job", extra_conf={"spark.sql.autoBroadcastJoinThreshold": "-1"}
    )
    spark.sparkContext.setLogLevel("WARN")

    reader = spark.readStream.schema(REPOS_SCHEMA)
    if args.max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", args.max_files_per_trigger)
    stream = reader.parquet(args.source)

    cfg = ERConfig() if args.threshold is None else ERConfig(threshold=args.threshold)
    state = StreamingFoldState(
        base_checkpoint=args.base,
        fold_root=args.fold_root,
        cfg=cfg,
        compact_every=args.compact_every,
        max_chain_depth=args.max_chain_depth,
        bucketed_table=args.bucketed_index,
        bucketed_path=args.bucketed_index_path,
        bucketed_buckets=args.bucketed_index_buckets,
    )
    q = start_er_stream(stream, state, offsets_dir=args.offsets, trigger_once=True)
    q.awaitTermination()

    from mel_spark.operators.incremental import read_clusters_chain

    head = state.current_base()
    n_clusters = (
        read_clusters_chain(spark, head).select("cluster_id").distinct().count()
    )
    print(
        json.dumps(
            {
                "mode": "stream_fold",
                "epochs_folded": state.epochs_folded,
                "total_folds": state.total_folds,
                "chain_head": head,
                "clusters": n_clusters,
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
