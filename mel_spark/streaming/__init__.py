"""Structured Streaming surface.

The reference is pure batch (SURVEY.md §2.9) — its 'streaming' is lazy
generator pipelining, and the north_rule asks for resumable batch checkpoints,
which live in mel_spark.sources.checkpoint. This package provides the genuine
event-time streaming twins of the batch events queries for completeness:
readStream → watermark → window/sessionize → writeStream — plus the fold
sequence and streaming ER ingest (er_stream): ``fold_batch`` folds one batch
into a completed run and keeps the bucketed probe table and ANN index in
step (jobs/er_job.py --update-base calls it), and repo batches arriving on a
stream are folded with it micro-batch by micro-batch via foreachBatch
(O(batch) per epoch, replay-idempotent).
"""

from mel_spark.streaming.events import sessionize_stream, tumbling_counts_stream
from mel_spark.streaming.er_stream import (
    StreamingFoldState,
    fold_batch,
    fold_micro_batch,
    start_er_stream,
)

__all__ = [
    "tumbling_counts_stream",
    "sessionize_stream",
    "StreamingFoldState",
    "fold_batch",
    "fold_micro_batch",
    "start_er_stream",
]
