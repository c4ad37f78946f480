"""Fold a batch of repos into a completed run and keep the
serving structures in step, for one batch or a stream of them.

The reference's pipelines are rerun-from-scratch batch jobs (stage markers,
src/scripts/train/all_langs_no_slurm.sh:49-116); the incremental operator
(operators/incremental.py) makes a single fold O(batch). ``fold_batch`` is
the ONE fold-and-maintain sequence — create/validate the bucketed probe
table, ``incremental_update``, append the fold's delta keys to the table
once, append the fold's new embeddings to the ANN index — and both callers
run it: ``jobs/er_job.py --update-base`` (one batch per invocation) and
``fold_micro_batch`` (CONTINUOUS arrival: a Structured Streaming source of
(repo, path, commit, lang, content) rows consumed micro-batch by
micro-batch, each batch folded into a chain of fold checkpoints, the chain
head advanced after the fold and the chain compacted on a cadence).

Why foreachBatch and not a stateful streaming operator: a fold needs arbitrary
batch DataFrame ops (anti-joins against the corpus, LSH self-joins, iterative
connected components) — far beyond what applyInPandasWithState's
per-key-state contract can express. foreachBatch is Structured Streaming's
sanctioned escape hatch for exactly this: the stream gives AT-LEAST-ONCE
micro-batches + offset tracking, and the fold layer makes redelivery
harmless (idempotent re-sends are anti-joined away by mention_id, and each
fold dir is fingerprinted by (epoch, config, base), so a replayed epoch
re-folds into the SAME dir instead of forking the chain).

Durable state per epoch is O(batch) (delta checkpoints + parent pointer);
``compact_every`` bounds chain depth by periodically materializing the full
tables — the parquet analogue of Iceberg snapshot compaction.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from mel_spark.operators.ann_index import (
    append_to_ivf_index,
    ensure_ivf_index,
    read_index_meta,
)
from mel_spark.operators.incremental import (
    _parent_of,
    chain_depth,
    compact_checkpoint,
    incremental_update,
    read_stage_chain,
)
from mel_spark.pipeline import ERConfig
from mel_spark.sources import bucketed
from mel_spark.sources.checkpoint import CheckpointManager


def _head_path(fold_root: str) -> str:
    return os.path.join(fold_root, "_HEAD.json")


@dataclass
class StreamingFoldState:
    """Tracks the head of the fold chain across epochs.

    The head is DURABLE (``fold_root/_HEAD.json``, written atomically after
    each fold): a cron-shaped job's next invocation resumes the chain from
    the last fold, not the base — without this, new arrivals would fold into
    the base and orphan every earlier fold's state. ``fold_root`` and the
    stream's offsets checkpoint are one logical unit: keep or delete them
    together (offsets without the head re-deliver epochs the chain already
    contains; the head without offsets re-labels epoch ids).

    Compaction policy (bounds chain length so chain reads stay flat):
    ``compact_every`` is keyed on the CUMULATIVE fold counter persisted in
    _HEAD.json — not a per-invocation count, which would never fire in the
    cron-shaped one-epoch-per-invocation deployment — and ``max_chain_depth``
    is a hard backstop on parent-pointer depth that fires regardless of the
    cadence (covers chains grown before this state existed, or an operator
    setting compact_every=0)."""

    base_checkpoint: str
    fold_root: str
    cfg: ERConfig = field(default_factory=ERConfig)
    compact_every: int = 0  # 0 = no cadence-based compaction
    max_chain_depth: int = 16  # hard depth bound; 0 = unbounded (not advised)
    # bucketed block-index maintenance (sources/bucketed.py): when set, every
    # epoch probes the table instead of the chain read and appends its delta
    # keys exactly once (fenced by a per-fold marker). The streaming fold is
    # the deployment that needs this most — it is the one folding daily into
    # a corpus that outgrows any broadcast: an epoch whose delta keys are
    # past the fold's broadcast budget then probes it with no corpus shuffle.
    bucketed_table: str | None = None
    bucketed_path: str | None = None
    bucketed_buckets: int | None = None  # None = sources/bucketed.py default
    # persisted IVF ANN index maintenance (operators/ann_index.py): when set,
    # every epoch appends its embed_delta under the index's frozen centroids
    # as one fenced epoch (the fold dir is the idempotency token, so a
    # replayed epoch is a committed no-op); built from the chain on first use
    ann_index_path: str | None = None
    head: str | None = None  # latest fold dir (chain head); None = base only
    epochs_folded: int = 0  # this invocation only
    total_folds: int = 0  # cumulative across invocations (persisted in _HEAD)

    def __post_init__(self) -> None:
        import json as _json

        # normalize both chain anchors once: every comparison against
        # _HEAD.json / _PARENT.json contents must be textual-form-insensitive
        # (relative vs absolute, trailing slash)
        self.base_checkpoint = os.path.abspath(self.base_checkpoint)
        self.fold_root = os.path.abspath(self.fold_root)
        if self.head is None and os.path.exists(_head_path(self.fold_root)):
            with open(_head_path(self.fold_root)) as f:
                meta = _json.load(f)
            self.head = os.path.abspath(meta["head"])
            self.total_folds = int(meta.get("total_folds", 0))

    def current_base(self) -> str:
        return self.head or self.base_checkpoint

    def _advance(self, fold_dir: str) -> None:
        import json as _json

        os.makedirs(self.fold_root, exist_ok=True)
        tmp = _head_path(self.fold_root) + ".tmp"
        self.total_folds += 1
        with open(tmp, "w") as f:
            _json.dump({"head": fold_dir, "total_folds": self.total_folds}, f)
        os.replace(tmp, _head_path(self.fold_root))  # atomic
        self.head = fold_dir
        self.epochs_folded += 1


def fold_batch(
    base_checkpoint: str,
    batch: DataFrame,
    cfg: ERConfig,
    fold_dir: str,
    input_token: str,
    bucketed_table: str | None = None,
    bucketed_path: str | None = None,
    bucketed_buckets: int | None = None,
    ann_index_path: str | None = None,
) -> tuple[dict, dict | None]:
    """Fold ``batch`` into the completed run (or fold chain head) at
    ``base_checkpoint``, writing the fold's delta stages into ``fold_dir``,
    and keep the serving structures in step:

    1. ``bucketed_table`` (sources/bucketed.py): create or validate it for
       the base, then probe it as the corpus side instead of the chain read
       (a batch whose delta keys are past the fold's broadcast budget then
       probes it sort-merge, and only the delta exchanges);
    2. ``incremental_update``, which picks broadcast or sort-merge for its
       probe, relabel and override joins from measured sizes and reports
       each in the stage dict's ``joins``;
    3. append the fold's ``block_index_delta`` to the table exactly once,
       fenced by the per-fold marker;
    4. ``ann_index_path`` (operators/ann_index.py): append the fold's
       ``embed_delta`` under the index's frozen centroids as one epoch — or,
       with no index yet, build one from the embed chain, which already holds
       this delta — under the fold dir's token, so a replayed fold is a
       committed no-op.

    Steps 3 and 4 run after every delta stage is green; a caller that keeps a
    chain head advances it only after this returns, so a crash in between
    replays into a fold whose marker and token already fence both appends.
    Returns (the fold's stage dict from ``incremental_update``, the ANN
    index meta or None)."""
    spark = batch.sparkSession
    if bucketed_table:
        bucketed.ensure_bucketed_index(
            spark, bucketed_table, base_checkpoint, n_buckets=bucketed_buckets,
            path=bucketed_path,
        )
    out = incremental_update(
        spark,
        base_checkpoint,
        batch,
        cfg,
        checkpoint_dir=fold_dir,
        input_token=input_token,
        base_keys_table=bucketed_table,
    )
    if bucketed_table and not bucketed.fold_appended(fold_dir, bucketed_table):
        bucketed.append_bucketed_index(
            CheckpointManager(fold_dir)
            .read("block_index_delta", spark)
            .select("block_key", "mention_id"),
            bucketed_table,
        )
        bucketed.record_fold_appended(fold_dir, bucketed_table)
    if not ann_index_path:
        return out, None
    token = os.path.abspath(fold_dir)
    # the try covers ONLY the meta read: a FileNotFoundError raised inside
    # the append itself (e.g. a concurrent rebuild removing _META) must
    # propagate, not silently skip the fold's delta
    try:
        read_index_meta(ann_index_path)
    except FileNotFoundError:
        # first build from the chain that already contains this fold's delta:
        # epoch 0 carries this fold's token, so a replayed append no-ops
        return out, ensure_ivf_index(
            read_stage_chain(spark, fold_dir, "embed").select("csid", "emb"),
            ann_index_path, i_id="csid", i_emb="emb", token=token,
        )
    return out, append_to_ivf_index(
        CheckpointManager(fold_dir).read("embed_delta", spark).select("csid", "emb"),
        ann_index_path, i_id="csid", i_emb="emb", token=token,
    )


def fold_micro_batch(state: StreamingFoldState, batch: DataFrame, epoch_id: int) -> dict:
    """Fold ONE micro-batch onto the chain head with :func:`fold_batch`, then
    advance the durable head and compact the chain when the cadence or the
    depth bound says so. Returns the fold's stage dict (clusters = full
    updated assignment). Designed as a foreachBatch body:

        query = (stream.writeStream
                 .foreachBatch(lambda df, eid: fold_micro_batch(state, df, eid))
                 .option("checkpointLocation", offsets_dir).start())

    Epoch replays (at-least-once delivery) land in the SAME fold dir — the
    stage fingerprints include the epoch id, so a replayed epoch resumes its
    own green delta stages instead of forking or double-counting."""
    if batch.isEmpty():
        return {}
    fold_dir = os.path.abspath(os.path.join(state.fold_root, f"epoch_{epoch_id:012d}"))
    if fold_dir == os.path.abspath(state.current_base()):
        # crash window: the fold completed and _HEAD.json advanced, but the
        # stream's offsets checkpoint didn't commit — the epoch is
        # re-delivered although its fold (all delta stages) is already green
        # and is the chain head. Nothing to do.
        return {}
    prior_parent = _parent_of(fold_dir)
    if prior_parent is not None and os.path.abspath(prior_parent) != os.path.abspath(
        state.current_base()
    ):
        # this epoch dir was already folded onto a DIFFERENT base — it is an
        # interior link of the chain (reachable only when the offsets
        # checkpoint was lost/reset while _HEAD.json survived, re-delivering
        # an old epoch id). Re-folding it onto the current head would
        # overwrite its parent pointer with a descendant — a CYCLE that makes
        # every chain read loop forever. The two checkpoints are one logical
        # unit (see StreamingFoldState docstring); refuse loudly instead of
        # corrupting the chain.
        raise ValueError(
            f"fold_micro_batch: epoch dir {fold_dir} already folded onto "
            f"{prior_parent}, but the chain head is {state.current_base()} — "
            "the stream's offsets checkpoint and fold_root/_HEAD.json have "
            "diverged (they must be kept or deleted together)."
        )
    out, _ = fold_batch(
        state.current_base(),
        batch,
        state.cfg,
        fold_dir,
        input_token=f"epoch:{epoch_id}",
        bucketed_table=state.bucketed_table,
        bucketed_path=state.bucketed_path,
        bucketed_buckets=state.bucketed_buckets,
        ann_index_path=state.ann_index_path,
    )
    state._advance(fold_dir)
    cadence_hit = state.compact_every and state.total_folds % state.compact_every == 0
    depth_hit = state.max_chain_depth and chain_depth(fold_dir) >= state.max_chain_depth
    if cadence_hit or depth_hit:
        # coverage must be checked BEFORE compaction drops the parent
        # pointers the walk needs
        spark = batch.sparkSession
        covered = bool(state.bucketed_table) and bucketed.chain_covered(
            spark, state.bucketed_table, fold_dir
        )
        compact_checkpoint(spark, fold_dir)
        if state.bucketed_table:
            if covered:
                # the table already holds exactly the index the compaction
                # just materialized (every fold on the walk appended), so
                # re-anchor the meta at the flat dir — one sidecar write —
                # instead of rewriting the identical corpus-sized table.
                # Compaction pays one corpus materialization by design; the
                # probe table must not cost a second.
                bucketed.reanchor_meta(spark, state.bucketed_table, fold_dir)
            else:
                bucketed.ensure_bucketed_index(
                    spark, state.bucketed_table, fold_dir, n_buckets=state.bucketed_buckets,
                    path=state.bucketed_path, force_rebuild=True,
                )
    return out


def start_er_stream(
    stream: DataFrame,
    state: StreamingFoldState,
    offsets_dir: str,
    trigger_once: bool = False,
):
    """Wire a streaming repos source into the fold chain. ``offsets_dir`` is
    the Structured Streaming checkpoint (source offsets / epoch ids) — kept
    SEPARATE from the fold checkpoints, which hold the data-level state.
    ``trigger_once`` drains what is available and stops (the batch-job-shaped
    deployment: run from cron, fold everything new, exit)."""
    writer = stream.writeStream.foreachBatch(
        lambda df, eid: fold_micro_batch(state, df, eid)
    ).option("checkpointLocation", offsets_dir)
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
