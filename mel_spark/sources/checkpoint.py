"""The run's durable state: resumable stage checkpoints, every JSON sidecar,
the fold chain's parent pointers and the stage fingerprint.

Mirrors the reference's idempotent bash stage guards
(src/scripts/train/all_langs_no_slurm.sh:49-116 — `if [ ! "$(ls -A $DIR)" ]`)
as a durable-table protocol, and is the one home of that protocol:

* ``write_json`` is the ONE commit of durable JSON state — a tmp file, then
  an atomic ``os.replace`` — and ``read_json`` the one read. Every stage
  marker and sidecar goes through them: ``<stage>._MARKER.json``, the fold's
  ``_PARENT.json``, the stream's ``_HEAD.json``, the bucketed index's meta
  and append markers, the ANN index's ``_META.json`` and CC's
  ``_CC_STATE.json``. A reader sees the previous commit or the new one,
  never half a file.
* ``walk_chain`` is the one walk of a fold chain's ``_PARENT.json`` pointers.
* ``stage_fingerprint`` is the one hash of (config, input identity) a stage
  marker records.

Stages (``CheckpointManager``) are plain parquet tables. A stage is skipped
iff its table exists AND its marker is complete, carries the caller's
fingerprint, and records the row count the table still holds. The marker is
written ONCE per stage, after its table: stage, run_id, rows, schema,
schema_json, fingerprint, status and written_at, plus — for a stage
``get_or_compute`` computed — ``elapsed_sec`` (compute + write). A resumed
stage's marker is never rewritten. Each written row carries lineage columns
(stage, run_id, src_partition) per the north_rule.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

LINEAGE_COLS = ("_stage", "_run_id", "_src_partition")
PARENT_FILE = "_PARENT.json"


def write_json(path: str, obj: dict) -> None:
    """Commit ``obj`` as the JSON at ``path`` atomically (tmp file, then
    rename over it), creating the parent dir."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def read_json(path: str) -> dict | None:
    """The committed JSON at ``path``, or None when nothing is committed."""
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def parent_of(ckpt_dir: str) -> str | None:
    """The base a fold dir chains off (its ``_PARENT.json``), None for a
    chain root."""
    meta = read_json(os.path.join(ckpt_dir, PARENT_FILE))
    return None if meta is None else meta["base"]


def walk_chain(ckpt_dir: str):
    """Yield ``ckpt_dir``, then each base its parent pointers lead to, ending
    at the chain root (a from-scratch or compacted dir). Iterative — a year
    of daily folds must not hit Python's recursion limit before the
    compaction policy bounds the chain."""
    cur = ckpt_dir
    while cur is not None:
        yield cur
        cur = parent_of(cur)


def stage_fingerprint(cfg, *identity: str) -> str:
    """sha256 over the full config dataclass and the input's identity parts
    (input token, base dir, ...): a changed setting, default or input makes
    every stage recompute instead of serving a stale checkpoint."""
    return hashlib.sha256(
        "\x00".join([json.dumps(asdict(cfg), sort_keys=True), *identity]).encode()
    ).hexdigest()


@dataclass
class CheckpointManager:
    root: str
    run_id: str = field(init=False, default_factory=lambda: f"run{int(time.time())}")

    def _path(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def _marker(self, stage: str) -> str:
        return os.path.join(self.root, f"{stage}._MARKER.json")

    def exists(
        self,
        stage: str,
        spark: SparkSession | None = None,
        fingerprint: str | None = None,
    ) -> bool:
        """A checkpoint is valid iff the marker is complete, its recorded
        fingerprint (config + input identity hash) matches the caller's, and —
        when a session is supplied — the on-disk row count still equals the
        recorded one. A rerun with a different threshold/input therefore
        recomputes instead of silently serving the stale stage (ADVICE r1)."""
        meta = read_json(self._marker(stage))
        if not (
            meta is not None
            and meta.get("status") == "complete"
            and os.path.isdir(self._path(stage))
        ):
            return False
        if fingerprint is not None and meta.get("fingerprint") != fingerprint:
            return False
        if spark is not None:
            try:
                if self.read(stage, spark).count() != meta.get("rows"):
                    return False
            except Exception:
                return False
        return True

    def write(
        self,
        stage: str,
        df: DataFrame,
        partition_by: list[str] | None = None,
        fingerprint: str | None = None,
    ) -> DataFrame:
        """Materialize a stage: add lineage columns, write, record the marker,
        return the re-read DataFrame (fresh lineage ⇒ no upstream recompute)."""
        return self._write(stage, df, partition_by, fingerprint, None)

    def _write(
        self,
        stage: str,
        df: DataFrame,
        partition_by: list[str] | None,
        fingerprint: str | None,
        started: float | None,
    ) -> DataFrame:
        out = (
            df.withColumn("_stage", F.lit(stage))
            .withColumn("_run_id", F.lit(self.run_id))
            .withColumn("_src_partition", F.lit("all"))
        )
        # row count via an Observation piggybacked on the write action itself:
        # the count previously came from a full re-read scan of the written
        # table — one extra pass over EVERY stage's output (at 10M rows that
        # is gigabytes per stage, inside the stage's timed window). observe()
        # aggregates on the data as it flows through the write, costing ~0.
        obs = Observation()
        writer = out.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        path = self._path(stage)
        writer.parquet(path)
        # pin the schema: an empty stage writes no data files, and inference
        # would fail on re-read (degenerate-input contract, FIXTURES.md §7)
        reread = df.sparkSession.read.schema(out.schema).parquet(path)
        try:
            n = obs.get["rows"]
        except Exception:
            n = reread.count()  # degenerate plans that report no metrics
        meta = {
            "stage": stage,
            "run_id": self.run_id,
            "rows": n,
            "schema": reread.schema.simpleString(),
            "schema_json": out.schema.json(),
            "fingerprint": fingerprint,
            "status": "complete",
            "written_at": time.time(),
        }
        if started is not None:
            meta["elapsed_sec"] = round(time.time() - started, 3)
        write_json(self._marker(stage), meta)
        return reread

    def read(self, stage: str, spark: SparkSession) -> DataFrame:
        reader = spark.read
        meta = read_json(self._marker(stage))
        if meta is not None and meta.get("schema_json"):
            reader = reader.schema(StructType.fromJson(json.loads(meta["schema_json"])))
        return reader.parquet(self._path(stage))

    def get_or_compute(
        self,
        stage: str,
        spark: SparkSession,
        compute,
        partition_by: list[str] | None = None,
        fingerprint: str | None = None,
    ) -> tuple[DataFrame, bool]:
        """Resume protocol: (df, was_resumed). ``compute`` is a thunk returning
        the stage DataFrame; it is not invoked when the checkpoint is valid
        (marker complete + fingerprint match + recorded row count verified).
        A computed stage's marker records ``elapsed_sec``: ``compute()`` plus
        the write (bench + lineage metrics)."""
        if self.exists(stage, spark, fingerprint):
            return self.read(stage, spark), True
        started = time.time()
        return self._write(stage, compute(), partition_by, fingerprint, started), False

    def counters(self, stage: str) -> dict:
        meta = read_json(self._marker(stage))
        if meta is None:
            raise FileNotFoundError(self._marker(stage))
        return meta
