"""Bucketed block-index storage: the shuffle-free probe path for folds whose
delta is too large to broadcast.

The incremental fold's probe broadcasts the (batch-proportional) delta key
set and SCANS the corpus key stream (operators/incremental.py) — zero corpus
shuffle, but a broadcast is safe only while the delta keys fit the fold's
broadcast budget (``FOLD_BROADCAST_MAX_BYTES``). When a fold probing this
table absorbs a batch past that budget (a backfill day, a vendored-monorepo
import), its measured delta makes the probe join sort-merge, and the join
must co-locate: persist the block index BUCKETED BY
``block_key`` (hash-bucketed files + catalog bucket spec), and the sort-merge
probe exchanges ONLY the delta side — the 10^12-row corpus index is read
pre-partitioned, no Exchange above its scan (`tests/test_bucketed.py` pins
that plan shape). This is the parquet-catalog analogue of an Iceberg
bucket-partitioned table; the reference's counterpart is the sharded
alias-table layout (128 mod-shards,
/root/reference/configs/general.gin:4-5), which co-locates probes by key
modulus for the same reason.

Append lifecycle: each fold APPENDS its delta keys (Spark verifies the bucket
spec matches), so the table stays the union of the root run's index plus
every fold's delta — identical content to ``read_stage_chain(...,
'block_index')``, pre-bucketed. Appends must be fenced by the fold's
checkpoint markers (append once, after the fold's ``block_index_delta`` stage
is green) — a replayed fold that re-appended would duplicate base rows, which
is OUTPUT-NEUTRAL: pairs are distinct-aggregated and the probe cap is a
dense_rank (a duplicated member counts once), so the only cost is storage.

The catalog entry is session-scoped under Spark's default in-memory catalog;
production deployments back it with a real metastore (Hive/Glue/Unity) so the
bucket spec survives across jobs — the write/read/append API here is
identical either way. For metastore-less deployments (this sandbox,
spark-submit per invocation), ``ensure_bucketed_index`` re-registers an
EXTERNAL table from its location using the bucket spec persisted in a
``_MEL_BUCKETED_META.json`` sidecar (underscore-prefixed, so parquet scans
ignore it), then validates the table still covers the fold chain: every fold
dir between the current base and the table's creation point must carry this
table's append marker, else the table silently misses delta keys and the
probe silently misses base candidates. A diverged/compacted chain triggers an
automatic rebuild from ``read_stage_chain`` — one corpus-index pass, the same
cost compaction already pays.
"""

from __future__ import annotations

import json
import os
import re
import warnings

from pyspark.sql import DataFrame, SparkSession


META_FILE = "_MEL_BUCKETED_META.json"


DEFAULT_BUCKETS = 256  # ~10^12 keys / 256 buckets ≈ 4G rows/bucket-file group;
# scale with corpus (buckets should each fit an executor's scan split budget)


def write_bucketed_index(
    df: DataFrame,
    table: str,
    n_buckets: int = DEFAULT_BUCKETS,
    path: str | None = None,
) -> None:
    """Materialize (block_key, mention_id) bucketed by block_key. ``path``
    makes it an external table (tests point this at a tmp dir); default is the
    session warehouse."""
    w = (
        df.select("block_key", "mention_id")
        .write.bucketBy(n_buckets, "block_key")
        .sortBy("block_key")
        .mode("overwrite")
        .format("parquet")
    )
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)
    # drop any cached file listing from a previous incarnation of this table
    # name — a rebuild deletes the old part files, and a stale relation cache
    # would make the next read chase them (FAILED_READ_FILE)
    df.sparkSession.catalog.refreshTable(table)


def append_bucketed_index(df: DataFrame, table: str) -> None:
    """Append a fold's delta keys. Spark rejects a mismatched bucket spec, so
    the bucketing invariant can't be silently broken; callers fence this with
    the fold's checkpoint marker (append exactly once per green fold)."""
    spark = df.sparkSession
    if not spark.catalog.tableExists(table):
        raise ValueError(
            f"append_bucketed_index: table {table!r} does not exist — write it "
            "with write_bucketed_index from the base run's block_index first"
        )
    n_buckets = _bucket_spec(spark, table)
    (
        df.select("block_key", "mention_id")
        .write.bucketBy(n_buckets, "block_key")
        .sortBy("block_key")
        .mode("append")
        .format("parquet")
        .saveAsTable(table)
    )
    spark.catalog.refreshTable(table)


def read_bucketed_index(spark: SparkSession, table: str) -> DataFrame:
    """The probe source: pass this as ``incremental_update(...,
    base_keys_table=...)`` (or directly as probe_keys' base side) and a
    sort-merge probe — the fold's choice when its delta keys are past the
    broadcast budget, or ``probe_keys(broadcast_delta=False)`` — carries no
    Exchange on the corpus side.

    Refreshes the relation first: appends/rebuilds may have happened in a
    DIFFERENT SessionState over the same shared catalog (Structured Streaming
    runs foreachBatch in a cloned session, whose refreshTable does not touch
    this session's relation cache), and a stale cached file listing fails the
    read outright after a rebuild."""
    spark.catalog.refreshTable(table)
    return spark.table(table)


def _bucket_spec(spark: SparkSession, table: str) -> int:
    row = [
        r
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
        if r["col_name"] == "Num Buckets"
    ]
    if not row:
        raise ValueError(f"{table!r} is not a bucketed table")
    return int(row[0]["data_type"])


def _table_location(spark: SparkSession, table: str) -> str:
    row = [
        r
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
        if r["col_name"] == "Location"
    ]
    if not row:
        raise ValueError(f"{table!r} has no Location")
    loc = row[0]["data_type"]
    return loc[len("file:"):] if loc.startswith("file:") else loc


def _marker_file(table: str) -> str:
    safe = re.sub(r"[^A-Za-z0-9_.]", "_", table)
    return f"_BUCKETED_APPEND_{safe}.json"


def fold_appended(fold_ckpt_dir: str, table: str) -> bool:
    """Whether this fold's ``block_index_delta`` was already appended to
    ``table`` — the append fence (exactly-once per green fold)."""
    return os.path.exists(os.path.join(fold_ckpt_dir, _marker_file(table)))


def record_fold_appended(fold_ckpt_dir: str, table: str) -> None:
    """Drop the append marker in the fold's checkpoint dir. Written AFTER the
    append commits: a crash between append and marker re-appends on replay —
    duplicate index rows are output-neutral (pairs distinct-aggregate; the
    probe cap is a dense_rank, so a duplicated member counts once) and cost
    only storage; a crash before the append just retries cleanly."""
    p = os.path.join(fold_ckpt_dir, _marker_file(table))
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"table": table}, f)
    os.replace(tmp, p)


def _read_meta(location: str) -> dict:
    p = os.path.join(location, META_FILE)
    if not os.path.exists(p):
        raise ValueError(f"bucketed index at {location} has no {META_FILE}")
    with open(p) as f:
        return json.load(f)


def _write_meta(location: str, meta: dict) -> None:
    p = os.path.join(location, META_FILE)
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, p)


def _register_external(spark: SparkSession, table: str, path: str) -> None:
    """Re-register an existing external bucketed index on a fresh session
    (metastore-less deployments lose the catalog entry between invocations;
    the data files + meta sidecar are the durable truth). The DDL must carry
    the SAME bucket spec the files were written with — Spark trusts the
    catalog spec when planning bucketed scans."""
    meta = _read_meta(path)
    schema = spark.read.parquet(path).schema
    cols = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in schema.fields)
    spark.sql(
        f"CREATE TABLE {table} ({cols}) USING PARQUET "
        f"CLUSTERED BY (block_key) SORTED BY (block_key) "
        f"INTO {int(meta['n_buckets'])} BUCKETS LOCATION '{path}'"
    )


def _validate_chain_coverage(spark: SparkSession, table: str, base_checkpoint: str) -> None:
    """Assert ``table`` holds exactly the chain's block-index content: walk the
    parent pointers from the current base back to the table's creation point;
    every fold dir on the way must carry this table's append marker. Raises
    ValueError when a fold skipped its append, or when the creation point is
    no longer on the chain (compaction removed the pointers, or the table
    belongs to a different run) — both mean the table is missing keys and the
    probe would silently miss base candidates. O(depth) metadata reads, no
    data scan."""
    from mel_spark.operators.incremental import _parent_of

    created = os.path.abspath(_read_meta(_table_location(spark, table))["created_base"])
    cur = os.path.abspath(base_checkpoint)
    while cur != created:
        if not fold_appended(cur, table):
            raise ValueError(
                f"fold {cur} never appended its block_index_delta to {table!r}"
            )
        parent = _parent_of(cur)
        if parent is None:
            raise ValueError(
                f"creation base {created} is not on the chain of {base_checkpoint} "
                "(chain compacted, or table built for a different run)"
            )
        cur = os.path.abspath(parent)


def chain_covered(spark: SparkSession, table: str, base_checkpoint: str) -> bool:
    """True iff ``table`` is registered and every fold between
    ``base_checkpoint`` and the table's creation point appended its delta —
    i.e. the table's content equals the chain's block index at
    ``base_checkpoint``. Callers that are about to COMPACT the chain run this
    first, while the parent pointers the walk needs still exist."""
    if not spark.catalog.tableExists(table):
        return False
    try:
        _validate_chain_coverage(spark, table, base_checkpoint)
        return True
    except ValueError:
        return False


def reanchor_meta(spark: SparkSession, table: str, new_base: str) -> None:
    """Point the meta sidecar's creation base at ``new_base`` WITHOUT touching
    any data file. Sound exactly when the table's content equals the chain's
    block index at ``new_base`` — the post-compaction case (``chain_covered``
    checked just before compacting): the compacted dir materializes the same
    full index the table already holds, so recording the new anchor replaces
    a second corpus-index bucketed rewrite with one sidecar write. Future
    validations then walk zero hops instead of failing on the dropped parent
    pointers and triggering that needless rebuild."""
    loc = _table_location(spark, table)
    _write_meta(
        loc, {**_read_meta(loc), "created_base": os.path.abspath(new_base)}
    )


def ensure_bucketed_index(
    spark: SparkSession,
    table: str,
    base_checkpoint: str,
    n_buckets: int | None = None,
    path: str | None = None,
    force_rebuild: bool = False,
) -> bool:
    """Create-or-validate the bucketed probe table for the chain rooted at
    ``base_checkpoint``. Order of attempts:

    1. table absent from the catalog but ``path`` holds a previously written
       index (+ meta sidecar): re-register the external table — O(1), the
       cross-invocation common case without a metastore.
    2. table registered: validate chain coverage (every fold since creation
       appended). Valid → done, nothing touched.
    3. otherwise (first run, or coverage validation failed): rebuild from
       ``read_stage_chain(base_checkpoint, 'block_index')`` — one bucketed
       shuffle-write of the corpus index, the same pass a compaction pays —
       and stamp the meta sidecar with the creation base + bucket spec.

    ``n_buckets`` is the bucket count of a (re)build (None =
    ``DEFAULT_BUCKETS``).

    ``force_rebuild`` skips registration + validation and rebuilds outright —
    the post-compaction path (compaction removes the parent pointers the
    validation walk needs, and the chain read it rebuilds from is now flat).

    Returns True when the table was (re)built, False when an existing table
    validated clean."""
    from mel_spark.operators.incremental import read_stage_chain

    if not force_rebuild:
        if not spark.catalog.tableExists(table) and path is not None and os.path.exists(
            os.path.join(path, META_FILE)
        ):
            _register_external(spark, table, path)
        if spark.catalog.tableExists(table):
            try:
                _validate_chain_coverage(spark, table, base_checkpoint)
                return False
            except ValueError as e:
                warnings.warn(
                    f"bucketed index {table!r} diverged from the fold chain "
                    f"({e}); rebuilding from the chain"
                )
    if n_buckets is None:
        n_buckets = DEFAULT_BUCKETS
    df = read_stage_chain(spark, base_checkpoint, "block_index")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    if path is not None and os.path.isdir(path):
        # recreating an EXTERNAL table over a non-empty location would union
        # the stale part files into every read; clear it — but only a dir we
        # provably own (meta sidecar present) or an empty one
        import shutil

        if os.path.exists(os.path.join(path, META_FILE)):
            shutil.rmtree(path)
        elif os.listdir(path):
            raise ValueError(
                f"ensure_bucketed_index: refusing to rebuild into non-empty "
                f"{path} that has no {META_FILE} (not a bucketed index dir)"
            )
    write_bucketed_index(df, table, n_buckets=n_buckets, path=path)
    _write_meta(
        _table_location(spark, table),
        {
            "created_base": os.path.abspath(base_checkpoint),
            "n_buckets": n_buckets,
        },
    )
    return True
