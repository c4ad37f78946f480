"""Persisted IVF index: fit ONCE over the corpus, probe many times.

Reference behavior: src/data_processors/index/index.py:16-118 — the ``Index``
wrapper builds a ScaNN searcher once from saved (embs, qids) .npy shards
(``Index.from_dir``, with a ``max_per_qid`` cap applied at load) and then
serves every recall/eval query from that one build. At the reference's scale
the whole index fits one machine; at 10^12 rows neither the fit nor the
inverted lists do, so this module re-expresses the same build→serve split
Spark-first:

* **Inverted lists ARE hive partitions** — ``lists/cell=<c>/*.parquet``.
  A probe touches ``nprobe`` cells per query; the driver collects the
  distinct probed cell ids (≤ n_cells ints, O(√N) by the 5·√N leaves rule,
  find_recall.py:28-37) and pushes an ``isin`` filter that Spark resolves as
  a STATIC PARTITION FILTER: only the probed cells' directories are ever
  listed or read. This is the storage-level analogue of ScaNN's
  ``leaves_to_search`` — the scan cost is O(probed lists), not O(corpus).
* **The only broadcast is the (n_cells × d) centroid matrix** (a DataFrame
  for the Catalyst probe, NumPy for the vectorized probe). The lists never
  move except for the candidate rows a probe actually selects.
* **Stored payloads are byte-width-aware**: embeddings fp16-packed binary
  (the reference's deliberate index format, src/utils/embeddings.py:108-111)
  plus int8 codes (ScaNN asymmetric hashing, scann_searcher.py:21-49), so a
  quantized probe moves ``dim`` bytes per candidate instead of ``4·dim``.

Build modes mirror the two in-flight IVF implementations in
operators/similarity.py and stay exactly equivalent to them (tested in
tests/test_ann_index.py). The probe follows the build mode recorded in
``_META.json``:

* ``fit="relational"`` — md5-seeded medoids + DECIMAL-exact Lloyd rounds,
  cross-engine deterministic; the probe runs in Catalyst and reproduces
  ``ivf_topk_relational`` bit-for-bit (and therefore hash-matches the same
  DuckDB oracle — contract entry ``knn_ivf_index``).
* ``fit="numpy"`` — ``train_ivf_centroids``'s vectorized Lloyd; the probe is
  one matmul + argpartition per Arrow batch, the production path.

This module holds no search step of its own. The fit, cell assignment and
probe are the fit's ``similarity._QUANTIZERS`` entry, the same ones the
in-flight IVFs run; the int8/fp16 list encoding, the code-cosine pass, the
reorder (``_reorder``) and the exact re-rank (``_exact_topk``) are
operators/similarity.py's shared search tail.

The build is commit-marked: ``_META.json`` is written LAST, and the loader
refuses an index without it — a crashed half-build reads as "not built",
never as a silently-smaller index.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mel_spark.functions import vectors as V
from mel_spark.operators.similarity import (
    _QUANTIZERS,
    _code_cosine,
    _exact_topk,
    _int8_code_rows,
    _reorder,
    _side,
)
from mel_spark.sources.checkpoint import read_json, write_json

_META = "_META.json"
_LISTS = "lists"
_CENTROIDS = "centroids"
# v2: lists are partitioned (cell, epoch) and _META carries the committed
# epoch list + per-epoch row counts, so incremental folds can APPEND new
# vectors (frozen-centroid assignment) without rewriting the index — the
# same epoch-fence idea as the bucketed block-index sidecar (bucketed.py):
# an epoch becomes visible only when the atomic _META rewrite commits it,
# so a crashed append is invisible to probes and cleaned up on retry.
META_VERSION = 2


def _meta_path(path: str) -> str:
    return os.path.join(path, _META)


def read_index_meta(path: str) -> dict:
    """Load and validate the index commit marker. Raises FileNotFoundError
    for a missing/half-built index, ValueError for a version mismatch."""
    meta = read_json(_meta_path(path))
    if meta is None:
        raise FileNotFoundError(
            f"ivf index at {path!r} has no {_META} — not built, or the build "
            "crashed before commit (rebuild with build_ivf_index)"
        )
    if meta.get("version") != META_VERSION:
        raise ValueError(
            f"ivf index at {path!r} has version {meta.get('version')!r}, "
            f"expected {META_VERSION} — this layout has no in-place "
            "migration; rebuild the index with build_ivf_index (or point at "
            "a fresh path)"
        )
    return meta


def build_ivf_index(
    index: DataFrame,
    path: str,
    n_cells: int = 16,
    i_id: str = "vec_id",
    i_emb: str = "embedding",
    iterations: int = 2,
    seed: int = 42,
    fit: str = "numpy",
    emb_format: str = "f16",
    max_per_key: int | None = None,
    key_col: str | None = None,
    token: str | None = None,
) -> dict:
    """Fit and persist an IVF index under ``path``; returns the meta dict.

    ``token``: optional idempotency key recorded as epoch 0's token. When a
    FOLD builds the index from a chain that already contains its own delta,
    stamping the fold's token here makes the replayed fold's
    ``append_to_ivf_index(..., token=...)`` a committed no-op instead of
    duplicating the delta (the crash-between-build-and-head-advance case).

    ``max_per_key``/``key_col`` is the reference's ``max_per_qid`` load cap
    (index.py:34-58): keep at most ``max_per_key`` vectors per ``key_col``
    value (lowest ids win — deterministic, unlike the reference's file-order
    cap). ``emb_format`` "f16" stores fp16-packed binary (half the bytes,
    embeddings.py:108), "f32" an exact array<float> (used by the oracle
    contract, where the DuckDB twin re-reads the original fp32 table).
    """
    if fit not in ("relational", "numpy"):
        raise ValueError(f"fit must be 'relational' or 'numpy', got {fit!r}")
    if emb_format not in ("f16", "f32"):
        raise ValueError(f"emb_format must be 'f16' or 'f32', got {emb_format!r}")
    spark = index.sparkSession
    index = V.ensure_emb_array(index, i_emb)
    src = index.select(
        F.col(i_id).cast("long").alias("id"), F.col(i_emb).alias("_emb")
    )
    if max_per_key is not None:
        key = F.col(key_col) if key_col else F.col("id")
        capped = index.withColumn("_k", key)
        w = Window.partitionBy("_k").orderBy(F.col(i_id).cast("long").asc())
        capped = capped.withColumn("_rn", F.row_number().over(w)).filter(
            F.col("_rn") <= max_per_key
        )
        src = capped.select(
            F.col(i_id).cast("long").alias("id"), F.col(i_emb).alias("_emb")
        )
    fit_input = src.select(F.col("id").alias(i_id), F.col("_emb").alias(i_emb))

    cents = _QUANTIZERS[fit].fit(fit_input, n_cells, i_id, i_emb, iterations, seed)
    if fit == "numpy":
        cents_df = spark.createDataFrame(
            [(int(c), [float(x) for x in row]) for c, row in enumerate(cents)],
            schema="cell int, cent array<double>",
        )
    else:
        cents_df = cents

    dim_row = src.select(F.size("_emb").alias("d")).first()
    if dim_row is None:
        raise ValueError("build_ivf_index: empty index input")
    dim = int(dim_row["d"])
    rows = _assigned_rows(src, fit, cents)

    # rebuild-over-existing: invalidate FIRST (a crash mid-build must read
    # as "not built"), then clear old lists — epoch files are written with
    # mode("append"), so stale directories would otherwise survive
    import shutil

    lists_path = os.path.join(path, _LISTS)
    if os.path.exists(_meta_path(path)):
        os.remove(_meta_path(path))
    shutil.rmtree(lists_path, ignore_errors=True)

    n_rows = _write_list_epoch(rows, lists_path, emb_format, epoch=0)
    cents_df.write.mode("overwrite").parquet(os.path.join(path, _CENTROIDS))
    meta = {
        "version": META_VERSION,
        "n_cells": n_cells,
        "dim": dim,
        "rows": n_rows,
        "epochs": [0],
        "epoch_rows": {"0": n_rows},
        "needs_refit": False,
        "seed": seed,
        "iterations": iterations,
        "fit": fit,
        "emb_format": emb_format,
        "max_per_key": max_per_key,
        "key_col": key_col,
    }
    if token is not None:
        meta["epoch_tokens"] = {"0": token}
    write_json(_meta_path(path), meta)  # commit marker: written LAST
    return meta


def _stored_centroids(spark: SparkSession, path: str, fit: str):
    """The index's centroids in its fit's own form: the (cell, cent)
    DataFrame for "relational", the float32 matrix ``train_ivf_centroids``
    returned for "numpy" (stored as the exact doubles of those floats)."""
    cents = spark.read.parquet(os.path.join(path, _CENTROIDS))
    if fit == "relational":
        return cents
    rows = cents.orderBy("cell").collect()  # ≤ n_cells: O(√N)
    return np.array([r["cent"] for r in rows], dtype=np.float32)


def _assigned_rows(src: DataFrame, fit: str, cents) -> DataFrame:
    """(id, _emb, cell) for vectors (id, _emb): the fit's one cell
    assignment — the same pure function for the build and every append."""
    assigned = _QUANTIZERS[fit].assign(src.withColumnRenamed("id", "_id"), cents)
    return src.join(assigned.withColumnRenamed("_id", "id"), "id").select(
        "id", "_emb", F.col("cell").cast("int").alias("cell")
    )


def _write_list_epoch(
    rows: DataFrame, lists_path: str, emb_format: str, epoch: int
) -> int:
    """Encode + write one epoch of inverted lists under
    ``lists/cell=<c>/epoch=<e>/`` and return the row count written.

    One shuffle keyed on cell co-locates each inverted list; partitionBy
    writes it as its own hive directory (the "list").  ``mode("append")``
    never touches other epochs' files; visibility is controlled by the
    _META epoch list, not by the write.  Rows (id, _emb, cell) are stored
    as (id, emb, code, cell)."""
    from pyspark.sql import Observation

    obs = Observation()
    encoded = (
        _int8_code_rows(rows.repartition(F.col("cell")), emb_format)
        .withColumn("epoch", F.lit(epoch))
        .observe(obs, F.count(F.lit(1)).alias("n"))
    )
    encoded.write.partitionBy("cell", "epoch").mode("append").parquet(lists_path)
    return int(obs.get["n"])


def _clean_uncommitted_epochs(lists_path: str, committed: list) -> None:
    """Remove epoch directories no committed _META references — the leftovers
    of a crashed append.  Run before every append so a retry never doubles
    rows inside its epoch."""
    import shutil

    keep = {f"epoch={e}" for e in committed}
    if not os.path.isdir(lists_path):
        return
    for cell_dir in os.listdir(lists_path):
        cd = os.path.join(lists_path, cell_dir)
        if not (cell_dir.startswith("cell=") and os.path.isdir(cd)):
            continue
        for epoch_dir in os.listdir(cd):
            if epoch_dir.startswith("epoch=") and epoch_dir not in keep:
                shutil.rmtree(os.path.join(cd, epoch_dir), ignore_errors=True)


def append_to_ivf_index(
    new_vecs: DataFrame,
    path: str,
    i_id: str = "vec_id",
    i_emb: str = "embedding",
    refit_threshold: float = 0.5,
    token: str | None = None,
) -> dict:
    """Fold-maintained index (VERDICT r4 next #2): append a batch's NEW
    vectors to the persisted lists using the FROZEN stored centroids, so a
    served ANN index follows the incremental pipeline instead of
    staleness-drifting until a full rebuild.

    Cell assignment is the same pure function the build used (given the
    stored centroid matrix), in the same ``fit`` mode, so an appended index
    is byte-equivalent to "re-encode everything with these centroids" —
    probes see exactly the brute-force-over-probed-cells answer for the
    grown corpus (tests/test_ann_index.py parity test).

    Durability mirrors the bucketed block-index fence: the epoch's files
    land under ``cell=<c>/epoch=<e>/`` invisible to probes, then ONE atomic
    _META rewrite commits the epoch; a crash before commit leaves the index
    serving its old contents and the next append sweeps the orphan files.

    Drift: _META tracks per-epoch row counts; once appended rows exceed
    ``refit_threshold`` of the index, ``needs_refit`` flips (the quantizer
    was fitted on a minority of the data — rebuild with build_ivf_index).
    Per-cell drift detail via :func:`ivf_cell_drift`.  The reference
    precedent is the build→serve split rebuilt per run
    (src/data_processors/index/index.py:33-62); this keeps serve fresh
    between rebuilds.

    Cap-built indexes (``max_per_key``) are rebuild-only: enforcing the cap
    across old+new keys would need the key column persisted per row.

    ``token``: optional idempotency key (e.g. the fold's checkpoint dir) —
    if a committed epoch already carries it the call is a no-op, so a
    replayed fold (crash after commit) cannot double-append its batch.
    """
    meta = read_index_meta(path)
    if token is not None and token in meta.get("epoch_tokens", {}).values():
        return meta  # this batch already committed (fold replay)
    if meta.get("max_per_key") is not None:
        raise ValueError(
            "append_to_ivf_index: index was built with max_per_key — the "
            "load-cap cannot be enforced incrementally; rebuild instead"
        )
    spark = new_vecs.sparkSession
    new_vecs = V.ensure_emb_array(new_vecs, i_emb)
    src = new_vecs.select(
        F.col(i_id).cast("long").alias("id"), F.col(i_emb).alias("_emb")
    )
    dim_row = src.select(F.size("_emb").alias("d")).first()
    if dim_row is None:
        return meta  # empty batch: nothing to commit
    if int(dim_row["d"]) != meta["dim"]:
        raise ValueError(
            f"append dim {dim_row['d']} != index dim {meta['dim']} at {path!r}"
        )

    lists_path = os.path.join(path, _LISTS)
    _clean_uncommitted_epochs(lists_path, meta["epochs"])

    cents = _stored_centroids(spark, path, meta["fit"])
    rows = _assigned_rows(src, meta["fit"], cents)
    epoch = max(meta["epochs"]) + 1
    n_new = _write_list_epoch(rows, lists_path, meta["emb_format"], epoch)

    meta["epochs"] = meta["epochs"] + [epoch]
    meta["epoch_rows"][str(epoch)] = n_new
    if token is not None:
        meta.setdefault("epoch_tokens", {})[str(epoch)] = token
    meta["rows"] = meta["rows"] + n_new
    appended = sum(
        n for e, n in meta["epoch_rows"].items() if e != "0"
    )
    meta["needs_refit"] = bool(appended > refit_threshold * meta["rows"])
    write_json(_meta_path(path), meta)  # commit marker: written LAST
    return meta


def default_n_cells(n_rows: int) -> int:
    """The reference's ScaNN leaf heuristic 5·√N (find_recall.py:28-37),
    never more cells than rows (and at least one)."""
    return max(1, min(int(5 * n_rows ** 0.5), n_rows))


def ensure_ivf_index(
    feats: DataFrame,
    path: str,
    i_id: str = "vec_id",
    i_emb: str = "embedding",
    n_cells: int | None = None,
    **build_kw,
) -> dict:
    """Build the index iff ``path`` has no committed one; otherwise return
    the existing meta untouched.  ``n_cells`` defaults to
    :func:`default_n_cells` of the row count."""
    try:
        return read_index_meta(path)
    except FileNotFoundError:
        pass
    if n_cells is None:
        n_cells = default_n_cells(feats.count())
    return build_ivf_index(
        feats, path, n_cells=n_cells, i_id=i_id, i_emb=i_emb, **build_kw
    )


def ivf_cell_drift(spark: SparkSession, path: str) -> DataFrame:
    """(cell, total, appended, drift_frac): how much of each inverted list
    arrived after the quantizer was fitted.  A metadata-cheap count over the
    committed epochs — row-group stats serve the counts, no payload read."""
    meta = read_index_meta(path)
    lists = spark.read.parquet(os.path.join(path, _LISTS)).filter(
        F.col("epoch").cast("int").isin([int(e) for e in meta["epochs"]])
    )
    per = lists.groupBy("cell").agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(
            F.when(F.col("epoch").cast("int") != 0, F.lit(1)).otherwise(F.lit(0))
        ).alias("appended"),
    )
    return per.withColumn(
        "drift_frac", F.round(F.col("appended") / F.col("total"), 6)
    )


def ivf_index_topk(
    spark: SparkSession,
    queries: DataFrame,
    path: str,
    k: int = 10,
    nprobe: int = 4,
    q_id: str = "vec_id",
    q_emb: str = "embedding",
    exclude_self: bool = True,
    quantized: bool = False,
    reorder: int = 1000,
) -> DataFrame:
    """Top-k over a persisted index: (query_id, neighbor_id, cos, rank).

    The probe is the index ``fit``'s quantizer probe and the re-rank the
    in-flight searchers' exact tail (HALF_UP-6dp cosine, top-k per query).
    A ``fit="relational"`` index is probed in Catalyst; with f32 storage it
    is bit-identical to ``ivf_topk_relational`` and hash-matches the same
    DuckDB oracle. A ``fit="numpy"`` index is probed by the shared NumPy
    kernel, one matmul + argpartition per Arrow batch against the broadcast
    centroid matrix (production).

    ``quantized=True`` adds the asymmetric-hashing first pass over the
    STORED int8 codes: candidates move ``dim`` bytes each, the top
    ``reorder`` per query survive to the exact fp re-score
    (scann_searcher.py:21-49 semantics)."""
    meta = read_index_meta(path)
    queries = V.ensure_emb_array(
        queries.withColumn(q_id, F.col(q_id).cast("long")), q_emb
    )
    dim_row = queries.select(F.size(q_emb).alias("d")).first()
    if dim_row is None:
        return spark.createDataFrame(
            [],
            schema="query_id long, neighbor_id long, cos double, rank int",
        )
    if int(dim_row["d"]) != meta["dim"]:
        raise ValueError(
            f"query dim {dim_row['d']} != index dim {meta['dim']} at {path!r}"
        )

    # the probe assignment feeds TWO consumers — the driver-side distinct
    # below and the candidate join — so it is computed once, as a lazy
    # local checkpoint (a mapInArrow matmul or a crossJoin+window would
    # otherwise run twice). Tiny table: nprobe rows per query, two ints
    # each; Spark reclaims it once the returned plan is garbage-collected.
    q_cells = _QUANTIZERS[meta["fit"]].probe(
        queries.select(F.col(q_id).alias("query_id"), F.col(q_emb).alias("_emb")),
        _stored_centroids(spark, path, meta["fit"]),
        nprobe,
    ).localCheckpoint(eager=False)

    # static partition pruning: the distinct probed cells (≤ n_cells ints)
    # come to the driver; the isin() below reaches the scan as a
    # PartitionFilter, so only the probed lists' directories are read
    probed = sorted(
        r["cell"] for r in q_cells.select("cell").distinct().collect()
    )
    if not probed:
        return spark.createDataFrame(
            [], schema="query_id long, neighbor_id long, cos double, rank int"
        )
    # both filters resolve as STATIC PARTITION FILTERS: only the probed
    # cells' COMMITTED epoch directories are listed or read (a crashed
    # append's orphan epoch is invisible here)
    lists = (
        spark.read.parquet(os.path.join(path, _LISTS))
        .filter(F.col("cell").isin(probed))
        .filter(F.col("epoch").cast("int").isin([int(e) for e in meta["epochs"]]))
        .withColumn("cell", F.col("cell").cast("int"))
    )

    cand = q_cells.join(lists, "cell").select(
        "query_id", F.col("id").alias("neighbor_id"), "emb", "code"
    )
    if exclude_self:
        cand = cand.filter(F.col("query_id") != F.col("neighbor_id"))
    q_side = _side(queries, q_id, q_emb, "q")

    if quantized:
        # the stored codes are the NumPy quantizer's binaries for either fit
        approx = _code_cosine(
            cand.select("query_id", "neighbor_id", "code")
            .join(q_side, "query_id")
            .select("query_id", "neighbor_id", "q_emb", "code")
        )
        cand = _reorder(approx, reorder).join(
            cand.select("query_id", "neighbor_id", "emb"),
            ["query_id", "neighbor_id"],
        )

    vecs = V.ensure_emb_array(cand.select("query_id", "neighbor_id", "emb"), "emb")
    return _exact_topk(
        vecs.select(
            "query_id", "neighbor_id", F.col("emb").alias("i_emb"),
            V.l2_norm(F.col("emb")).alias("_in"),
        ).join(q_side, "query_id"),
        k,
    )
