"""Similarity search (kNN retrieval) — the reference's J4 theta-join.

Three regimes, mirroring the reference's searcher hierarchy
(src/models/searchers/searcher.py:11-27):

 brute_force_topk       — DataFrame cross-join + ranked window; exact, fully
                          SQL-expressible (the correctness oracle path);
                          the numpy analogue is
                          src/models/searchers/simplified_brute_force_searcher.py:14-17
 broadcast_knn          — executors load the index matrix once per worker
                          and score each Arrow batch of queries with one
                          NumPy matmul + argpartition — the Spark form of
                          BruteForceSearcher's torch matmul+topk
                          (src/models/searchers/brute_force_searcher.py:29-36);
                          exact, for indexes that fit in executor memory
 lsh_topk               — hyperplane-LSH bucketed candidate join + exact
                          re-score + ranked window; the ScaNN analogue
                          (leaves=buckets, re-order=exact re-score;
                          src/models/searchers/scann_searcher.py:21-49)
 ivf_topk               — inverted-file ANN: seeded Lloyd k-means coarse
                          quantizer (the direct analogue of ScaNN's
                          tree partitioning, leaves ≈ 5√N per
                          src/data_processors/index/index.py:122-146), index
                          vectors assigned to their nearest centroid cell,
                          queries probe the nprobe nearest cells, exact
                          re-score inside; ``quantized=True`` adds the int8
                          asymmetric-hashing first pass + exact reorder
                          (scann_searcher.py:21-49). Fitted numpy quantizer
                          ⇒ verified by recall tests.
 ivf_topk_relational    — the same assign → probe → re-score pipeline with a
                          cross-engine-deterministic quantizer (md5-seeded
                          medoids + DECIMAL-exact Lloyd updates), expressed
                          entirely in Catalyst so the DuckDB oracle twin
                          hash-matches it end to end (contract entries
                          knn_ivf / knn_ivf_pq).

Every searcher ends in the same tail, and each step of it has one
implementation here, shared with the persisted index (operators/ann_index.py)
and dedup.embedding_near_dup_pairs:

 _top_n          — the one per-query window: rows ranked ≤ n by (score desc,
                   tiebreak asc). It serves the exact rank, the reorder and
                   the relational cell probe.
 _pair_cosine    — the one pair cosine: HALF_UP-6dp dot over per-row norms
                   that ``_side`` hoists out of the pair join.
 _exact_topk     — exact re-rank: ``_pair_cosine`` + ``_top_n`` ≤ k.
 _reorder        — the asymmetric-hashing cut: ``_top_n`` ≤ reorder by the
                   approximate code cosine.
 _QUANTIZERS     — the coarse quantizer, one per fit ("numpy", "relational"):
                   fit / assign / probe / int8 codes / approximate score.
                   ivf_topk and ivf_topk_relational share one body
                   (``_ivf_search``) that branches only on it; the persisted
                   index's build, append and probe call the same pieces.

The NumPy side of retrieval is one set of mapInArrow kernels — cell assign,
cell probe, int8 encode, code-cosine scoring and the broadcast_knn search.
Each decodes embeddings in either storage format (fp16-packed binary or
array<float>) through ``V.emb_matrix_arrow``.
"""

from __future__ import annotations

import atexit
import functools
import hashlib
import os
import shutil
import tempfile
from collections.abc import Callable, Iterator
from typing import NamedTuple

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from mel_spark.functions import vectors as V
from mel_spark.session import path_content_token

# per-worker-process cache for executor-side index loads (broadcast_knn's
# index_path mode): keyed by (path, id_col, emb_col, content fingerprint);
# lives for the Python worker's lifetime, so every task on a worker reuses one
# materialized index. The fingerprint (per-file size+mtime of the parquet
# data) makes a rewrite at the SAME path — e.g. an embed checkpoint recomputed
# under a new config — a cache MISS instead of silently serving stale vectors
# (spark.python.worker.reuse keeps these processes alive across queries).
_INDEX_CACHE: dict[tuple, tuple[np.ndarray, np.ndarray]] = {}


def _prep_index(ids: np.ndarray, embs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Sort by id (canonical order — output independent of scan/partition
    order) and L2-normalize rows."""
    order = np.argsort(ids, kind="stable")
    ids = np.ascontiguousarray(ids[order])
    embs = embs[order]
    norms = np.linalg.norm(embs, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return ids, np.ascontiguousarray(embs / norms, dtype=np.float32)


_INDEX_CACHE_MAX_ENTRIES = 4


def _load_index_cached(path: str, id_col: str, emb_col: str) -> tuple[np.ndarray, np.ndarray]:
    key = (path, id_col, emb_col, path_content_token(path))
    if key not in _INDEX_CACHE:
        # drop superseded versions of this path so a long-lived worker doesn't
        # accumulate dead indexes
        for k in [k for k in _INDEX_CACHE if k[:3] == (path, id_col, emb_col)]:
            del _INDEX_CACHE[k]
        # and bound the cache by entry count regardless of path churn —
        # distinct scratch paths would otherwise pin O(index) worker memory
        # each for the worker process lifetime (dicts iterate in insertion
        # order, so this evicts oldest-first)
        while len(_INDEX_CACHE) >= _INDEX_CACHE_MAX_ENTRIES:
            del _INDEX_CACHE[next(iter(_INDEX_CACHE))]
        import pyarrow.parquet as pq

        tbl = pq.read_table(path, columns=[id_col, emb_col])
        ids = tbl.column(id_col).to_numpy().astype(np.int64)
        embs = V.emb_matrix_arrow(tbl.column(emb_col).combine_chunks())
        _INDEX_CACHE[key] = _prep_index(ids, embs.astype(np.float32))
    return _INDEX_CACHE[key]


def brute_force_topk(
    queries: DataFrame,
    index: DataFrame,
    k: int = 10,
    q_id: str = "vec_id",
    q_emb: str = "embedding",
    i_id: str = "vec_id",
    i_emb: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k by cosine: (query_id, neighbor_id, cos, rank). Ties broken
    by neighbor id (deterministic). ``exclude_self`` drops id-equal matches
    (turn it OFF when query and index id spaces differ, e.g. retrieving
    against an entity-centroid index)."""
    # accept either emb storage — fp16-packed binary (the embed checkpoint's
    # default) or array<float>; no-op for arrays
    queries = V.ensure_emb_array(queries, q_emb)
    index = V.ensure_emb_array(index, i_emb)
    pairs = _side(queries, q_id, q_emb, "q").crossJoin(_side(index, i_id, i_emb, "i"))
    if exclude_self:
        pairs = pairs.filter(F.col("query_id") != F.col("neighbor_id"))
    return _exact_topk(pairs, k)


# ---------------------------------------------------------------------------
# The shared search tail: one per-query window, one pair cosine, one exact
# re-rank, one reorder
# ---------------------------------------------------------------------------

# output names of a pair join's two sides: (id, emb, hoisted norm)
_SIDE_COLS = {"q": ("query_id", "q_emb", "_qn"), "i": ("neighbor_id", "i_emb", "_in")}


def _side(df: DataFrame, id_col: str, emb_col: str, side: str) -> DataFrame:
    """One side ("q" or "i") of a pair join as (id, emb, norm). Norms are
    per-ROW quantities: computing them before the join does each one once
    instead of once per PAIR — the same double arithmetic either way, so
    the cosine is bit-identical."""
    id_out, emb_out, norm_out = _SIDE_COLS[side]
    return df.select(
        F.col(id_col).alias(id_out),
        F.col(emb_col).alias(emb_out),
        V.l2_norm(F.col(emb_col)).alias(norm_out),
    )


def _pair_cosine(
    a: str = "q_emb", b: str = "i_emb", a_norm: str = "_qn", b_norm: str = "_in"
) -> Column:
    """The one pair cosine: HALF_UP-6dp ``dot(a, b) / (‖a‖·‖b‖)`` over norm
    columns hoisted out of the pair join — bit-identical to ``V.cosine``."""
    return F.round(V.dot(F.col(a), F.col(b)) / (F.col(a_norm) * F.col(b_norm)), 6)


def _top_n(df: DataFrame, n: int, score: str, tiebreak: str, out: str = "_rn") -> DataFrame:
    """Rows ranked ≤ ``n`` per query_id by (``score`` desc, ``tiebreak``
    asc), the rank kept as ``out`` — the one per-query window behind the
    exact rank, the reorder and the relational cell probe."""
    w = Window.partitionBy("query_id").orderBy(F.desc(score), F.asc(tiebreak))
    return df.withColumn(out, F.row_number().over(w)).filter(F.col(out) <= n)


def _exact_topk(pairs: DataFrame, k: int) -> DataFrame:
    """The exact re-rank every searcher ends in: (query_id, neighbor_id,
    cos, rank) from pairs carrying both sides' columns (``_SIDE_COLS``);
    ties broken by neighbor id."""
    scored = pairs.withColumn("cos", _pair_cosine())
    return _top_n(scored, k, "cos", "neighbor_id", "rank").select(
        "query_id", "neighbor_id", "cos", "rank"
    )


def _with_vectors(
    cand: DataFrame, queries: DataFrame, index: DataFrame,
    q_id: str, q_emb: str, i_id: str, i_emb: str,
) -> DataFrame:
    """Candidate (query_id, neighbor_id) pairs joined to both sides'
    vectors and norms."""
    return cand.join(_side(queries, q_id, q_emb, "q"), "query_id").join(
        _side(index, i_id, i_emb, "i"), "neighbor_id"
    )


def _reorder(approx: DataFrame, reorder: int) -> DataFrame:
    """(query_id, neighbor_id) of the top ``reorder`` per query by the
    approximate score ``acos`` — the asymmetric-hashing cut before the
    exact re-rank (scann_searcher.py:21-49)."""
    return _top_n(approx, reorder, "acos", "neighbor_id").select("query_id", "neighbor_id")


@functools.cache
def _process_scratch_dir() -> str:
    """This process's private scratch parent: ``mkdtemp`` creates it mode
    0700, so no other user on the host can read it or plant files in it.
    Removed when the process exits."""
    path = tempfile.mkdtemp(prefix="mel_spark_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def _knn_scratch_path(index: DataFrame, app_id: str) -> str:
    """Where ``broadcast_knn`` spills ``index``: deterministic per
    (application, index plan). The canonicalized analyzed plan normalizes
    exprIds, so repeated calls over the same logical index — e.g. one per
    streaming fold — overwrite one directory instead of growing an
    unbounded set of uuid dirs, and the content fingerprint in the worker
    cache key evicts the superseded version of the same path. The
    application id keeps two applications that spill the same plan into a
    shared ``spark.mel.scratchDir`` off each other's files; without that
    conf the base is this process's private :func:`_process_scratch_dir`."""
    plan = index._jdf.queryExecution().analyzed().canonicalized().toString()
    key = hashlib.md5(f"{app_id}\n{plan}".encode()).hexdigest()[:12]
    base = index.sparkSession.conf.get("spark.mel.scratchDir", None)
    return os.path.join(base or _process_scratch_dir(), f"knn_index_{key}")


def broadcast_knn(
    queries: DataFrame,
    index: DataFrame,
    k: int = 10,
    q_id: str = "vec_id",
    q_emb: str = "embedding",
    i_id: str = "vec_id",
    i_emb: str = "embedding",
    exclude_self: bool = True,
    max_index_rows: int = 2_000_000,
    index_path: str | None = None,
) -> DataFrame:
    """Broadcast-index kNN: one NumPy matmul + argpartition per Arrow batch.

    Executors load the (i_id, i_emb) parquet at ``index_path`` themselves
    via pyarrow, cached once per worker process, so the driver never
    gathers the vectors and its peak memory is independent of index size.
    Point ``index_path`` at the embed checkpoint. Without a path, the
    projected ``index`` DataFrame is SPILLED to a scratch parquet by a
    distributed write and served the same way (one extra distributed pass
    over the index). Scratch base dir: ``spark.mel.scratchDir`` conf if
    set, else a private per-process tempdir — on a real multi-node cluster
    set the conf to shared storage (or better, pass the embed checkpoint
    as ``index_path``). Either emb storage format is accepted on both
    sides.

    The index is sorted by id and score ties are broken exactly (all
    boundary-tied candidates are re-ranked by (cos desc, id asc)), so the
    output is byte-identical across index sources and partitionings. Size
    is guarded (≤ ``max_index_rows``) before any load; beyond the guard use
    lsh_topk (the ScaNN-analogue regime). An empty index yields no rows.
    Emits (query_id, neighbor_ids array<long> ranked). Mirrors the
    reference's fits-in-memory judgement for BruteForceSearcher vs ScaNN
    (src/data_processors/index/index.py:16-62).
    """
    spark = queries.sparkSession
    src = spark.read.parquet(index_path) if index_path is not None else index
    if src is None:
        raise ValueError("broadcast_knn: need an index DataFrame or index_path")
    n = src.count()
    if n > max_index_rows:
        raise ValueError(
            f"broadcast_knn: index has {n} rows > max_index_rows={max_index_rows}; "
            "use lsh_topk for indexes that do not fit in executor memory"
        )
    schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("neighbor_ids", ArrayType(LongType())),
        ]
    )
    if n == 0:
        return spark.createDataFrame([], schema)

    if index_path is None:
        # spill-to-scratch: a distributed write of the 2-column projection,
        # then the per-worker pyarrow cache loads it
        import logging as _logging

        logger = _logging.getLogger(__name__)
        index_path = _knn_scratch_path(index, spark.sparkContext.applicationId)
        logger.info(
            "broadcast_knn: no index_path given — spilling %d-row index to %s "
            "for executor-side loading (pass index_path, e.g. the embed "
            "checkpoint, to skip this write)", n, index_path,
        )
        (
            index.select(F.col(i_id).alias(i_id), F.col(i_emb).alias(i_emb))
            .write.mode("overwrite").parquet(index_path)
        )

    def _search(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        ids, embs32 = _load_index_cached(index_path, i_id, i_emb)
        # rank in float64 rounded to 6dp so the ordering matches the exact
        # column-expression scorer (ties then break by neighbor id)
        embs = embs32.astype(np.float64)
        kk = min(k, len(ids))
        for rb in batches:
            if rb.num_rows == 0:
                continue
            sims = V.round6_half_up(_unit_rows(rb, q_emb) @ embs.T)
            qids = rb.column(q_id).cast(pa.int64())
            if exclude_self:
                # mask identical ids: ``ids`` is sorted, so each query's
                # equal-id run is [lo, hi) — one searchsorted per batch
                qn = qids.to_numpy()
                lo = np.searchsorted(ids, qn, "left")
                hi = np.searchsorted(ids, qn, "right")
                at = np.arange(len(qn))
                for j in range(int((hi - lo).max())):
                    sel = hi - lo > j
                    sims[at[sel], lo[sel] + j] = -np.inf
            part = np.argpartition(-sims, kk - 1, axis=1)[:, :kk]
            rows = []
            for r in range(sims.shape[0]):
                # widen the candidate set to EVERYTHING tied with the k-th
                # score, then rank (cos desc, id asc) — the k survivors are
                # exact regardless of index array order / argpartition's
                # unspecified equal-element choice
                kth = sims[r, part[r]].min()
                cand = np.nonzero(sims[r] >= kth)[0]
                order = np.lexsort((ids[cand], -sims[r, cand]))[:kk]
                rows.append(ids[cand[order]])
            yield pa.RecordBatch.from_arrays(
                [qids, pa.array(rows, pa.list_(pa.int64()))],
                names=["query_id", "neighbor_ids"],
            )

    return queries.select(q_id, q_emb).mapInArrow(_search, schema)


def train_ivf_centroids(
    index: DataFrame,
    n_cells: int,
    i_id: str = "vec_id",
    i_emb: str = "embedding",
    iterations: int = 3,
    seed: int = 42,
    init_hash: str = "xxhash64",
) -> np.ndarray:
    """Seeded Lloyd k-means over the index vectors → (n_cells, d) float32,
    rows L2-normalized (cells partition by cosine, matching the scorer).

    Deterministic: initial centroids are the vectors with the ``n_cells``
    smallest ``init_hash(id, seed)`` values (a seeded sample independent of
    partitioning); each Lloyd round is one broadcast-assign (NumPy matmul per
    Arrow batch) + the shared DECIMAL-exact per-position sum update
    (:func:`_ivf_update_relational`) — executor-parallel, O(N·cells·d) per
    round, plan width independent of emb_dim, centroids order-independent
    across partitionings (exact decimal addition commutes), no driver-side
    data beyond the (cells × d) matrix itself. ``n_cells ≈ 5√N`` is the reference's ScaNN
    leaf heuristic. ``init_hash="md5"`` selects the SAME medoids as the
    relational twin (ivf_topk_relational's _md5_seed_hash init), letting
    tests align the two quantizers end-to-end."""
    sdf = V.ensure_emb_array(
        index.select(F.col(i_id).alias("_id"), F.col(i_emb).alias("_emb")), "_emb"
    )  # init collect + Lloyd's posexplode sums need a real array column
    h = (
        _md5_seed_hash(F.col("_id"), seed)
        if init_hash == "md5"
        else F.xxhash64(F.col("_id"), F.lit(seed))
    )
    init = sdf.orderBy(h, F.col("_id")).limit(n_cells).collect()
    cents = np.array([r["_emb"] for r in init], dtype=np.float64)
    norms = np.linalg.norm(cents, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    cents /= norms
    for _ in range(iterations):
        # assignment stays the vectorized NumPy matmul; the UPDATE reuses the
        # relational twin's posexplode + single DECIMAL sum (r4 verdict #5):
        # plan width independent of emb_dim (the old form built d separate
        # F.sum(element_at) expressions — wide plans at d >= 512), and exact
        # decimal addition makes the centroids ORDER-INDEPENDENT across
        # partitionings by construction, not by fixture luck
        rows = _ivf_update_relational(sdf, _assign_cells(sdf, cents)).collect()
        new = cents.copy()
        for r in rows:
            v = np.array(r["cent"], dtype=np.float64)
            n = np.linalg.norm(v)
            if n > 0:
                new[r["cell"]] = v / n
        cents = new
    return cents.astype(np.float32)


def ivf_topk(
    queries: DataFrame,
    index: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    q_id: str = "vec_id",
    q_emb: str = "embedding",
    i_id: str = "vec_id",
    i_emb: str = "embedding",
    iterations: int = 3,
    seed: int = 42,
    quantized: bool = False,
    reorder: int = 1000,
    init_hash: str = "xxhash64",
) -> DataFrame:
    """IVF approximate top-k: coarse k-means cells → queries probe their
    ``nprobe`` nearest cells → candidate equi-join on cell id → exact cosine
    re-score → ranked window. Output matches brute force on every candidate
    it surfaces (same cos/rank semantics); recall < 1 by construction.

    ``quantized=True`` inserts the ScaNN asymmetric-hashing first pass
    (src/models/searchers/scann_searcher.py:21-49): candidates are scored
    against int8 codes shipped as 64-byte binaries (EXACTLY ¼ of the fp32
    vector payload — at 100 TB the candidate join moves codes, not vectors),
    the top ``reorder`` per query survive (reorder=1000 tuning precedent,
    src/finetunings/evaluation/find_recall.py:28-37), and only the survivors
    join the full fp32 vectors for the exact re-score. Per-vector scale
    cancels inside cosine, so the approx ranking is cosine(q, dequant(code))
    without ever materializing the dequantized vector.

    Scale shape: the only broadcast is the (n_cells × d) centroid matrix;
    candidates come from a cell-id equi-join, never all-pairs."""
    queries = V.ensure_emb_array(queries, q_emb)  # either emb storage format
    index = V.ensure_emb_array(index, i_emb)
    cents = train_ivf_centroids(index, n_cells, i_id, i_emb, iterations, seed, init_hash)
    return _ivf_search(
        _QUANTIZERS["numpy"], cents, queries, index, k, nprobe,
        q_id, q_emb, i_id, i_emb, quantized, reorder,
    )


def _ivf_search(
    qz: IVFQuantizer, cents, queries: DataFrame, index: DataFrame, k: int,
    nprobe: int, q_id: str, q_emb: str, i_id: str, i_emb: str,
    quantized: bool, reorder: int,
) -> DataFrame:
    """The one in-flight IVF body behind ivf_topk and ivf_topk_relational,
    branching only on the quantizer ``qz`` and its fitted ``cents``: index
    vectors assigned to cells, queries probe ``nprobe`` cells, candidates
    from the cell equi-join (self dropped), optional int8 approximate pass
    cut to ``reorder`` per query, exact re-rank ≤ k."""
    vecs_i = index.select(F.col(i_id).alias("_id"), F.col(i_emb).alias("_emb"))
    i_cells = qz.assign(vecs_i, cents).select(F.col("_id").alias("neighbor_id"), "cell")
    q_cells = qz.probe(
        queries.select(F.col(q_id).alias("query_id"), F.col(q_emb).alias("_emb")),
        cents, nprobe,
    )
    cand = (
        q_cells.join(i_cells, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    if quantized:
        codes = qz.codes(vecs_i.withColumnRenamed("_id", "neighbor_id"))
        approx = qz.score(
            cand.join(_side(queries, q_id, q_emb, "q"), "query_id")
            .join(codes, "neighbor_id")
            .select("query_id", "neighbor_id", "q_emb", "code")
        )
        cand = _reorder(approx, reorder)
    return _exact_topk(_with_vectors(cand, queries, index, q_id, q_emb, i_id, i_emb), k)


# ---------------------------------------------------------------------------
# NumPy retrieval kernels: one mapInArrow kernel per computation, shared by
# the in-flight searchers above and the persisted index (ann_index.py)
# ---------------------------------------------------------------------------


def _unit_rows(rb: pa.RecordBatch, col: str) -> np.ndarray:
    """Row-L2-normalized float64 matrix of an Arrow emb column (zero rows
    stay zero)."""
    q = V.emb_matrix_arrow(rb.column(col))
    qn = np.linalg.norm(q, axis=1, keepdims=True)
    qn[qn == 0] = 1.0
    return q / qn


def _assign_cells(sdf: DataFrame, cents: np.ndarray) -> DataFrame:
    """(_id, cell) from (_id, _emb): nearest centroid by dot product, via
    one NumPy matmul per Arrow batch against the broadcast centroid matrix."""
    b = sdf.sparkSession.sparkContext.broadcast(cents)
    schema = StructType([sdf.schema["_id"], StructField("cell", IntegerType())])

    def _assign(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        C = b.value.astype(np.float64)
        for rb in batches:
            if rb.num_rows == 0:
                continue
            sims = _unit_rows(rb, "_emb") @ C.T
            # deterministic tie-break: lowest cell id wins (argmax is first-max)
            cell = np.argmax(sims, axis=1).astype(np.int32)
            yield pa.RecordBatch.from_arrays(
                [rb.column("_id"), pa.array(cell)], names=["_id", "cell"]
            )

    return sdf.mapInArrow(_assign, schema)


def _probe_cells(vecs: DataFrame, cents: np.ndarray, nprobe: int) -> DataFrame:
    """(query_id, cell) from (query_id, _emb): one row per query per probed
    cell — the ``nprobe`` nearest centroids by cosine, one NumPy matmul +
    argpartition per Arrow batch against the broadcast centroid matrix."""
    b = vecs.sparkSession.sparkContext.broadcast(cents)
    schema = StructType([vecs.schema["query_id"], StructField("cell", IntegerType())])

    def _probe(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        C = b.value.astype(np.float64)
        npb = min(nprobe, C.shape[0])
        for rb in batches:
            if rb.num_rows == 0:
                continue
            sims = _unit_rows(rb, "_emb") @ C.T
            part = np.argpartition(-sims, npb - 1, axis=1)[:, :npb]
            rows = pa.array(np.repeat(np.arange(rb.num_rows), npb))
            yield pa.RecordBatch.from_arrays(
                [rb.column("query_id").take(rows), pa.array(part.ravel().astype(np.int32))],
                names=["query_id", "cell"],
            )

    return vecs.mapInArrow(_probe, schema)


def _int8_encode_np(v: np.ndarray) -> np.ndarray:
    """HALF_UP symmetric per-vector int8 codes (s = max|v|/127) — the NumPy
    twin of the Catalyst ``int8_codes``."""
    mx = np.abs(v).max(axis=1, keepdims=True)
    s = np.maximum(mx / 127.0, 1e-300)
    r = v / s
    return np.where(r >= 0, np.floor(r + 0.5), np.ceil(r - 0.5)).astype(np.int8)


def _int8_code_rows(sdf: DataFrame, emb_out: str | None = None) -> DataFrame:
    """``sdf`` with its ``_emb`` column replaced by the int8 ``code``
    (binary, dim bytes), preceded by the stored embedding ``emb`` when
    ``emb_out`` is "f16" (packed little-endian fp16 binary) or "f32"
    (array<float>). Both are packed from the float64 decode. Feeds
    ivf_topk's quantized pass and the persisted index's inverted lists."""
    emb_fields = {
        None: [],
        "f16": [StructField("emb", BinaryType())],
        "f32": [StructField("emb", ArrayType(FloatType()))],
    }[emb_out] + [StructField("code", BinaryType())]
    fields = []
    for f in sdf.schema.fields:
        fields += emb_fields if f.name == "_emb" else [f]
    schema = StructType(fields)

    def _encode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            if rb.num_rows == 0:
                continue
            v = V.emb_matrix_arrow(rb.column("_emb"))
            out = [V.emb_arrow(v, emb_out)] if emb_out else []
            out.append(V.packed_binary(_int8_encode_np(v)))
            cols = []
            for name in rb.schema.names:
                cols += out if name == "_emb" else [rb.column(name)]
            yield pa.RecordBatch.from_arrays(cols, names=schema.names)

    return sdf.mapInArrow(_encode, schema)


def _code_cosine_np(q: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Row-wise cosine(q_i, c_i) rounded HALF_UP to 6dp — matches the exact
    Catalyst scorer's rounding discipline so approx-pass ranks are
    reproducible across the in-flight and persisted-index paths."""
    qn = np.linalg.norm(q, axis=1)
    cn = np.linalg.norm(c, axis=1)
    return V.round6_half_up((q * c).sum(axis=1) / np.maximum(qn * cn, 1e-300))


def _code_cosine(pairs: DataFrame) -> DataFrame:
    """(query_id, neighbor_id, acos) from (query_id, neighbor_id, q_emb,
    code): the asymmetric-hashing approx score — cosine of the full query
    against the int8 code, per Arrow batch (per-vector code scale cancels
    inside cosine)."""
    schema = StructType(
        [pairs.schema["query_id"], pairs.schema["neighbor_id"],
         StructField("acos", DoubleType())]
    )

    def _score(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            if rb.num_rows == 0:
                continue
            q = V.emb_matrix_arrow(rb.column("q_emb"))
            c = V.binary_matrix(rb.column("code"), np.int8).astype(np.float64)
            yield pa.RecordBatch.from_arrays(
                [rb.column("query_id"), rb.column("neighbor_id"),
                 pa.array(_code_cosine_np(q, c))],
                names=["query_id", "neighbor_id", "acos"],
            )

    return pairs.mapInArrow(_score, schema)


def _md5_seed_hash(col: Column, seed: int) -> Column:
    """60-bit int from md5(id:seed) — the cross-engine-deterministic seeded
    sample used for centroid init (DuckDB twin inlined in __spark_entry__)."""
    return F.conv(
        F.substring(F.md5(F.concat(col.cast("string"), F.lit(f":{seed}"))), 1, 15),
        16, 10,
    ).cast("long")


def fit_ivf_centroids_relational(
    index: DataFrame,
    n_cells: int = 16,
    i_id: str = "vec_id",
    i_emb: str = "embedding",
    iterations: int = 2,
    seed: int = 42,
) -> DataFrame:
    """(cell, cent array<double>) coarse quantizer, cross-engine
    deterministic: md5(id:seed)-smallest medoid init + ``iterations``
    DECIMAL-exact Lloyd rounds. Shared by ivf_topk_relational (in-flight
    oracle twin) and ann_index.build_ivf_index (persisted index)."""
    index = V.ensure_emb_array(index, i_emb)
    vecs_i = index.select(F.col(i_id).alias("_id"), F.col(i_emb).alias("_emb"))
    init = (
        vecs_i.withColumn("_h", _md5_seed_hash(F.col("_id"), seed))
        .orderBy("_h", "_id")
        .limit(n_cells)
    )
    w_init = Window.orderBy("_h", "_id")
    cents = (
        init.withColumn("cell", (F.row_number().over(w_init) - 1).cast("int"))
        .select("cell", F.transform("_emb", lambda x: x.cast("double")).alias("cent"))
    )
    for _ in range(iterations):
        cents = _ivf_update_relational(vecs_i, _ivf_assign_relational(vecs_i, cents))
    # n_cells rows, computed once: the fitted centroids feed two to three
    # consumers (index assignment, query probing, persisted-index build),
    # each of which would otherwise re-execute the whole Lloyd chain (every
    # iteration = a crossJoin over the index + decimal update aggs). A lazy
    # local checkpoint, not persist(): Spark reclaims its blocks once the
    # returned frame is garbage-collected, while a persisted plan stays in
    # the CacheManager until someone unpersists it
    return cents.localCheckpoint(eager=False)


def _ivf_assign_relational(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """(_id, cell) from (_id, _emb): nearest centroid by cosine (ties →
    lowest cell), as a broadcast nested-loop join + partial-aggregatable
    max_by — the relational form of 'broadcast the (cells × d) matrix and
    matmul'."""
    # per-ROW norms hoisted before the cross join: each vector norm is
    # computed once instead of once per (vector, centroid) pair — identical
    # IEEE arithmetic, so assignments (and the oracle hash) are unchanged
    scored = (
        vecs.withColumn("_vn", V.l2_norm(F.col("_emb")))
        .crossJoin(F.broadcast(cents.withColumn("_cn", V.l2_norm(F.col("cent")))))
        .withColumn("_cos", _pair_cosine("_emb", "cent", "_vn", "_cn"))
    )
    return scored.groupBy("_id").agg(
        F.max_by(
            "cell", F.struct(F.col("_cos").alias("a"), (-F.col("cell")).alias("b"))
        ).alias("cell")
    )


def _ivf_update_relational(vecs: DataFrame, members: DataFrame) -> DataFrame:
    """(cell, cent array<double>) from vectors (_id, _emb) and their cells
    (_id, cell): DECIMAL-exact per-position sums of member
    vectors (cosine is scale-invariant, so the un-normalized sum ranks
    identically to the mean — and exact decimal addition is order-independent,
    the same cross-engine trick as aggregates.embedding_centroid)."""
    ex = (
        members.join(vecs, "_id")
        .select("cell", F.posexplode("_emb").alias("pos", "_v"))
        .groupBy("cell", "pos")
        .agg(
            F.sum(F.round(F.col("_v").cast("double"), 7).cast("decimal(24,7)")).alias("s")
        )
    )
    return ex.groupBy("cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "s"))),
            lambda st: st.getField("s").cast("double"),
        ).alias("cent")
    )


def ivf_topk_relational(
    queries: DataFrame,
    index: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    q_id: str = "vec_id",
    q_emb: str = "embedding",
    i_id: str = "vec_id",
    i_emb: str = "embedding",
    iterations: int = 2,
    seed: int = 42,
    quantized: bool = False,
    reorder: int = 50,
) -> DataFrame:
    """IVF top-k expressed ENTIRELY in Catalyst, with a cross-engine-
    deterministic coarse quantizer — the oracle-matchable twin of ivf_topk
    (same assign → probe → re-score shape; DuckDB SQL twin assembled in
    __spark_entry__._ivf_sql):

     * init: the ``n_cells`` index vectors with the smallest md5(id:seed)
       hashes become cell medoids (TakeOrderedAndProject — no global sort),
     * ``iterations`` Lloyd rounds: assign by cosine (broadcast nested-loop
       join + max_by, ties → lowest cell), update by DECIMAL-exact
       per-position sums (order-independent ⇒ bit-identical across engines
       and partitionings; cosine's scale-invariance makes the un-normalized
       sum equivalent to the mean),
     * queries probe their ``nprobe`` best cells, candidates come from the
       cell equi-join, exact cosine re-score, rank ≤ k.

    ``quantized=True`` adds the ScaNN asymmetric-hashing analogue
    (src/models/searchers/scann_searcher.py:21-49): candidates are FIRST
    scored against int8 codes (per-vector symmetric scale s = max|v|/127,
    code = round(v/s) — 4× smaller candidate payload than fp32), the top
    ``reorder`` per query by code-cosine survive (per-vector scale cancels
    inside cosine, so the approx pass is exactly cosine(q, code)), and only
    the survivors are re-scored on full vectors (reorder=1000 tuning
    precedent: src/finetunings/evaluation/find_recall.py:28-37)."""
    queries = V.ensure_emb_array(queries, q_emb)  # either emb storage format
    index = V.ensure_emb_array(index, i_emb)
    cents = fit_ivf_centroids_relational(index, n_cells, i_id, i_emb, iterations, seed)
    return _ivf_search(
        _QUANTIZERS["relational"], cents, queries, index, k, nprobe,
        q_id, q_emb, i_id, i_emb, quantized, reorder,
    )


def _probe_cells_relational(vecs: DataFrame, cents: DataFrame, nprobe: int) -> DataFrame:
    """(query_id, cell) from (query_id, _emb): the ``nprobe`` nearest
    centroids by HALF_UP-6dp cosine (ties → lowest cell) — the Catalyst twin
    of :func:`_probe_cells`, a broadcast nested-loop join + ``_top_n``."""
    scored = vecs.crossJoin(F.broadcast(cents)).withColumn(
        "_cos", V.cosine(F.col("_emb"), F.col("cent"))
    )
    return _top_n(scored, nprobe, "_cos", "cell").select("query_id", "cell")


def int8_codes(emb: Column) -> Column:
    """Symmetric per-vector int8 quantization: s = max|v|/127, code_j =
    HALF_UP round(v_j / s) — an array<int> of values in [-127, 127] (4× less
    candidate payload than fp32 when stored as tinyint/byte). Expressed in
    Catalyst so the DuckDB twin (O.int8_codes) is byte-identical."""
    mx = F.array_max(F.transform(emb, lambda x: F.abs(x.cast("double"))))
    s = F.greatest(mx / F.lit(127.0), F.lit(1e-300))
    return F.transform(emb, lambda x: F.round(x.cast("double") / s, 0).cast("int"))


def lsh_topk(
    queries: DataFrame,
    index: DataFrame,
    k: int = 10,
    q_id: str = "vec_id",
    q_emb: str = "embedding",
    i_id: str = "vec_id",
    i_emb: str = "embedding",
    dim: int = 64,
    n_planes: int = 16,
    bands: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: hyperplane-band equi-join → exact re-score → window.
    Recall < 1 by construction; rank/cos columns match brute force on the
    candidates it does find."""
    from mel_spark.operators.blocking import hyperplane_blocks

    queries = V.ensure_emb_array(queries, q_emb)  # either emb storage format
    index = V.ensure_emb_array(index, i_emb)
    qb = hyperplane_blocks(
        queries.select(F.col(q_id).alias("_qid"), F.col(q_emb).alias("q_emb")),
        "_qid", "q_emb", dim=dim, n_planes=n_planes, bands=bands, seed=seed,
    ).withColumnRenamed("mention_id", "query_id")
    ib = hyperplane_blocks(
        index.select(F.col(i_id).alias("_iid"), F.col(i_emb).alias("i_emb")),
        "_iid", "i_emb", dim=dim, n_planes=n_planes, bands=bands, seed=seed,
    ).withColumnRenamed("mention_id", "neighbor_id")
    cand = (
        qb.join(ib, "block_key")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    return _exact_topk(_with_vectors(cand, queries, index, q_id, q_emb, i_id, i_emb), k)


class IVFQuantizer(NamedTuple):
    """A coarse quantizer's pieces, one implementation each per fit — all
    that differs between the NumPy and the Catalyst IVF. ``fit`` returns
    the centroids in the quantizer's own form (a float32 matrix or a
    (cell, cent) DataFrame) that ``assign`` and ``probe`` take."""

    fit: Callable  # (index, n_cells, i_id, i_emb, iterations, seed) → centroids
    assign: Callable  # (vecs (_id, _emb), centroids) → (_id, cell)
    probe: Callable  # (vecs (query_id, _emb), centroids, nprobe) → (query_id, cell)
    codes: Callable  # (vecs (neighbor_id, _emb)) → (neighbor_id, code)
    score: Callable  # (query_id, neighbor_id, q_emb, code) → (query_id, neighbor_id, acos)


_QUANTIZERS = {
    "numpy": IVFQuantizer(
        train_ivf_centroids, _assign_cells, _probe_cells, _int8_code_rows, _code_cosine
    ),
    "relational": IVFQuantizer(
        fit_ivf_centroids_relational,
        _ivf_assign_relational,
        _probe_cells_relational,
        lambda v: v.select("neighbor_id", int8_codes(F.col("_emb")).alias("code")),
        lambda p: p.withColumn("acos", V.cosine(F.col("q_emb"), F.col("code"))),
    ),
}
