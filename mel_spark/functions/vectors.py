"""Vector (array<float>) math as Catalyst expressions + Arrow-vectorized UDFs.

The expression forms (cosine/dot/l2_normalize) stay JVM-side for small dims and
oracle parity; the pandas-UDF embedder mirrors the reference's batched encoder
(src/utils/embeddings.py:55-123: DataLoader batches → model → fp16 normalize)
as a deterministic hashed random-projection bi-encoder — model-pluggable, same
contract: L2-normalized float vectors (src/utils/embeddings.py:108-111).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, BinaryType, FloatType

EMB_DIM = 64


def dot(a: Column, b: Column) -> Column:
    """Left-fold dot product in double (order matches DuckDB list_sum fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column, decimals: int = 6) -> Column:
    """Exact cosine, rounded for cross-engine value-hash stability
    (oracle twin: mel_spark.functions.oracle.cosine)."""
    return F.round(dot(a, b) / (l2_norm(a) * l2_norm(b)), decimals)


def l2_normalize(a: Column) -> Column:
    n = l2_norm(a)
    return F.transform(a, lambda x: (x.cast("double") / n).cast("float"))


# ---------------------------------------------------------------------------
# Deterministic hashed random-projection embedder (the pluggable "bi-encoder")
# ---------------------------------------------------------------------------

def _projection_matrix(dim: int, vocab_buckets: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    m = rng.standard_normal((vocab_buckets, dim)).astype(np.float32)
    return m / np.linalg.norm(m, axis=1, keepdims=True)


def embed_buckets_udf(dim: int = EMB_DIM, vocab_buckets: int = 4096, seed: int = 42):
    """Arrow-batched embedder over PRE-HASHED token buckets (array<int>, from
    text.token_bucket_ids — JVM-side xxhash64): per batch one flattened
    gather + segmented sum (np.add.reduceat), zero Python-per-token work.
    Deterministic, L2-normalized float[dim].
    """
    proj = _projection_matrix(dim, vocab_buckets, seed)

    @F.pandas_udf(ArrayType(FloatType()))
    def _embed(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for bucket_lists in it:
            lens = np.fromiter((len(b) for b in bucket_lists), dtype=np.int64, count=len(bucket_lists))
            vecs = np.zeros((len(bucket_lists), dim), dtype=np.float32)
            nz = lens > 0
            if nz.any():
                flat = np.concatenate([np.asarray(b, dtype=np.int64) for b in bucket_lists if len(b)])
                starts = np.zeros(int(nz.sum()), dtype=np.int64)
                np.cumsum(lens[nz][:-1], out=starts[1:])
                vecs[nz] = np.add.reduceat(proj[flat], starts, axis=0)
            norms = np.linalg.norm(vecs, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            vecs /= norms
            yield pd.Series(list(vecs))

    return _embed


def featurize_map(
    dim: int = EMB_DIM,
    vocab_buckets: int = 4096,
    seed: int = 42,
    shingle_n: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
    th_col: str = "_th",
    id_col: str = "csid",
    emb_format: str = "f32",
):
    """One Arrow pass computing EVERY per-document feature the ER pipeline
    needs — embedding, sorted-distinct shingle hashes (xs), and minhash band
    keys — vectorized ACROSS the batch (no per-document Python loop on the
    hot path). Input rows: (id_col, th_col = pre-hashed token ints from
    text.token_int_hashes, the one JVM xxhash64 pass). Returns a
    (function, schema) pair for mapInArrow. The function reads the
    token-hash list column as a FLAT buffer and emits list columns as
    (offsets, values) pairs — no per-row ndarray/bytes objects, no pandas
    conversion, which halved the scorer's bandwidth footprint when applied
    there (BENCH/PAIR_STAGE.md) and is what lets Python workers scale with
    cores on a bandwidth-shared host. The minhash step is
    text.minhash_signatures, the primitive the contract's md5 kernel
    (text.doc_features_map) shares.

    Why not Catalyst: the expression form of this computation (32 `transform`
    permutations × `array_min` over ~80-element arrays per row) allocates a
    fresh array per permutation per row — JVM allocation/GC saturates and the
    stage scaled only ~1.5× from 2→8 threads (BENCH r1). Here the same
    integer math runs as ~40 flat NumPy passes per 10k-row batch in C.

    The formulas are BIT-IDENTICAL to the Catalyst builders
    (text.shingle_hashes_from_token_ints / minhash_signature_from_ints /
    minhash_band_ints), verified by tests — same blocks, same pairs, same F1.
    Reference analogue: the embed + index build fused pass
    (src/utils/embeddings.py:55-123, src/baselines/olpeat/find_recall.py:76-118).
    """
    from pyspark.sql.types import (
        ArrayType as _Arr,
        FloatType as _Flt,
        IntegerType as _Int,
        LongType as _Lng,
        StructField as _SF,
        StructType as _ST,
    )

    from mel_spark.functions.text import MINHASH_P, _minhash_params, minhash_signatures

    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    sh_coefs = np.array([1000003, 9176, 523717, 31, 65599][:shingle_n], dtype=np.int64)
    band_coefs = np.array([1000003, 9176, 523717, 31][:rows_per_band], dtype=np.int64)
    params = np.array(_minhash_params(num_hashes, 42), dtype=np.int64)  # (H, 2)
    proj = _projection_matrix(dim, vocab_buckets, seed)
    P = np.int64(MINHASH_P)
    band_mod = np.int64(MINHASH_P * 4)

    # xs values are md5/xxhash-derived ints < 2^30 → int32 halves the bytes of
    # the pipeline's widest payload column (shuffles, checkpoints, Arrow).
    # emb_format="f16" stores the embedding as a packed little-endian fp16
    # blob (dim·2 bytes) — HALF the f32 array payload and none of parquet's
    # per-element list overhead, the reference's deliberate fp16 storage
    # (/root/reference/src/utils/embeddings.py:108,219-221). Scorers upcast
    # on read (np.frombuffer('<f2')); quantization is deterministic, so
    # fold-equals-full-run byte identity is preserved.
    if emb_format not in ("f32", "f16"):
        raise ValueError(f"emb_format must be 'f32' or 'f16', got {emb_format!r}")
    from pyspark.sql.types import BinaryType as _Bin

    schema = _ST(
        [
            _SF(id_col, _Lng()),
            _SF("emb", _Bin() if emb_format == "f16" else _Arr(_Flt())),
            _SF("xs", _Arr(_Int())),
            _SF("bands", _Arr(_Lng())),
        ]
    )

    def _clamped_grams(t: np.ndarray) -> np.ndarray:
        # docs shorter than shingle_n: one gram with tail indices clamped —
        # same semantics as text.shingle_hashes_from_token_ints
        idx = np.minimum(np.arange(shingle_n), len(t) - 1)
        return np.array([(t[idx] * sh_coefs).sum() % P], dtype=np.int64)

    def _core(
        lens: np.ndarray, flat: np.ndarray, D: int
    ) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
        """The math kernel over segmented flat arrays. Returns
        (vecs (D,dim) f32 L2-normed, u_val int32 flat sorted-distinct-per-doc,
        starts_u (D,) int64 segment starts into u_val, band_keys (D,bands))."""
        doc_starts = np.zeros(D, np.int64)
        np.cumsum(lens[:-1], out=doc_starts[1:])

        # ---- embedding: bucket gather + segmented sum (buckets = th mod
        # vocab_buckets, exact because vocab_buckets divides 2^30) ----
        # Chunked by docs: the gather proj[tokens] materializes
        # tokens×dim×4 B (≈100 MB per 10k-doc batch) before the segmented
        # sum. On a bandwidth-shared host that full-batch intermediate is
        # pure DRAM traffic; per ~512-doc chunk it stays ~5 MB (cache-warm)
        # and the arithmetic is unchanged (reduceat segments never span
        # chunk boundaries because chunks split ON doc starts).
        vecs = np.zeros((D, dim), dtype=np.float32)
        nz = lens > 0
        if nz.any():
            mask = np.int64(vocab_buckets - 1)
            EMB_CH = 512
            for c0 in range(0, D, EMB_CH):
                c1 = min(c0 + EMB_CH, D)
                cnz = np.flatnonzero(nz[c0:c1]) + c0
                if not len(cnz):
                    continue
                s = doc_starts[c0]
                e = doc_starts[c1] if c1 < D else len(flat)
                vecs[cnz] = np.add.reduceat(
                    proj[flat[s:e] & mask], doc_starts[cnz] - s, axis=0
                )
        norms = np.linalg.norm(vecs, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        vecs /= norms

        # ---- shingle hashes: shifted-add convolution over the flat
        # token-hash array, masked to within-document positions ----
        total = len(flat)
        g = sh_coefs[0] * flat
        for j in range(1, shingle_n):
            g[: total - j] += sh_coefs[j] * flat[j:]
        g %= P
        docidx = np.repeat(np.arange(D, dtype=np.int64), lens)
        pos_in_doc = np.arange(total, dtype=np.int64) - doc_starts[docidx]
        valid = pos_in_doc <= lens[docidx] - shingle_n
        sh = g[valid]
        sh_doc = docidx[valid]
        shorts = np.flatnonzero(lens < shingle_n)
        if len(shorts):
            extra = [
                _clamped_grams(flat[doc_starts[s] : doc_starts[s] + lens[s]])
                for s in shorts
            ]
            sh = np.concatenate([sh, np.concatenate(extra)])
            sh_doc = np.concatenate(
                [sh_doc, np.repeat(shorts.astype(np.int64), [len(e) for e in extra])]
            )

        # ---- per-doc sorted-distinct via one global unique over
        # (doc << 31 | hash); hashes < P < 2^31 so the pack is lossless ----
        u = np.unique((sh_doc << np.int64(31)) | sh)
        u_doc = u >> np.int64(31)
        u_val = (u & np.int64((1 << 31) - 1)).astype(np.int32)
        starts_u = np.searchsorted(u_doc, np.arange(D, dtype=np.int64))

        # ---- minhash signature minima + integer band keys (every doc has
        # >= 1 shingle, the primitive's non-empty-segment precondition) ----
        sig = minhash_signatures(starts_u, u_val.astype(np.int64), params)
        band_keys = np.zeros((D, bands), dtype=np.int64)
        for b in range(bands):
            acc = np.zeros(D, dtype=np.int64)
            for j in range(rows_per_band):
                acc += band_coefs[j] * sig[:, b * rows_per_band + j]
            band_keys[:, b] = (acc + np.int64(b) * np.int64(1_000_000_007)) % band_mod
        return vecs, u_val, starts_u, band_keys

    _null_msg = (
        "featurize_map: document with NULL/zero-length token array "
        "(ids {ids}...). Upstream must "
        "canonicalize NULL content to '' (pipeline.ingest does)."
    )

    def _featurize(batches):
        import pyarrow as pa
        import pyarrow.compute as pc  # noqa: F401 — pa.compute is lazy

        def _empty():
            emb_t = pa.binary() if emb_format == "f16" else pa.list_(pa.float32())
            return pa.RecordBatch.from_arrays(
                [
                    pa.array([], pa.int64()),
                    pa.array([], emb_t),
                    pa.array([], pa.list_(pa.int32())),
                    pa.array([], pa.list_(pa.int64())),
                ],
                names=[id_col, "emb", "xs", "bands"],
            )

        for rb in batches:
            D = rb.num_rows
            if D == 0:
                yield _empty()
                continue
            th = rb.column(th_col)
            ids = rb.column(id_col)
            lens = pc.list_value_length(th)
            if th.null_count or pc.min(lens).as_py() == 0:
                bad = pc.fill_null(pc.equal(lens, 0), True)
                raise ValueError(
                    _null_msg.format(ids=ids.filter(bad).to_pylist()[:5])
                )
            lens = lens.to_numpy().astype(np.int64)
            flat = th.flatten().to_numpy(zero_copy_only=False).astype(np.int64)
            vecs, u_val, starts_u, band_keys = _core(lens, flat, D)

            xs_off = np.empty(D + 1, np.int32)
            xs_off[:D] = starts_u
            xs_off[D] = len(u_val)
            xs_arr = pa.ListArray.from_arrays(
                pa.array(xs_off), pa.array(u_val, pa.int32())
            )
            bd_off = np.arange(D + 1, dtype=np.int32) * bands
            bd_arr = pa.ListArray.from_arrays(
                pa.array(bd_off), pa.array(band_keys.ravel(), pa.int64())
            )
            yield pa.RecordBatch.from_arrays(
                [ids, emb_arrow(vecs, emb_format), xs_arr, bd_arr],
                names=[id_col, "emb", "xs", "bands"],
            )

    return _featurize, schema


def round6_half_up(x: np.ndarray) -> np.ndarray:
    """Round to 6dp HALF_UP (away from zero), like Spark ``F.round`` and
    DuckDB ``round`` — unlike ``np.round``'s banker's half-to-even, so a
    value landing exactly on a 5e-7 boundary ranks the same in every engine.
    The one rounding step every NumPy scorer shares."""
    return np.where(x >= 0, np.floor(x * 1e6 + 0.5), np.ceil(x * 1e6 - 0.5)) / 1e6


def binary_matrix(arr, dtype) -> np.ndarray:
    """(batch, width) matrix of ``dtype`` viewed straight off a binary Arrow
    column of equal-width packed rows: offsets buffer + one values buffer,
    zero per-row objects."""
    n = len(arr)
    if n == 0:
        return np.empty((0, 0), dtype)
    off_dt = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    offsets = np.frombuffer(arr.buffers()[1], off_dt)[arr.offset : arr.offset + n + 1]
    width = int(offsets[1] - offsets[0])
    if int(offsets[-1] - offsets[0]) != n * width:
        # ragged rows (shouldn't happen for embeddings/codes) — per-row fallback
        return np.stack([np.frombuffer(v.as_py(), dtype=dtype) for v in arr])
    data = np.frombuffer(arr.buffers()[2], np.uint8)
    return data[int(offsets[0]) : int(offsets[-1])].view(dtype).reshape(n, -1)


def packed_binary(m: np.ndarray):
    """Binary Arrow array with row i = ``m[i]``'s raw bytes — the inverse of
    :func:`binary_matrix`, built from two buffers with no per-row objects."""
    n, width = m.shape[0], m.shape[1] * m.itemsize
    off = np.arange(n + 1, dtype=np.int32) * width
    return pa.Array.from_buffers(
        pa.binary(), n,
        [None, pa.py_buffer(off.tobytes()), pa.py_buffer(np.ascontiguousarray(m).tobytes())],
    )


def emb_arrow(m: np.ndarray, emb_format: str):
    """Arrow emb column holding matrix ``m``'s rows in a storage format:
    "f16" packs each row as little-endian fp16 binary (cast straight from
    ``m``'s dtype), "f32" stores array<float>. The inverse of
    :func:`emb_matrix_arrow`."""
    if emb_format == "f16":
        return packed_binary(m.astype("<f2"))
    off = np.arange(m.shape[0] + 1, dtype=np.int32) * m.shape[1]
    return pa.ListArray.from_arrays(
        pa.array(off), pa.array(m.astype(np.float32, copy=False).ravel())
    )


def emb_matrix_arrow(arr) -> np.ndarray:
    """(batch, dim) float64 matrix straight off an Arrow emb column's flat
    buffers — the single decode point every NumPy scorer and searcher
    shares. Handles both storage formats: fp16-packed binary (viewed as
    ``<f2`` by :func:`binary_matrix`) and array<float> (``flatten()`` +
    reshape). Rows must be non-null and equal-width (the featurizer
    invariant)."""
    if pa.types.is_binary(arr.type) or pa.types.is_large_binary(arr.type):
        return binary_matrix(arr, "<f2").astype(np.float64)
    flat = arr.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
    return flat.reshape(len(arr), -1) if len(arr) else np.empty((0, 0), np.float64)


def _f16_to_f32(col: pa.Array) -> pa.Array:
    """One Arrow batch of fp16-packed binary embeddings as array<float>:
    the :func:`binary_matrix` view, packed back by :func:`emb_arrow` — no
    per-row objects."""
    return emb_arrow(binary_matrix(col, "<f2"), "f32")


def ensure_emb_array(df, emb_col: str = "emb"):
    """Return ``df`` with ``emb_col`` as array<float>, decoding fp16-packed
    binary in one vectorized Arrow UDF pass; identity otherwise. Column
    pruning drops the decode entirely for consumers that never read emb."""
    if isinstance(df.schema[emb_col].dataType, BinaryType):
        decode = F.arrow_udf(_f16_to_f32, ArrayType(FloatType()))
        return df.withColumn(emb_col, decode(F.col(emb_col)))
    return df
