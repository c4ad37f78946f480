"""Candidate-pair generation and scoring.

Within-block self-join (id_a < id_b) ⇒ candidate pairs — the reference's J4
similarity retrieval re-expressed as an equi-join on block keys (SURVEY.md
§2.3). Score = cosine over embeddings fused with exact token-shingle Jaccard
over the sorted-distinct shingle-hash sets, both computed in one Arrow pass
(``score_pairs_fused_arrow``).

Scale notes: the self-join shuffles once on block_key; dedup of pairs that
co-occur in several blocks is a groupBy on (id_a, id_b) — both AQE-managed.
Block caps/salting upstream (blocking.py) bound the quadratic fan-out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mel_spark.functions import vectors as V


def _fused_packed_keys(arr):
    """list<int> Arrow array → (lengths, row_idx, (row_idx<<31)|value),
    all from the flat values buffer — zero per-row Python objects."""
    import numpy as np
    import pyarrow.compute as pc

    la = pc.list_value_length(arr).to_numpy().astype(np.int64)
    flat = arr.flatten().to_numpy(zero_copy_only=False).astype(np.int64)
    ridx = np.repeat(np.arange(len(arr), dtype=np.int64), la)
    return la, ridx, (ridx << np.int64(31)) | flat


def _fused_score_batch(rb, w_cos: float, w_jaccard: float):
    """The fused cos ⊕ jaccard kernel over ONE joined Arrow RecordBatch
    (columns mention_id_a/b, block_key, _emb_a/_emb_b, _xs_a/_xs_b) →
    output RecordBatch, or None for an empty batch.

    Module-level (not a closure) so its math is property-testable against
    a scalar replica of the Catalyst expression math (``V.cosine``, HALF_UP
    6dp) without a SparkSession
    (tests/test_fused_scorer_kernel.py) — the round-4 true-norm fp16 fix
    was found by eyeball; the property test catches that class
    mechanically (VERDICT r4 next #8)."""
    import numpy as np
    import pyarrow as pa

    B = rb.num_rows
    if B == 0:
        return None
    total_w = (w_cos + w_jaccard) or 1.0
    # emb arrives as fp16-packed binary (the default checkpoint storage) or
    # array<float>; decode straight off Arrow buffers
    ea = V.emb_matrix_arrow(rb.column("_emb_a"))
    eb = V.emb_matrix_arrow(rb.column("_emb_b"))
    # divide by the actual norms, never trust stored normalization: fp16
    # storage re-quantizes AFTER the featurizer's L2-normalize, drifting row
    # norms by up to ~1e-3 — a raw dot would leave the [-1, 1] range and
    # move threshold decisions vs an f32 run
    dn = np.linalg.norm(ea, axis=1) * np.linalg.norm(eb, axis=1)
    dn[dn == 0] = 1.0
    cos = V.round6_half_up(np.einsum("ij,ij->i", ea, eb) / dn)
    la, _, keys_a = _fused_packed_keys(rb.column("_xs_a"))
    lb, ridx_b, keys_b = _fused_packed_keys(rb.column("_xs_b"))
    # both key arrays are sorted (rows ascend; xs sorted-distinct within a
    # row) → vectorized merge-intersection via searchsorted
    pos = np.searchsorted(keys_a, keys_b)
    pos_ok = pos < len(keys_a)
    hit = np.zeros(len(keys_b), dtype=bool)
    hit[pos_ok] = keys_a[pos[pos_ok]] == keys_b[pos_ok]
    inter = np.bincount(ridx_b[hit], minlength=B)
    union = la + lb - inter
    jac = V.round6_half_up(inter / np.maximum(union, 1))
    score = V.round6_half_up((w_cos * cos + w_jaccard * jac) / total_w)
    return pa.RecordBatch.from_arrays(
        [
            rb.column("mention_id_a"),
            rb.column("mention_id_b"),
            rb.column("block_key"),
            pa.array(cos, type=pa.float64()),
            pa.array(jac, type=pa.float64()),
            pa.array(score, type=pa.float64()),
        ],
        names=[
            "mention_id_a", "mention_id_b", "block_key",
            "cos", "jaccard", "score",
        ],
    )


def candidate_pairs(blocks: DataFrame) -> DataFrame:
    """blocks(block_key, mention_id) → distinct (mention_id_a < mention_id_b)
    pairs, keeping one (deterministic: min) originating block key."""
    a = blocks.select("block_key", F.col("mention_id").alias("mention_id_a"))
    b = blocks.select("block_key", F.col("mention_id").alias("mention_id_b"))
    return (
        a.join(b, "block_key")
        .filter(F.col("mention_id_a") < F.col("mention_id_b"))
        .groupBy("mention_id_a", "mention_id_b")
        .agg(F.min("block_key").alias("block_key"))
    )


def score_pairs_fused_arrow(
    cand: DataFrame,
    records: DataFrame,
    id_col: str = "mention_id",
    emb_col: str = "emb",
    xs_col: str = "xs",
    w_cos: float = 0.6,
    w_jaccard: float = 0.4,
) -> DataFrame:
    """Pipeline fast path: cosine ⊕ jaccard fused score computed in ONE
    batch-vectorized NumPy pass (mapInArrow) instead of Catalyst
    zip_with/aggregate folds + array_intersect, which allocate per-row arrays
    and were the pair stage's GC hotspot at scale.

    ``records`` rows must carry L2-normalized ``emb`` (the featurizer output,
    so cosine ≡ dot) and sorted-distinct ``xs``. mapInArrow (not mapInPandas)
    so the list columns arrive as FLAT Arrow buffers — no per-row ndarray
    objects to materialize or concatenate. Jaccard exploits sortedness: the
    packed keys ``(row_idx << 31) | shingle`` are GLOBALLY sorted on each side
    (rows ascend, shingles ascend within a row), so per-row intersection sizes
    come from one vectorized ``searchsorted`` — no sort at all. The previous
    mapInPandas kernel's ``np.unique`` over the concatenated sides was an
    O(n log n) full sort whose memory traffic made scoring tasks inflate
    ~1.8× at 8 threads (BENCH/BASELINE.md round-4 forensics).
    Output: (id_a, id_b, block_key, cos, jaccard, score) rounded HALF_UP 6dp.
    """
    from collections.abc import Iterator as _It

    import pyarrow as pa  # noqa: F401 — type hints in _score
    from pyspark.sql.types import (
        DoubleType as _Dbl,
        LongType as _Lng,
        StructField as _SF,
        StructType as _ST,
    )

    side = records.select(
        F.col(id_col).alias("_id"), F.col(emb_col).alias("_emb"), F.col(xs_col).alias("_xs")
    )
    joined = (
        cand.join(
            side.select(
                F.col("_id").alias("mention_id_a"),
                F.col("_emb").alias("_emb_a"),
                F.col("_xs").alias("_xs_a"),
            ),
            "mention_id_a",
        )
        .join(
            side.select(
                F.col("_id").alias("mention_id_b"),
                F.col("_emb").alias("_emb_b"),
                F.col("_xs").alias("_xs_b"),
            ),
            "mention_id_b",
        )
    )
    schema = _ST(
        [
            _SF("mention_id_a", _Lng()),
            _SF("mention_id_b", _Lng()),
            _SF("block_key", _Lng()),
            _SF("cos", _Dbl()),
            _SF("jaccard", _Dbl()),
            _SF("score", _Dbl()),
        ]
    )

    def _score(batches: _It["pa.RecordBatch"]) -> _It["pa.RecordBatch"]:
        for rb in batches:
            out = _fused_score_batch(rb, w_cos, w_jaccard)
            if out is not None:
                yield out

    return joined.mapInArrow(_score, schema)


def hard_negative_pairs(
    topk: DataFrame,
    labels: DataFrame,
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """J7 reranker / hard-negative mining join: per query, pair the best
    GOLD-labeled neighbor with the best NON-gold neighbor — the (gold
    description, top non-gold candidate) training pair of the reference
    (src/reranking/binary/create_dataset.py:89-121); also the contrastive
    hard-negative selection of an LLM-training pipeline.

    ``topk``: (query_id, neighbor_id, rank) from a kNN searcher.
    ``labels``: (id_col, label_col) gold assignment.
    Output: (query_id, q_label, gold_id, gold_rank, neg_id, neg_rank) for
    queries whose top-k contains BOTH a gold and a non-gold neighbor (inner
    join — the reference likewise drops mentions without a retrievable gold).

    Scale shape: two broadcastable label joins + one groupBy(query) min-struct
    aggregation; never a per-query array.
    """
    q_lbl = labels.select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("q_label")
    )
    n_lbl = labels.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("n_label")
    )
    tagged = topk.join(q_lbl, "query_id").join(n_lbl, "neighbor_id")
    is_gold = F.col("n_label") == F.col("q_label")
    best = tagged.groupBy("query_id", "q_label").agg(
        F.min(F.when(is_gold, F.struct("rank", "neighbor_id"))).alias("g"),
        F.min(F.when(~is_gold, F.struct("rank", "neighbor_id"))).alias("x"),
    )
    return best.filter(F.col("g").isNotNull() & F.col("x").isNotNull()).select(
        "query_id",
        "q_label",
        F.col("g.neighbor_id").alias("gold_id"),
        F.col("g.rank").cast("int").alias("gold_rank"),
        F.col("x.neighbor_id").alias("neg_id"),
        F.col("x.rank").cast("int").alias("neg_rank"),
    )


def match_pairs(scored: DataFrame, threshold: float = 0.85, score_col: str = "score") -> DataFrame:
    """Threshold the fused score — the match decision (reference analogue:
    candidate-in-top-k membership, src/models/recall_calculator.py:100-110)."""
    return scored.filter(F.col(score_col) >= threshold)
