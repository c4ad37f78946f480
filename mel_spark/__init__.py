"""mel_spark — a from-scratch PySpark-native entity-resolution / analytics engine.

Re-expresses the capabilities of the reference (Yokto13/mel — multilingual entity
linking: alias-table blocking, bi-encoder embedding retrieval, recall@k evaluation;
see SURVEY.md) as an idiomatic Spark pipeline:

    ingest → exact dedup → mention/shingle extraction → batched embedding (Arrow UDF)
    → LSH + minhash blocking → candidate-pair scoring (cosine ⊕ jaccard)
    → threshold → large-star/small-star connected components → entity clusters
    → pairwise F1 evaluation.

Everything is DataFrame-first: Catalyst plans the physical execution, pandas/Arrow
UDFs are used only for genuinely vectorized math (embedding, string distance),
and every stage checkpoints to parquet with lineage columns so the pipeline is
resumable (reference precedent: stage guards in
src/scripts/train/all_langs_no_slurm.sh:49-116).
"""

from mel_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
