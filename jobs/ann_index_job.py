"""spark-submit entry point for the persisted ANN index (build → serve).

The reference builds its ScaNN index once per evaluation run and serves every
recall query from it (src/data_processors/index/index.py:16-118,
src/finetunings/evaluation/find_recall.py:28-37). This job is that split as
two invocations over cluster storage:

    # build: fit the coarse quantizer and write cell-partitioned lists
    spark-submit --py-files mel_spark.zip jobs/ann_index_job.py build \
        --embeddings /data/embeddings_parquet --index /data/ivf_index \
        --n-cells 1024 --iterations 3 [--max-per-key 50 --key-col label] \
        [--emb-format f16]

    # probe: top-k for a query table against the persisted index; only the
    # probed cells' partitions are read (static partition pruning)
    spark-submit --py-files mel_spark.zip jobs/ann_index_job.py probe \
        --queries /data/queries_parquet --index /data/ivf_index \
        --k 10 --nprobe 32 [--quantized --reorder 1000] --output /data/topk

Prints one JSON line of metrics per invocation. ``--n-cells 0`` applies the
reference's 5·√N leaves heuristic (find_recall.py:28-37), capped at the row
count (``ann_index.default_n_cells``).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("mode", choices=["build", "probe"])
    p.add_argument("--index", required=True, help="index root directory")
    p.add_argument("--embeddings", help="build: parquet of (id, embedding)")
    p.add_argument("--queries", help="probe: parquet of (id, embedding)")
    p.add_argument("--output", help="probe: parquet output for the top-k")
    p.add_argument("--id-col", default="vec_id")
    p.add_argument("--emb-col", default="embedding")
    p.add_argument("--n-cells", type=int, default=0, help="0 = 5*sqrt(N), at most N")
    p.add_argument("--iterations", type=int, default=3)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--fit", choices=["numpy", "relational"], default="numpy")
    p.add_argument("--emb-format", choices=["f16", "f32"], default="f16")
    p.add_argument("--max-per-key", type=int, default=None)
    p.add_argument("--key-col", default=None)
    p.add_argument("--k", type=int, default=10)
    p.add_argument("--nprobe", type=int, default=4)
    p.add_argument("--quantized", action="store_true")
    p.add_argument("--reorder", type=int, default=1000)
    p.add_argument("--cpus", type=int, default=None)
    args = p.parse_args(argv)

    from mel_spark.operators.ann_index import (
        build_ivf_index,
        default_n_cells,
        ivf_index_topk,
        read_index_meta,
    )
    from mel_spark.session import get_spark

    master = f"local[{args.cpus}]" if args.cpus else None
    spark = get_spark("ann_index_job", master=master)
    t0 = time.monotonic()

    if args.mode == "build":
        if not args.embeddings:
            p.error("build requires --embeddings")
        embs = spark.read.parquet(args.embeddings)
        n_cells = args.n_cells if args.n_cells > 0 else default_n_cells(embs.count())
        meta = build_ivf_index(
            embs, args.index, n_cells=n_cells, i_id=args.id_col,
            i_emb=args.emb_col, iterations=args.iterations, seed=args.seed,
            fit=args.fit, emb_format=args.emb_format,
            max_per_key=args.max_per_key, key_col=args.key_col,
        )
        out = dict(meta, mode="build", elapsed_sec=round(time.monotonic() - t0, 3))
    else:
        if not args.queries or not args.output:
            p.error("probe requires --queries and --output")
        meta = read_index_meta(args.index)
        queries = spark.read.parquet(args.queries)
        topk = ivf_index_topk(
            spark, queries, args.index, k=args.k, nprobe=args.nprobe,
            q_id=args.id_col, q_emb=args.emb_col,
            quantized=args.quantized, reorder=args.reorder,
        )
        topk.write.mode("overwrite").parquet(args.output)
        n = spark.read.parquet(args.output).count()
        elapsed = round(time.monotonic() - t0, 3)
        out = {
            "mode": "probe", "result_rows": n, "k": args.k,
            "nprobe": args.nprobe, "index_rows": meta["rows"],
            "n_cells": meta["n_cells"], "elapsed_sec": elapsed,
            "results_per_sec": round(n / elapsed, 1) if elapsed > 0 else None,
        }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
