"""The benchmark's workloads. Each is a closed loop with one caller: the
next operation starts only after the previous one has finished.

- ``pipeline_full``: a from-scratch ``pipeline.run_pipeline`` over a seeded
  ``datagen`` corpus read back from parquet, as ``jobs/er_job.py --input``
  does, with er_job's session. Its traced run also folds a batch in with
  ``incremental.incremental_update``.
- ``contract_docs``: the ``bench.py`` headline queries that read only the
  ``documents`` table, over a fixed generated documents table, with
  bench.py's session; each pass clears the cache first.

Every workload returns a ``Result``; ``run.py`` turns it into the JSON line.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from host import CPUS, PeakRss, cpu_steal_s, dir_bytes, jvm_pid
from spans import Tracer, layer_spans

# corpus sizes per scale; "smoke" is the quick self-check of test_smoke.py
SIZES = {
    "full": {"files": 20_000, "docs": 5_000},
    "smoke": {"files": 2_000, "docs": 500},
}
# pairwise F1 floor against the generator's gold clusters
F1_FLOOR = 0.99
# the contract documents come from this seed, whatever --seed is
DOCS_SEED = 42
# the contract test data's vocabulary and language mix (documents.parquet
# of sf0.01 and sf0.1), and its rate of planted near-duplicates
DOC_WORDS = ("a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter", "group",
             "hash", "join", "key", "line", "merge", "order", "part", "query", "row", "scan",
             "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector",
             "window")
DOC_LANGS = {"en": 0.41, "zh": 0.15, "es": 0.15, "fr": 0.15, "de": 0.14}
DUP_EVERY = 20
REFERENCE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "contract_reference.json")
PIPELINE_STAGES = ("ingest", "embed", "block_index", "block_sizes", "blocks", "pairs", "clusters")
FOLD_STAGES = ("ingest_delta", "embed_delta", "block_index_delta", "block_sizes_delta",
               "pairs_delta", "clusters_delta")
# bench.py's HEADLINE queries that read only `documents`; the four er_* are
# the ER chain, the last two are the control that no ER layer touches
CONTRACT_QUERIES = ("er_minhash_pairs", "er_clusters", "er_incremental", "er_blocking_stats",
                    "ld_segment_dedup", "ta_token_stats")
ER_QUERIES = CONTRACT_QUERIES[:4]


@dataclass
class Result:
    setup_s: float = 0.0
    op_walls: list[float] = field(default_factory=list)
    peak_rss_mb: float = 0.0
    pairwise_f1: float = 0.0
    stored_bytes_per_input_byte: float = 0.0
    attempted: int = 0
    failed: int = 0
    session_start_s: float = 0.0
    warm_pass_s: float = 0.0
    # the base checkpoint dir of the traced fold: incremental.corpus_read_mb
    # counts the fold's scans of files under it
    fold_base: str = ""
    info: dict = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED: {what}", file=sys.stderr, flush=True)


def pairwise_f1(pred: pd.Series, gold: pd.Series) -> float:
    """Pairwise F1 of two id -> label maps over their common ids (the same
    pair-set definition as ``operators.evaluate.pairwise_prf``)."""
    df = pd.DataFrame({"p": pred, "g": gold}).dropna()

    def pairs(sizes: pd.Series) -> int:
        return int((sizes * (sizes - 1) // 2).sum())

    tp = pairs(df.groupby(["p", "g"]).size())
    n_pred, n_gold = pairs(df.groupby("p").size()), pairs(df.groupby("g").size())
    precision = tp / n_pred if n_pred else 1.0
    recall = tp / n_gold if n_gold else 1.0
    return 2 * precision * recall / (precision + recall) if precision + recall else 0.0


def _assignment(path: str) -> pd.Series:
    df = pd.read_parquet(path, columns=["mention_id", "cluster_id"])
    return df.set_index("mention_id")["cluster_id"].sort_index()


def _computed_all(ckpt: str, stages: tuple[str, ...]) -> bool:
    """True iff every stage was computed in this run: a computed stage's
    marker carries ``elapsed_sec``, a resumed one is never rewritten."""
    from mel_spark.sources.checkpoint import CheckpointManager

    mgr = CheckpointManager(ckpt)
    try:
        return all("elapsed_sec" in mgr.counters(s) for s in stages)
    except FileNotFoundError:
        return False


def _timed_loop(res: Result, tracer: Tracer, seconds: float, op, min_ops: int = 1) -> None:
    """Run ``op(i)`` back to back for ``seconds``: at least ``min_ops`` times,
    and again while another operation of the median length still fits. The
    JVM tree's RSS is sampled throughout; ``peak_rss_mb`` is the median over
    operations of each operation's peak. The CPU time stolen by the host
    during each operation goes to the details line."""
    t_start = time.perf_counter()
    i = 0
    peaks, steals = [], []
    with PeakRss(jvm_pid()) as rss, layer_spans(tracer):
        rss.take_mb()
        while True:
            t0, steal0 = time.perf_counter(), cpu_steal_s()
            ok = True
            with tracer.span("op", index=i):
                try:
                    op(i)
                except Exception:  # the loop must go on and report the failure
                    traceback.print_exc()
                    ok = False
            res.op_walls.append(time.perf_counter() - t0)
            steals.append(cpu_steal_s() - steal0)
            peaks.append(rss.take_mb())
            res.check(ok, f"operation {i} raised")
            i += 1
            next_end = time.perf_counter() - t_start + statistics.median(res.op_walls)
            if i >= min_ops and next_end > seconds:
                break
    res.peak_rss_mb = statistics.median(peaks)
    res.info["op_peak_rss_mb"] = peaks
    res.info["op_steal_cpu_s"] = steals


def _er_session():
    """jobs/er_job.py's session: static auto-broadcast off, default 64
    shuffle partitions."""
    from mel_spark.session import get_spark

    return get_spark("er_job", extra_conf={"spark.sql.autoBroadcastJoinThreshold": "-1"})


def _start(res: Result, make_session, evlog: bool):
    t0 = time.perf_counter()
    spark = make_session()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    res.session_start_s = time.perf_counter() - t0
    tracer = Tracer(spark.sparkContext, run_id=spark.sparkContext.applicationId) if evlog else Tracer()
    return spark, tracer


def _gen_corpus(n_files: int, seed: int):
    from mel_spark.datagen import GenConfig, generate_repos

    return generate_repos(GenConfig(n_files=n_files, seed=seed))


def _read_repos(spark, *input_dirs: str):
    """The input read of ``er_job --input``."""
    from mel_spark.session import ensure_scan_parallelism

    return ensure_scan_parallelism(
        spark.read.parquet(*(f"{d}/repos.parquet" for d in input_dirs)),
        spark.sparkContext.defaultParallelism * 2,
    )


def _run_pipeline(spark, ckpt: str, out: str, *input_dirs: str) -> None:
    from mel_spark.pipeline import ERConfig, run_pipeline

    res = run_pipeline(spark, _read_repos(spark, *input_dirs), ckpt, ERConfig(),
                       input_token=",".join(input_dirs))
    res["clusters"].write.mode("overwrite").parquet(out)


def _row_hash_bucket(mention_ids: pd.Series) -> pd.Series:
    return mention_ids.map(lambda m: int(hashlib.md5(m.encode()).hexdigest()[:8], 16) % 10)


def pipeline_full(work: str, seed: int, seconds: float, trace: bool, scale: str):
    """Timed operation: a from-scratch run over the base corpus (90% of the
    generated files). A traced run then folds the remaining 10%, split off
    by row hash, into the last timed run's checkpoint: the daily-ingest
    path, which supplies the ``incremental.*`` layers."""
    from mel_spark.datagen import write_parquet

    res = Result()
    t_setup = time.perf_counter()
    spark, tracer = _start(res, _er_session, trace)
    tables = _gen_corpus(SIZES[scale]["files"], seed)
    repos, gold_df = tables["repos"], tables["reference_clusters"]
    in_batch = (_row_hash_bucket(gold_df["mention_id"]) == 0).to_numpy()
    base, batch = os.path.join(work, "base"), os.path.join(work, "batch")
    write_parquet({"repos": repos[~in_batch], "reference_clusters": gold_df[~in_batch]}, base)
    write_parquet({"repos": repos[in_batch]}, batch)
    gold = gold_df.set_index("mention_id")["entity_id"]
    # the warm pass is the timed operation itself: after a run over the small
    # batch only, the first timed run is still measurably colder
    t0 = time.perf_counter()
    _run_pipeline(spark, os.path.join(work, "warm"), os.path.join(work, "warm-out"), base)
    res.warm_pass_s = time.perf_counter() - t0
    expected = _assignment(os.path.join(work, "warm-out"))
    res.setup_s = time.perf_counter() - t_setup

    def ckpt(i: int) -> str:
        return os.path.join(work, f"ckpt-{i}")

    def op(i: int) -> None:
        if os.path.exists(ckpt(i)):
            raise RuntimeError(f"{ckpt(i)} exists: the run would resume, not compute")
        _run_pipeline(spark, ckpt(i), os.path.join(work, f"out-{i}"), base)

    _timed_loop(res, tracer, seconds, op)
    n_ops = len(res.op_walls)
    if tracer.enabled:
        _traced_fold(res, spark, tracer, work, ckpt(n_ops - 1), base, batch)

    in_bytes = dir_bytes(os.path.join(base, "repos.parquet"))
    ratios = []
    for i in range(n_ops):
        out = os.path.join(work, f"out-{i}")
        res.check(_computed_all(ckpt(i), PIPELINE_STAGES), f"run {i} resumed a stage")
        res.check(os.path.exists(out) and _assignment(out).equals(expected),
                  f"run {i} clusters differ from the warm run's")
        ratios.append(dir_bytes(ckpt(i)) / in_bytes)
        shutil.rmtree(ckpt(i), ignore_errors=True)
    res.pairwise_f1 = pairwise_f1(expected, gold)
    res.check(res.pairwise_f1 >= F1_FLOOR, f"pairwise F1 {res.pairwise_f1} < floor")
    res.stored_bytes_per_input_byte = statistics.median(ratios)
    n_base = int((~in_batch).sum())
    res.info.update(files=n_base, pipeline_files_per_s=n_base / statistics.median(res.op_walls))
    return spark, tracer, res


def _traced_fold(res: Result, spark, tracer: Tracer, work: str, base_ckpt: str, base: str,
                 batch: str) -> None:
    """Fold ``batch`` into the completed run at ``base_ckpt`` under a
    ``fold`` span, as ``er_job --update-base`` does. Its output must equal
    an untraced from-scratch run over base and batch together."""
    from mel_spark.operators.incremental import incremental_update
    from mel_spark.pipeline import ERConfig

    ckpt, out = os.path.join(work, "fold"), os.path.join(work, "fold-out")
    res.fold_base = base_ckpt
    with tracer.span("fold"), layer_spans(tracer):
        inc = incremental_update(spark, base_ckpt, _read_repos(spark, batch), ERConfig(),
                                 checkpoint_dir=ckpt, input_token=batch)
        inc["clusters"].select("mention_id", "cluster_id").write.mode("overwrite").parquet(out)
    res.check(_computed_all(ckpt, FOLD_STAGES), "the fold resumed a delta stage")
    ref_out = os.path.join(work, "fold-ref-out")
    _run_pipeline(spark, os.path.join(work, "fold-ref"), ref_out, base, batch)
    res.check(_assignment(out).equals(_assignment(ref_out)),
              "the fold's clusters differ from a from-scratch run over base and batch")


def documents(n_docs: int) -> tuple[pd.DataFrame, pd.Series]:
    """The fixed ``documents`` table, drawn at ``DOCS_SEED`` (the workload
    seed does not change it) in the shape of the contract test data: 10 to
    99 words drawn uniformly from ``DOC_WORDS``, five languages, 20 sources
    in turn, and one doc in ``DUP_EVERY`` replaced by another doc's text
    plus `` dup``. Also returns the gold entity per doc_id: a planted copy
    belongs to the doc whose text it copies."""
    rng = np.random.default_rng(DOCS_SEED)
    words = np.array(DOC_WORDS)
    texts = [" ".join(rng.choice(words, n)) for n in rng.integers(10, 100, n_docs)]
    langs = rng.choice(list(DOC_LANGS), n_docs, p=list(DOC_LANGS.values()))
    entity = np.arange(n_docs)
    copies = rng.choice(n_docs, n_docs // DUP_EVERY, replace=False)
    originals = rng.integers(0, n_docs, len(copies))
    base = list(texts)
    for i, j in zip(copies, originals):
        if i != j:
            texts[i] = base[j] + " dup"
            entity[i] = j
    docs = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n_docs)],
    })
    docs["n_chars"] = docs["text"].str.len().astype("int64")
    return docs, pd.Series(entity, index=docs["doc_id"])


def row_hash(df: pd.DataFrame) -> str:
    """Order-insensitive hash of a result: its rows over name-sorted columns,
    with values made comparable across Spark and DuckDB, sorted, then md5."""
    cols = sorted(df.columns)
    rows = []
    for row in df[cols].itertuples(index=False):
        vals = []
        for v in row:
            if hasattr(v, "__len__") and not isinstance(v, (str, bytes)):
                vals.append(tuple(x.item() if hasattr(x, "item") else x for x in v))
            elif hasattr(v, "item"):
                vals.append(v.item())
            else:
                vals.append(v)
        rows.append(repr(tuple(vals)))
    return hashlib.md5("\n".join(sorted(rows)).encode()).hexdigest()


def _cached_bytes(spark) -> int:
    """Bytes held by cached DataFrames, which Spark names after their plan.
    Local checkpoints (unnamed ``...RDD``s) are left out: the context
    cleaner drops them whenever the JVM happens to collect them."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos if not i.name().endswith("RDD"))


def contract_docs(work: str, seed: int, seconds: float, trace: bool, scale: str):
    """Timed operation: one pass of ``CONTRACT_QUERIES``, each run to
    ``count()`` after ``spark.catalog.clearCache()``. The outputs are checked
    against row counts and row hashes of the DuckDB oracle twins, recorded
    by make_reference.py."""
    import __spark_entry__ as entry
    from mel_spark.session import get_spark

    res = Result()
    t_setup = time.perf_counter()
    spark, tracer = _start(
        res, lambda: get_spark("mel_spark_bench", master=f"local[{CPUS}]",
                               shuffle_partitions=max(CPUS, 8)), trace)
    sf_dir = os.path.join(work, "sf")
    os.makedirs(sf_dir)
    docs, gold = documents(SIZES[scale]["docs"])
    docs_path = os.path.join(sf_dir, "documents.parquet")
    docs.to_parquet(docs_path, index=False)
    with open(REFERENCE) as fh:
        expected = json.load(fh)[str(len(docs))]
    qs = entry.queries()
    # warm pass (bench.py warms up too): each query collected for a
    # row-for-row check
    t0 = time.perf_counter()
    spark.catalog.clearCache()
    outputs = {q: qs[q](spark, sf_dir).toPandas() for q in CONTRACT_QUERIES}
    res.warm_pass_s = time.perf_counter() - t0
    for q in CONTRACT_QUERIES:
        res.check(row_hash(outputs[q]) == expected[q]["hash"], f"{q} rows differ from the oracle's")
    res.setup_s = time.perf_counter() - t_setup

    walls: dict[str, list[float]] = {q: [] for q in CONTRACT_QUERIES}
    counts: list[dict[str, int]] = []
    cached: list[int] = []

    def op(_i: int) -> None:
        spark.catalog.clearCache()
        rows = {}
        for q in CONTRACT_QUERIES:
            t = time.perf_counter()
            with tracer.span(f"query.{q}"):
                rows[q] = qs[q](spark, sf_dir).count()
            walls[q].append(time.perf_counter() - t)
        counts.append(rows)
        cached.append(_cached_bytes(spark))

    # a pass is shorter and noisier than a pipeline run, and a run has room
    # for two: op_s is their mean
    _timed_loop(res, tracer, seconds, op, min_ops=2)
    for i, rows in enumerate(counts):
        for q in CONTRACT_QUERIES:
            res.check(rows[q] == expected[q]["rows"], f"pass {i}: {q} returned {rows[q]} rows")

    er = outputs["er_clusters"].set_index("doc_id")["cluster_id"]
    res.pairwise_f1 = pairwise_f1(er, gold)
    res.check(res.pairwise_f1 >= F1_FLOOR, f"pairwise F1 {res.pairwise_f1} < floor")
    res.stored_bytes_per_input_byte = statistics.median(cached) / dir_bytes(docs_path)
    er_s = sum(statistics.median(walls[q]) for q in ER_QUERIES)
    other_s = sum(statistics.median(walls[q]) for q in CONTRACT_QUERIES if q not in ER_QUERIES)
    res.info.update(docs=len(docs), headline_total_s=er_s + other_s,
                    er_queries_s=er_s, other_queries_s=other_s)
    if tracer.enabled:
        er_layers(spark, tracer, sf_dir)
    return spark, tracer, res


def er_layers(spark, tracer: Tracer, sf_dir: str) -> None:
    """Materialize the ``__spark_entry__`` ER chain one layer at a time on
    a cleared cache, each layer in its own span: scan, featurize, band
    self-join, verify, connected components, singleton attach."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from mel_spark.operators.cluster import attach_singletons, connected_components

    spark.catalog.clearCache()
    with tracer.span("er_layers"):
        docs = entry._t(spark, sf_dir, "documents").persist()
        with tracer.span("er.scan"):
            docs.count()
        feats = entry._doc_features(docs).persist()
        with tracer.span("er.featurize"):
            feats.count()
        blocks = entry._band_blocks(feats)
        cand = (
            blocks.alias("x").join(blocks.alias("y"), "band_key")
            .filter(F.col("x.doc_id") < F.col("y.doc_id"))
            .select(F.col("x.doc_id").alias("doc_id_a"), F.col("y.doc_id").alias("doc_id_b"))
            .distinct()
            .persist()
        )
        with tracer.span("er.band_join"):
            cand.count()
        verified = entry._verify_pairs(cand, feats).persist()
        with tracer.span("er.verify"):
            verified.count()
        with tracer.span("er.cc"):
            cc = connected_components(verified, "doc_id_a", "doc_id_b").persist()
            cc.count()
        with tracer.span("er.attach"):
            attach_singletons(cc, docs.select(F.col("doc_id").alias("mention_id")),
                              ids_unique=True).count()
    spark.catalog.clearCache()


WORKLOADS = {
    "pipeline_full": pipeline_full,
    "contract_docs": contract_docs,
}
