"""Incremental entity resolution: fold a NEW batch of files into a completed
run without recomputing the old corpus.

The reference's pipelines are rerun-from-scratch batch jobs guarded by stage
markers (src/scripts/train/all_langs_no_slurm.sh:49-116); at the 10^12-file
tier a daily ingest cannot re-embed / re-block / re-cluster the whole corpus
to absorb 0.1% new rows. This operator makes the expensive stages proportional
to the NEW batch:

  1. ingest the new rows (same sha256 invariants as ``pipeline.ingest``);
     mention_ids already present in the base are dropped (idempotent re-sends).
  2. featurize ONLY contents whose csid is unseen — contents byte-identical
     to existing ones adopt the base features via anti-join, extending the
     dedup-before-embedding lesson (src/baselines/olpeat/at_embeddings.py:4-8)
     across batch boundaries.
  3. the DELTA block-key set = raw (band, lang) keys for every (csid, lang)
     combination the batch introduces — this catches both brand-new contents
     AND old contents surfacing under a new language (which opens blocks the
     base run never formed). Candidate pairs =
       (a) delta x delta: the standard salt+cap skew controls over the delta
           key set, then within-block pairing, and
       (b) delta x base: an equi-join probe of the delta keys against the
           base key set, capped per (new member, key) like cap_blocks.
     The base key set is the persisted "block index" (or, for a base that
     predates it, derived from the base features in one pass). Over that
     chain read the probe always broadcasts the delta keys: a sort-merge
     probe there would shuffle the corpus key stream. Over the index
     bucketed by block_key (sources/bucketed.py) it broadcasts them while
     their measured size fits ``FOLD_BROADCAST_MAX_BYTES``, and past it
     joins sort-merge, shuffling ONLY the delta side.
  4. score new pairs with the same fused Arrow kernel over (base ∪ new)
     features; threshold → new match edges.
  5. cluster incrementally: old csids COLLAPSE to their existing cluster
     roots (built from the base output), so connected components runs over a
     graph whose size is O(new edges + touched roots), never O(all historical
     edges). Components merging two old roots re-merge those clusters —
     transitivity across batches is preserved.
  6. relabel ONE frame — the touched clusters' members, each carrying its
     base label, plus the batch's mentions — through the full run's own
     labeling (``pipeline.min_mid_labels``: cluster_id = min mention ``mid``
     per final root over ALL member mentions), keeping the rows whose label
     changed. The output is byte-identical to what a full run over
     (base ∪ new) emits (whenever skew caps do not bind), which is the
     equivalence contract tests/test_incremental.py asserts. The relabel's
     build sides are bounded by touched-cluster membership, so they are
     broadcast only while that measured size fits the same budget (a fold
     touching a mega-cluster relabels through sort-merge joins).

Durable state per fold is O(batch), never O(corpus): a fold's checkpoint dir
holds ``ingest_delta`` / ``embed_delta`` / ``block_index_delta`` /
``block_sizes_delta`` / ``pairs_delta`` / ``clusters_delta``
plus ``_PARENT.json``, a pointer to the base dir (the parquet analogue of an
Iceberg APPEND + a small overwrite). It is the durable-state protocol of
sources/checkpoint.py: each delta stage is fingerprinted by
``stage_fingerprint`` over (config, base dir, input token), every marker and
the pointer commit through its one atomic ``write_json``, and every walk of
the chain — ``chain_dirs``, ``chain_depth``, the bucketed index's coverage
check — follows the pointers through its ``walk_chain``. Full tables are
reconstructed through the chain
(read_stage_chain / read_clusters_chain); the cluster table's override —
base rows masked by the delta's ids, delta rows in their place — is one
helper, ``_override``, shared by the chain read and the fold's own full
assignment, and it broadcasts the delta's ids while they fit, so the root
table is scanned, never shuffled. ``compact_checkpoint`` periodically
collapses a long chain back into materialized tables.

For CONTINUOUS arrival, streaming/er_stream.py drives this operator from a
Structured Streaming source (one fold per micro-batch epoch,
replay-idempotent via epoch-fingerprinted fold dirs).
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mel_spark.operators import blocking, cluster, pairs
from mel_spark.pipeline import (
    ERConfig,
    block_index_stage,
    block_sizes_stage,
    block_stage,
    embed_stage,
    ingest,
    min_mid_labels,
)
from mel_spark.sources.checkpoint import (
    LINEAGE_COLS,
    PARENT_FILE,
    CheckpointManager,
    parent_of as _parent_of,  # noqa: F401 — re-exported: the chain pointer read
    stage_fingerprint,
    walk_chain,
    write_json,
)

# The fold broadcasts a join side only while its broadcast hash relation
# stays within this many bytes: ~200 MB, a few percent of the default 8 GB
# local driver heap even with the relabel's three relations alive at once.
# Each side's row count is MEASURED by a bounded count (``_fits``), never
# estimated from Catalyst stats, against budget // its measured row width
# (BroadcastExchange ``dataSize`` over 200k rows, Spark 4.1). A side one row
# over its bound joins sort-merge.
FOLD_BROADCAST_MAX_BYTES = 200 << 20
# the probe's (block_key, csid) delta keys: 83.9 B/row (~2.5M rows)
_KEY_ROW_BYTES = 84
# every mention_id-keyed relabel side is gated at the widest of them, a
# 64-hex mention_id set at 377.5 B/row (~555k rows)
_MENTION_ROW_BYTES = 378


def _write_parent(ckpt_dir: str, base_dir: str) -> None:
    write_json(os.path.join(ckpt_dir, PARENT_FILE), {"base": str(base_dir)})


def chain_dirs(ckpt_dir: str, stage: str) -> tuple[str, list[str]]:
    """Walk the parent pointers from ``ckpt_dir`` until a dir holds the FULL
    ``stage`` table. Returns (root_dir, fold_dirs oldest→newest)."""
    folds: list[str] = []
    for d in walk_chain(ckpt_dir):
        if os.path.exists(CheckpointManager(d)._marker(stage)):
            return d, folds[::-1]
        folds.append(d)
    raise FileNotFoundError(f"{ckpt_dir}: no '{stage}' stage and no parent chain")


def chain_depth(ckpt_dir: str) -> int:
    """Number of parent hops from ``ckpt_dir`` to the chain root (0 = a
    from-scratch or compacted dir). Drives the auto-compaction policy."""
    return sum(1 for _ in walk_chain(ckpt_dir)) - 1


def read_stage_chain(spark: SparkSession, ckpt_dir: str, stage: str) -> DataFrame:
    """Read an append-only stage ('ingest' / 'embed') through the fold chain:
    a fold dir holds only its ``<stage>_delta``; the full table is the union
    of the root run's stage and every delta along the parent pointers. This is
    what keeps each fold's WRITE cost O(batch) — the Iceberg analogue is a
    table APPEND; parquet checkpoints express it as a chain instead. The plan
    is a flat depth-way union (no per-fold joins)."""
    drop = list(LINEAGE_COLS)
    root, folds = chain_dirs(ckpt_dir, stage)
    out = CheckpointManager(root).read(stage, spark).drop(*drop)
    for d in folds:
        out = out.unionByName(CheckpointManager(d).read(f"{stage}_delta", spark).drop(*drop))
    return out


def read_clusters_chain(spark: SparkSession, ckpt_dir: str) -> DataFrame:
    """Read the cluster assignment through the fold chain with OVERRIDE
    semantics: a fold's ``clusters_delta`` holds only new mentions and
    mentions whose assignment changed; everything else inherits the nearest
    ancestor's row. Returns the full (mention_id, cluster_id) table.

    Plan shape is depth-INDEPENDENT in joins: all deltas union with their
    chain position, one max_by(position) aggregation picks each mention's
    latest override, and ONE anti-join masks the root — a depth-50 chain
    costs 50 cheap unions + 1 shuffle agg + 1 join, not 50 joins (the
    previous recursive construction blew up the analyzer before any data
    moved). The anti-join is the fold's own override (``_override``): it
    broadcasts the overridden id set while that fits, so the root table is
    scanned, never shuffled; ``latest`` is a lazy local checkpoint, so the
    size probe materializes exactly what the join then reads."""
    drop = list(LINEAGE_COLS)
    root, folds = chain_dirs(ckpt_dir, "clusters")
    base = CheckpointManager(root).read("clusters", spark).drop(*drop).select(
        "mention_id", "cluster_id"
    )
    if not folds:
        return base
    deltas = None
    for i, d in enumerate(folds):
        delta = (
            CheckpointManager(d)
            .read("clusters_delta", spark)
            .drop(*drop)
            .select("mention_id", "cluster_id", F.lit(i).alias("_ord"))
        )
        deltas = delta if deltas is None else deltas.unionByName(delta)
    latest = deltas.groupBy("mention_id").agg(
        F.max_by("cluster_id", F.col("_ord")).alias("cluster_id")
    )
    return _override(base, latest.localCheckpoint(eager=False))[0]


def compact_checkpoint(spark: SparkSession, ckpt_dir: str) -> None:
    """Materialize the full ingest/embed/clusters tables into ``ckpt_dir`` and
    drop its parent pointer — run periodically (e.g. weekly over daily folds)
    to bound chain depth; afterwards the dir reads like a from-scratch run."""
    mgr = CheckpointManager(ckpt_dir)
    have_index = False
    for stage in ("ingest", "embed", "block_index"):
        try:
            full = read_stage_chain(spark, ckpt_dir, stage)
        except FileNotFoundError:
            # a chain rooted in a pre-block_index base has no full index to
            # materialize; folds onto the compacted dir re-derive base keys
            # from features (incremental_update's documented fallback)
            if stage == "block_index":
                continue
            raise
        mgr.write(stage, full)
        have_index = have_index or stage == "block_index"
    if have_index:
        # block_sizes is DERIVED (per-key counts over the index): recompute
        # from the compacted index rather than summing chain partials — one
        # combiner-friendly aggregation, guaranteed consistent with the index
        mgr.write("block_sizes", block_sizes_stage(mgr.read("block_index", spark)))
    mgr.write("clusters", read_clusters_chain(spark, ckpt_dir))
    parent = os.path.join(ckpt_dir, PARENT_FILE)
    if os.path.exists(parent):
        os.remove(parent)


def _fits(df: DataFrame, row_bytes: int) -> bool:
    """True iff ``df`` has at most ``FOLD_BROADCAST_MAX_BYTES // row_bytes``
    rows. Each partition ships at most bound + 1 rows, so the measurement is
    bounded however large ``df`` is; on a (lazy) local checkpoint it
    materializes the partitions the join then reads."""
    bound = FOLD_BROADCAST_MAX_BYTES // row_bytes
    return df.limit(bound + 1).count() <= bound


def _hint(df: DataFrame, broadcast: bool) -> DataFrame:
    return F.broadcast(df) if broadcast else df


def _join_kind(broadcast: bool) -> str:
    return "broadcast" if broadcast else "sort_merge"


def _override(base: DataFrame, delta: DataFrame) -> tuple[DataFrame, bool]:
    """``base`` with ``delta``'s rows in place of its own, by mention_id, and
    whether the anti-join broadcast the delta's id set (iff it fits). The
    chain read and the fold's full assignment both rebuild a table this way."""
    ids = delta.select("mention_id")
    broadcast = _fits(ids, _MENTION_ROW_BYTES)
    out = base.join(_hint(ids, broadcast), "mention_id", "left_anti").unionByName(delta)
    return out, broadcast


def content_roots(mentions: DataFrame, clusters: DataFrame) -> DataFrame:
    """(csid, root) content-level cluster roots recovered from the
    mention-level cluster output (all mentions of a csid share a cluster by
    construction; min() is a no-op made explicit for determinism)."""
    return (
        mentions.select("csid", "mention_id")
        .join(clusters, "mention_id")
        .groupBy("csid")
        .agg(F.min("cluster_id").alias("root"))
    )


def probe_keys(
    delta_keys: DataFrame,
    base_keys: DataFrame,
    max_candidates_per_key: int = 64,
    broadcast_delta: bool = False,
    salt_threshold: int | None = None,
    n_salts: int = 8,
    hot_keys: DataFrame | None = None,
) -> DataFrame:
    """delta x base candidate pairs: equi-join on raw block_key, capped at
    ``max_candidates_per_key`` old candidates per (new member, key) in
    deterministic min-order — cap_blocks' fan-out bound applied to the probe.
    ``broadcast_delta`` hints the (batch-proportional) delta side so the
    corpus key stream is scanned, never shuffled; ``incremental_update``
    decides it (see its ``joins``).

    ``salt_threshold`` applies the SAME (block_key, member)-derived salt split
    as blocking.salt_hot_blocks to BOTH probe sides before the join: a hot
    base key (one boilerplate band at the 10^12 tier) would otherwise fan out
    |base block| rows per matching new member INTO ONE (new, key) window
    partition before the cap filters — the join output is shuffled for the
    window, so the raw-key join makes the probe a straggler. Salting both
    sides with the identical hash keeps the probe's co-occurrence semantics
    consistent with the full pipeline's salted blocks while bounding each
    window partition to ~|block|/n_salts.

    ``hot_keys`` (block_key) is the precomputed hot-key set — normally derived
    from the persisted per-key block sizes (pipeline stage ``block_sizes``)
    over base+delta TOTALS, which makes the hot set IDENTICAL to the one a
    full run's salt_hot_blocks would use (a base/new member pair meets in the
    probe iff it would share a salted sub-block in a full run). Without it the
    fallback counts base+delta occurrences here — one extra pass over the
    corpus key stream that the persisted sizes amortize to zero.

    Plan shape under salting: the probe SPLITS into a cold-key join on the
    RAW block_key and a hot-key join on the salted key, instead of rewriting
    every row's key with one when/otherwise expression. Identical output
    (cold and hot key sets are disjoint, so the shared cap window sees the
    same partitions), but the cold join's corpus side keeps its storage
    partitioning — a broadcast anti-join filter preserves outputPartitioning,
    so over a BUCKETED block index (sources/bucketed.py) the cold corpus
    stream joins with NO Exchange even when the delta is too big to
    broadcast; only the (few) hot keys' rows ever reshuffle.
    Output: (mention_id_a < mention_id_b, block_key), distinct."""
    delta_side = delta_keys.select("block_key", F.col("mention_id").alias("_new"))
    base_side = base_keys.select("block_key", F.col("mention_id").alias("_old"))

    def _join(d: DataFrame, b: DataFrame) -> DataFrame:
        if broadcast_delta:
            d = F.broadcast(d)
        return d.join(b, "block_key")

    if salt_threshold is not None:
        if hot_keys is not None:
            hot = hot_keys.select("block_key")
        else:
            # fallback hot-key set, counted over base+delta totals (matching
            # salt_hot_blocks' total-size semantics); combiner-friendly
            # groupBy, tiny result — only keys above the threshold survive
            hot = (
                base_side.select("block_key")
                .unionByName(delta_side.select("block_key"))
                .groupBy("block_key")
                .agg(F.count(F.lit(1)).alias("_sz"))
                .filter(F.col("_sz") > salt_threshold)
                .select("block_key")
            )
        hot = F.broadcast(hot)

        def _salted(df: DataFrame, member: str) -> DataFrame:
            return df.join(hot, "block_key", "left_semi").withColumn(
                "block_key", blocking.salted_key(member, n_salts)
            )

        hits = _join(
            delta_side.join(hot, "block_key", "left_anti"),
            base_side.join(hot, "block_key", "left_anti"),
        ).unionByName(_join(_salted(delta_side, "_new"), _salted(base_side, "_old")))
    else:
        hits = _join(delta_side, base_side)
    hits = hits.filter(F.col("_new") != F.col("_old"))
    # dense_rank, not row_number: identical whenever the base key stream is
    # duplicate-free (the normal case — ranks tie only on equal _old), but a
    # DUPLICATED base row — the bucketed table's documented crash window
    # (append committed, fold marker lost → replay re-appends) — then counts
    # ONCE toward the cap instead of consuming an extra slot and silently
    # evicting a real candidate
    w = Window.partitionBy("_new", "block_key").orderBy("_old")
    hits = hits.withColumn("_rn", F.dense_rank().over(w)).filter(
        F.col("_rn") <= max_candidates_per_key
    )
    return (
        hits.select(
            F.least("_new", "_old").alias("mention_id_a"),
            F.greatest("_new", "_old").alias("mention_id_b"),
            "block_key",
        )
        .groupBy("mention_id_a", "mention_id_b")
        .agg(F.min("block_key").alias("block_key"))
    )


def known_csid_filter(feats_b: DataFrame, new_m: DataFrame) -> DataFrame:
    """Rows of ``new_m`` whose csid the base has NOT featurized yet, with
    O(batch) broadcast memory at ANY corpus size: the corpus feature table is
    SCANNED (csid column only, parquet-pruned) through a semi-join whose
    build side is the batch's distinct csids; the survivors — the
    already-known csids OF THIS BATCH, |known| ≤ |batch| — drive the final
    anti-join. This replaces a corpus-side csid broadcast (~8 GB driver
    memory per 10^9 contents) with exact O(batch) memory; a bloom prefilter
    would be probabilistic and still pay the same single corpus column scan
    this semi-join performs. Reference sizing precedent: the isin-mask
    discussion in /root/reference/src/models/negative_sampler.py:76-95.
    tests/test_incremental.py asserts the plan shape (the corpus scan sits
    under a LeftSemi join, never directly under a BroadcastExchange)."""
    batch_csids = new_m.select("csid").distinct()
    known_in_batch = feats_b.select("csid").join(
        F.broadcast(batch_csids), "csid", "left_semi"
    )
    return new_m.join(F.broadcast(known_in_batch), "csid", "left_anti")


def merge_components(
    new_matches: DataFrame,
    roots_old: DataFrame,
    checkpoint_dir: str | None = None,
    input_fingerprint: str | None = None,
) -> DataFrame:
    """Incremental transitive closure: collapse old endpoints to their cluster
    roots, run connected components over the (small) mapped edge set, and emit
    (node, new_root) for every touched node — ``node`` is an old root or a new
    csid. Untouched nodes are absent (identity map).

    new_matches: (mention_id_a, mention_id_b) csid-level edges.
    roots_old:   (csid, root) from content_roots().
    """
    e = new_matches.select(
        F.col("mention_id_a").alias("u"), F.col("mention_id_b").alias("v")
    )
    ra = roots_old.select(F.col("csid").alias("u"), F.col("root").alias("_ru"))
    rb = roots_old.select(F.col("csid").alias("v"), F.col("root").alias("_rv"))
    mapped = (
        e.join(ra, "u", "left")
        .join(rb, "v", "left")
        .select(
            F.coalesce("_ru", F.col("u")).alias("mention_id_a"),
            F.coalesce("_rv", F.col("v")).alias("mention_id_b"),
        )
        .filter(F.col("mention_id_a") != F.col("mention_id_b"))
    )
    return cluster.connected_components(
        mapped, checkpoint_dir=checkpoint_dir, input_fingerprint=input_fingerprint
    )


def incremental_update(
    spark: SparkSession,
    base_checkpoint: str,
    new_repos: DataFrame,
    cfg: ERConfig = ERConfig(),
    checkpoint_dir: str | None = None,
    input_token: str = "",
    plan_capture: dict[str, str] | None = None,
    base_keys_table: str | None = None,
) -> dict:
    """Fold ``new_repos`` into the completed run at ``base_checkpoint``.

    Returns {"mentions", "mentions_new", "embedded", "matches_new",
    "clusters", "joins"} where ``clusters`` is the FULL updated (mention_id,
    cluster_id) assignment over base ∪ new mentions, labeled identically to
    a from-scratch run.

    ``input_token`` identifies the new batch (path / synth spec); hashed with
    the config and base identity into each delta stage's checkpoint
    fingerprint so a rerun with a different batch/threshold recomputes instead
    of serving stale stages (same protocol as pipeline.run_pipeline).

    ``plan_capture``, when given, records each delta stage's physical plan
    string (keyed by stage name, plus ``clusters_full`` for the override
    union) BEFORE checkpointing hides it behind an RDD/parquet scan — the
    shuffle-discipline regression test audits these for corpus-side
    exchanges.

    ``base_keys_table`` overrides the probe's corpus side with a catalog
    table — normally the BUCKETED block index (sources/bucketed.py), whose
    content is identical to the chain read. When the delta keys are too many
    to broadcast, the probe over it is a sort-merge join where only the delta
    side exchanges (the bucketed corpus scan carries no Exchange — plan
    pinned by tests/test_bucketed.py).

    ``joins`` reports the fold's three broadcast gates, each "broadcast" or
    "sort_merge", decided from measured sizes (``FOLD_BROADCAST_MAX_BYTES``);
    output is identical either way:

    * ``probe``: over ``base_keys_table`` the delta keys are broadcast iff
      they fit; over the chain read always (a sort-merge probe there would
      shuffle the corpus key stream);
    * ``relabel``: the relabel's build sides — the touched mentions and the
      touched clusters' members, which a fold touching a mega-cluster pushes
      past any broadcast — are broadcast iff both measured frames fit;
    * ``override``: the anti-join that rebuilds the full assignment — the
      same helper the chain read uses — broadcasts the ``clusters_delta``
      id set iff it fits.

    ``probe`` and ``relabel`` are measured inside the stage that uses them,
    so a resumed stage measures nothing and reports None.
    """
    if checkpoint_dir is not None and os.path.abspath(checkpoint_dir) == os.path.abspath(
        base_checkpoint
    ):
        # a fold dir chains off its base via _PARENT.json; folding INTO the
        # base would write a self-referential parent and let the base's full
        # 'clusters' marker shadow clusters_delta on the next chain read
        raise ValueError(
            "incremental_update: checkpoint_dir must differ from base_checkpoint "
            f"(both are {checkpoint_dir!r})"
        )

    # a small batch (one arrival file, a thin stream epoch) is one scan split;
    # without this the delta featurization — the fold's main CPU cost — runs
    # on a single core. No-op whenever the batch already has >= core-count
    # splits, so nothing changes for big backfills.
    from mel_spark.session import ensure_scan_parallelism

    new_repos = ensure_scan_parallelism(new_repos)

    drop = list(LINEAGE_COLS)
    # chain-aware reads: base_checkpoint may be a from-scratch run OR itself a
    # fold dir (daily-ingest chaining) — either way these resolve to the full
    # corpus tables
    mentions_b = read_stage_chain(spark, base_checkpoint, "ingest")
    feats_b = read_stage_chain(spark, base_checkpoint, "embed")
    clusters_b = read_clusters_chain(spark, base_checkpoint)

    # every delta stage checkpoints like run_pipeline's stages do — each
    # expensive branch materializes exactly once (downstream counts/joins read
    # parquet, never recompute the Arrow featurizer or the probe joins), and a
    # crashed fold resumes from its last green delta stage
    ckpt = CheckpointManager(checkpoint_dir) if checkpoint_dir else None
    fp = stage_fingerprint(cfg, str(base_checkpoint), input_token)

    def _capture(name: str, df: DataFrame) -> DataFrame:
        if plan_capture is not None:
            plan_capture[name] = df._jdf.queryExecution().executedPlan().toString()
        return df

    def _stage(name, thunk) -> DataFrame:
        if plan_capture is not None:
            df = _capture(name, thunk())
            thunk = lambda: df  # noqa: E731 — plan already built; reuse it
        if ckpt is None:
            return thunk().localCheckpoint(eager=False)
        return ckpt.get_or_compute(name, spark, thunk, fingerprint=fp)[0].drop(*drop)

    # 1. ingest; drop idempotent re-sends of known mentions. Same shuffle
    # discipline as known_csid_filter: the corpus mention_id stream is
    # SCANNED through a semi-join whose build side is the batch's ids (a
    # direct corpus anti-join would sort-merge — i.e. shuffle — the corpus
    # id stream on every fold)
    def _ingest_delta() -> DataFrame:
        # ingest() feeds TWO subtrees (the semi-join's broadcast build side
        # and the anti-join's stream side) — materialize it once, or the
        # batch's sha2 id derivation and scan run twice per fold
        ingested = ingest(new_repos).localCheckpoint(eager=True)
        known_ids = mentions_b.select("mention_id").join(
            F.broadcast(ingested.select("mention_id")), "mention_id", "left_semi"
        )
        return ingested.join(F.broadcast(known_ids), "mention_id", "left_anti")

    new_m = _stage("ingest_delta", _ingest_delta)

    # 2. featurize only unseen contents — O(batch) broadcast memory at any
    # corpus size (see known_csid_filter's docstring for the plan shape)
    new_content_m = known_csid_filter(feats_b, new_m)
    # the delta's emb storage MUST match the base's (fp16 binary vs f32
    # array): feats_all unions them, and every scorer reads the mixed table
    from dataclasses import replace as _replace

    from pyspark.sql.types import BinaryType as _BinT

    base_storage = (
        "f16" if isinstance(feats_b.schema["emb"].dataType, _BinT) else "f32"
    )
    eff_cfg = cfg if cfg.emb_storage == base_storage else _replace(
        cfg, emb_storage=base_storage
    )
    feats_new = _stage("embed_delta", lambda: embed_stage(new_content_m, eff_cfg))
    feats_all = feats_b.unionByName(feats_new)

    # THE FOLD'S SHUFFLE DISCIPLINE: every join below broadcasts a
    # BATCH-proportional id/key set and streams the corpus side — the
    # 1M..10^12-row feats/keys tables are scanned (column-pruned) but
    # never shuffled. The sides that can outgrow a broadcast — the probe's
    # delta keys and the relabel's touched membership — are hinted only while
    # their measured size fits (``joins``).
    joins: dict[str, str | None] = {"probe": None, "relabel": None, "override": None}

    # 3. delta key set: every (csid, lang) combination this batch
    # introduces — new contents in any lang, and KNOWN contents surfacing
    # in a new lang (which opens blocks the base run never formed). Written
    # as this fold's APPEND to the durable block index: the next fold's
    # probe structure already contains these keys via the chain read.
    def _delta_keys() -> DataFrame:
        # the anti-join only needs base (csid, lang) combos for csids the
        # BATCH mentions — semi-join the corpus stream down to those before
        # deduplicating, so the dropDuplicates shuffle is batch-sized (a
        # corpus-wide dedup here was measured growing linearly with |base|,
        # BENCH/FOLD_SWEEP.md)
        base_cl = (
            mentions_b.select("csid", "lang")
            .join(F.broadcast(new_m.select("csid").distinct()), "csid", "left_semi")
            .dropDuplicates(["csid", "lang"])
        )
        delta_cl = (
            new_m.select("csid", "lang")
            .dropDuplicates(["csid", "lang"])
            .join(base_cl, ["csid", "lang"], "left_anti")
        )
        return blocking.raw_band_keys(
            feats_all.select("csid", "bands").join(
                F.broadcast(delta_cl.select("csid").distinct()), "csid", "left_semi"
            ),
            delta_cl,
        )

    delta_keys = _stage("block_index_delta", _delta_keys)
    # the corpus side of the probe: the base run's materialized block index
    # (plus any prior folds' deltas), READ — never recomputed from features
    if base_keys_table is not None:
        from mel_spark.sources.bucketed import read_bucketed_index

        # refresh-then-read: a prior fold/compaction may have appended to or
        # rebuilt the table from a different SessionState (see
        # read_bucketed_index docstring)
        base_keys = read_bucketed_index(spark, base_keys_table)
    else:
        base_keys = None
    try:
        if base_keys is None:
            base_keys = read_stage_chain(spark, base_checkpoint, "block_index")
    except FileNotFoundError:
        # base predates the block_index stage (it has ingest/embed/clusters
        # but no durable index): derive the keys from the base features in
        # hand — one extra corpus pass for this fold only; compact_checkpoint
        # (or one run_pipeline pass) materializes the index for future folds
        base_keys = block_index_stage(feats_b, mentions_b)

    # ONE hot-key set, shared by the delta×delta salting AND the probe, built
    # from per-key TOTAL sizes (base + this batch) — the same totals a full
    # run's salt_hot_blocks counts, so the fold salts exactly the keys a full
    # recompute would. Two scale properties:
    #  * only keys PRESENT IN THE DELTA matter (both pairing paths key on
    #    delta keys; a key absent from the batch generates no fold pairs), so
    #    the base side is semi-joined down to the batch's keys BEFORE any
    #    aggregation — the shuffle is batch-proportional at any corpus size;
    #  * the base sizes come from the persisted ``block_sizes`` stage (written
    #    by run_pipeline next to the block index; each fold APPENDS its delta
    #    sizes below), so the fold reads a 2-column sizes table instead of
    #    re-counting the corpus key stream. A pre-block_sizes base falls back
    #    to counting the (already in hand) base key stream once.
    delta_sizes = _stage("block_sizes_delta", lambda: block_sizes_stage(delta_keys))
    dk_distinct = delta_sizes.select("block_key")
    try:
        # a mixed chain (root has block_sizes, an old-layout fold lacks its
        # delta) surfaces as an analysis error on the missing path — same
        # fallback as a pre-block_sizes base
        base_sizes = read_stage_chain(spark, base_checkpoint, "block_sizes")
        base_at_delta = base_sizes.join(
            F.broadcast(dk_distinct), "block_key", "left_semi"
        ).select("block_key", "block_size")
    except (FileNotFoundError, AnalysisException):
        base_at_delta = block_sizes_stage(
            base_keys.join(F.broadcast(dk_distinct), "block_key", "left_semi")
        )
    # a lazy local checkpoint: block_stage's salt join and probe_keys' hot-set
    # joins all read the totals, which would otherwise repeat their subtree
    totals = (
        base_at_delta.unionByName(delta_sizes)
        .groupBy("block_key")
        .agg(F.sum("block_size").alias("block_size"))
    ).localCheckpoint(eager=False)
    hot_keys = totals.filter(F.col("block_size") > cfg.salt_threshold).select("block_key")

    def _scored() -> DataFrame:
        # 3a. delta x delta with the full run's skew controls (pipeline
        # block_stage: salt -> cap), its hot set taken from the totals
        dd_pairs = pairs.candidate_pairs(block_stage(delta_keys, cfg, sizes=totals))
        # 3b. delta x base probe: broadcast the delta keys so the corpus key
        # stream is scan-only; past the bound, a bucketed block index lets
        # the probe join sort-merge with no corpus-side Exchange
        broadcast = base_keys_table is None or _fits(delta_keys, _KEY_ROW_BYTES)
        joins["probe"] = _join_kind(broadcast)
        db_pairs = probe_keys(
            delta_keys, base_keys, max_candidates_per_key=cfg.max_block_size,
            broadcast_delta=broadcast,
            salt_threshold=cfg.salt_threshold,
            hot_keys=hot_keys,
        )
        cand = (
            dd_pairs.unionByName(db_pairs)
            .groupBy("mention_id_a", "mention_id_b")
            .agg(F.min("block_key").alias("block_key"))
        )
        # 4. score with the shared fused kernel over ONLY the records that
        # appear in a candidate pair (broadcast semi-join prune of feats_all).
        # The scorer reads ``records`` once per pair side, so the endpoint
        # ids are one explode over ``cand``, materialized once (a lazy local
        # checkpoint): otherwise each side re-derives ``cand``, probe and
        # all, and the plan holds it five times
        pair_ids = (
            cand.select(F.explode(F.array("mention_id_a", "mention_id_b")).alias("mention_id"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        records = feats_all.select(
            F.col("csid").alias("mention_id"), "emb", "xs"
        ).join(F.broadcast(pair_ids), "mention_id", "left_semi")
        return pairs.score_pairs_fused_arrow(
            cand, records, w_cos=cfg.w_cos, w_jaccard=cfg.w_jaccard
        )

    scored = _stage("pairs_delta", _scored)
    matches_new = pairs.match_pairs(scored, cfg.threshold)

    cc_dir = os.path.join(checkpoint_dir, "cc_rounds") if checkpoint_dir else None

    def _clusters_delta() -> DataFrame:
        # 5. incremental components over root-collapsed edges. The roots
        # lookup is restricted to the csids the fold can TOUCH — batch csids
        # plus edge endpoints — so the mentions×clusters join that recovers
        # content-level roots shuffles O(batch) rows and only SCANS the
        # corpus tables (the unrestricted content_roots() here was measured
        # growing linearly with |base|, BENCH/FOLD_SWEEP.md).
        edge_csids = (
            matches_new.select(F.col("mention_id_a").alias("csid"))
            .unionByName(matches_new.select(F.col("mention_id_b").alias("csid")))
            .distinct()
        )
        probe_csids = edge_csids.unionByName(new_m.select("csid")).distinct()
        # build sides from here on are bounded by TOUCHED-CLUSTER MEMBERSHIP,
        # not by the batch alone: broadcast them only while the touched
        # mentions and the touched clusters' members both fit. Each measured
        # corpus frame is the one its join reads, so no corpus table is
        # scanned twice. The hints must be explicit: er_job disables
        # auto-broadcast.
        mentions_touch = _capture(
            "mentions_touch",
            mentions_b.select("csid", "mention_id").join(
                F.broadcast(probe_csids), "csid", "left_semi"
            ),
        ).localCheckpoint(eager=False)
        broadcast = _fits(mentions_touch, _MENTION_ROW_BYTES)
        roots_touch = content_roots(_hint(mentions_touch, broadcast), clusters_b)
        remap = merge_components(
            matches_new, roots_touch, checkpoint_dir=cc_dir, input_fingerprint=fp
        ).select(
            F.col("mention_id").alias("_node"), F.col("cluster_id").alias("_new_root")
        )
        # 6. assignment DELTA over TOUCHED clusters only. A base cluster can
        # change — merge into another, or have its min-mid label move — iff
        # it contains a batch csid or an edge endpoint, i.e. iff its base
        # label is a roots_touch root (clusters only ever GAIN members; an
        # untouched cluster keeps its exact membership, hence its min-mid
        # label). So the relabel runs over the members of those clusters plus
        # the new mentions — O(batch · cluster size) rows — never the full
        # corpus. Byte-identity with the full-run relabel is asserted by
        # tests/test_incremental.py.
        touched_base = roots_touch.select(F.col("root").alias("cluster_id")).distinct()
        touched_members = _capture(
            "touched_members",
            clusters_b.join(
                F.broadcast(touched_base), "cluster_id", "left_semi"
            ).select("mention_id", F.col("cluster_id").alias("_base_root")),
        ).localCheckpoint(eager=False)
        broadcast = broadcast and _fits(touched_members, _MENTION_ROW_BYTES)
        joins["relabel"] = _join_kind(broadcast)
        # ONE frame to relabel: the touched members carry their base label,
        # the batch's mentions none (_ingest_delta dropped every known
        # mention_id). A batch mention of a known content takes that
        # content's base label (its cluster is touched, so its members are
        # here); an unseen content starts as its own root. The remap then
        # moves every merged root, and min_mid_labels labels the groups —
        # min over the COMPLETE membership of each touched group, exactly
        # pipeline.run_pipeline's labeling.
        members = (
            _hint(touched_members, broadcast)
            .join(mentions_b.select("mention_id", "mid", "csid"), "mention_id")
            .unionByName(
                new_m.select("mention_id", "mid", "csid"), allowMissingColumns=True
            )
            .withColumn(
                "_r0",
                F.coalesce(
                    F.max("_base_root").over(Window.partitionBy("csid")), F.col("csid")
                ),
            )
            .join(remap, F.col("_r0") == F.col("_node"), "left")
            .withColumn("_root", F.coalesce("_new_root", "_r0"))
        )
        return (
            min_mid_labels(members)
            .filter(
                F.col("_base_root").isNull() | (F.col("_base_root") != F.col("cluster_id"))
            )
            .select("mention_id", "cluster_id")
        )

    delta = _stage("clusters_delta", _clusters_delta)
    if ckpt is not None:
        _write_parent(checkpoint_dir, base_checkpoint)
    # full updated assignment = override the base with the delta (identical
    # to a from-scratch relabel per the touched-clusters argument above),
    # through the chain read's own override. The delta is a stage read, so
    # a fresh and a resumed fold measure the same frame.
    clusters, broadcast = _override(clusters_b, delta)
    joins["override"] = _join_kind(broadcast)
    if plan_capture is not None:
        plan_capture["clusters_full"] = (
            clusters._jdf.queryExecution().executedPlan().toString()
        )
    if ckpt is None:
        clusters = clusters.localCheckpoint(eager=False)

    return {
        "mentions": mentions_b.unionByName(new_m),
        "mentions_new": new_m,
        "embedded": feats_all,
        "matches_new": matches_new,
        "clusters": clusters,
        "joins": joins,
    }
