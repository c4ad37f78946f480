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
     The base key set is derived from the base features here (one pass); at
     scale it is the precomputed "block index" — written once, bucketed by
     block_key, so the probe shuffles ONLY the delta side.
  4. score new pairs with the same fused Arrow kernel over (base ∪ new)
     features; threshold → new match edges.
  5. cluster incrementally: old csids COLLAPSE to their existing cluster
     roots (built from the base output), so connected components runs over a
     graph whose size is O(new edges + touched roots), never O(all historical
     edges). Components merging two old roots re-merge those clusters —
     transitivity across batches is preserved.
  6. relabel cluster_id = min mention ``mid`` per final root over ALL member
     mentions — byte-identical to what a full run over (base ∪ new) emits
     (whenever skew caps do not bind), which is the equivalence contract
     tests/test_incremental.py asserts.

Durable state per fold is O(batch), never O(corpus): a fold's checkpoint dir
holds ``ingest_delta`` / ``embed_delta`` / ``block_index_delta`` /
``block_sizes_delta`` / ``pairs_delta`` / ``clusters_delta``
plus a parent pointer to the base dir (the parquet analogue of an Iceberg
APPEND + a small overwrite). Full tables are reconstructed through the chain
(read_stage_chain / read_clusters_chain); ``compact_checkpoint`` periodically
collapses a long chain back into materialized tables.

For CONTINUOUS arrival, streaming/er_stream.py drives this operator from a
Structured Streaming source (one fold per micro-batch epoch,
replay-idempotent via epoch-fingerprinted fold dirs).
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mel_spark.operators import blocking, cluster, pairs
from mel_spark.pipeline import ERConfig, embed_stage, ingest
from mel_spark.sources.checkpoint import LINEAGE_COLS, CheckpointManager


PARENT_FILE = "_PARENT.json"


def _parent_of(ckpt_dir: str) -> str | None:
    import json as _json
    import os as _os

    p = _os.path.join(ckpt_dir, PARENT_FILE)
    if not _os.path.exists(p):
        return None
    with open(p) as f:
        return _json.load(f)["base"]


def _write_parent(ckpt_dir: str, base_dir: str) -> None:
    import json as _json
    import os as _os

    _os.makedirs(ckpt_dir, exist_ok=True)
    tmp = _os.path.join(ckpt_dir, PARENT_FILE + ".tmp")
    with open(tmp, "w") as f:
        _json.dump({"base": str(base_dir)}, f)
    _os.replace(tmp, _os.path.join(ckpt_dir, PARENT_FILE))


def chain_dirs(ckpt_dir: str, stage: str) -> tuple[str, list[str]]:
    """Walk the parent pointers from ``ckpt_dir`` until a dir holds the FULL
    ``stage`` table. Returns (root_dir, fold_dirs oldest→newest). Iterative —
    a year of daily folds must not hit Python's recursion limit before the
    compaction policy bounds the chain."""
    import os as _os

    folds: list[str] = []
    cur = ckpt_dir
    while not _os.path.exists(CheckpointManager(cur)._marker(stage)):
        parent = _parent_of(cur)
        if parent is None:
            raise FileNotFoundError(f"{ckpt_dir}: no '{stage}' stage and no parent chain")
        folds.append(cur)
        cur = parent
    folds.reverse()
    return cur, folds


def chain_depth(ckpt_dir: str) -> int:
    """Number of parent hops from ``ckpt_dir`` to the chain root (0 = a
    from-scratch or compacted dir). Drives the auto-compaction policy."""
    depth, cur = 0, ckpt_dir
    while (parent := _parent_of(cur)) is not None:
        depth += 1
        cur = parent
    return depth


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
    moved)."""
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
    return base.join(latest.select("mention_id"), "mention_id", "left_anti").unionByName(
        latest
    )


def compact_checkpoint(spark: SparkSession, ckpt_dir: str) -> None:
    """Materialize the full ingest/embed/clusters tables into ``ckpt_dir`` and
    drop its parent pointer — run periodically (e.g. weekly over daily folds)
    to bound chain depth; afterwards the dir reads like a from-scratch run."""
    import os as _os

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
        mgr.write(
            "block_sizes",
            mgr.read("block_index", spark)
            .groupBy("block_key")
            .agg(F.count(F.lit(1)).alias("block_size")),
        )
    mgr.write("clusters", read_clusters_chain(spark, ckpt_dir))
    parent = _os.path.join(ckpt_dir, PARENT_FILE)
    if _os.path.exists(parent):
        _os.remove(parent)


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


# single key-identity definition shared with pipeline.block_index_stage —
# re-exported here for callers/tests that import it from this module
raw_band_keys = blocking.raw_band_keys


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
    corpus key stream is scanned, never shuffled.

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
            salt = F.pmod(F.xxhash64("block_key", member), F.lit(n_salts))
            return df.join(hot, "block_key", "left_semi").withColumn(
                "block_key", F.xxhash64("block_key", salt)
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
    broadcast_probe_delta: bool = True,
    broadcast_touched: bool = True,
) -> dict[str, DataFrame]:
    """Fold ``new_repos`` into the completed run at ``base_checkpoint``.

    Returns {"mentions", "embedded", "matches_new", "clusters"} where
    ``clusters`` is the FULL updated (mention_id, cluster_id) assignment over
    base ∪ new mentions, labeled identically to a from-scratch run.

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
    content is identical to the chain read. Pair it with
    ``broadcast_probe_delta=False`` for batches past the broadcast ceiling:
    the probe becomes a sort-merge join where only the delta side exchanges
    (the bucketed corpus scan carries no Exchange — plan pinned by
    tests/test_bucketed.py).

    ``broadcast_touched`` gates the relabel stage's broadcast hints, whose
    build sides are bounded by TOUCHED-CLUSTER MEMBERSHIP rather than batch
    size (a batch-proportional bound holds only while no touched cluster is
    itself corpus-scale). A fold that touches a mega-cluster — one content
    duplicated past the broadcast ceiling — must pass False: the relabel
    joins run sort-merge (the corpus clusters/mentions tables shuffle for
    this fold, which is unavoidable when the touched membership itself is
    corpus-scale) instead of OOMing the driver. Output is byte-identical
    either way (tests/test_incremental.py).
    """
    import hashlib as _hashlib
    import json as _json
    import os as _os
    from dataclasses import asdict as _asdict

    if checkpoint_dir is not None and _os.path.abspath(checkpoint_dir) == _os.path.abspath(
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
    fp = _hashlib.sha256(
        (
            _json.dumps(_asdict(cfg), sort_keys=True)
            + "\x00" + str(base_checkpoint) + "\x00" + input_token
        ).encode()
    ).hexdigest()

    def _stage(name, thunk) -> DataFrame:
        if plan_capture is not None:
            df = thunk()
            plan_capture[name] = df._jdf.queryExecution().executedPlan().toString()
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
    # never shuffled. A batch too big for these broadcasts belongs in the
    # full pipeline, not a fold.

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
        dk = raw_band_keys(
            feats_all.select("csid", "bands").join(
                F.broadcast(delta_cl.select("csid").distinct()), "csid", "left_semi"
            ),
            delta_cl,
        )
        if cfg.use_hyperplane_blocks:
            from mel_spark.functions.vectors import ensure_emb_array

            # hyperplane keys are lang-independent → only NEW contents add them
            hp = blocking.hyperplane_blocks(
                ensure_emb_array(feats_new), "csid", "emb",
                dim=cfg.emb_dim, n_planes=cfg.hyperplane_planes,
                bands=cfg.hyperplane_bands, seed=cfg.seed,
            ).select(
                F.xxhash64(F.lit("hp"), "block_key").alias("block_key"), "mention_id"
            )
            dk = dk.unionByName(hp)
        return dk

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
        base_cl = mentions_b.select("csid", "lang").dropDuplicates(["csid", "lang"])
        base_keys = raw_band_keys(feats_b, base_cl)
        if cfg.use_hyperplane_blocks:
            from mel_spark.functions.vectors import ensure_emb_array

            base_keys = base_keys.unionByName(
                blocking.hyperplane_blocks(
                    ensure_emb_array(feats_b), "csid", "emb",
                    dim=cfg.emb_dim, n_planes=cfg.hyperplane_planes,
                    bands=cfg.hyperplane_bands, seed=cfg.seed,
                ).select(
                    F.xxhash64(F.lit("hp"), "block_key").alias("block_key"),
                    "mention_id",
                )
            )

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
    delta_sizes = _stage(
        "block_sizes_delta",
        lambda: delta_keys.groupBy("block_key").agg(
            F.count(F.lit(1)).alias("block_size")
        ),
    )
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
        base_at_delta = (
            base_keys.join(F.broadcast(dk_distinct), "block_key", "left_semi")
            .groupBy("block_key")
            .agg(F.count(F.lit(1)).alias("block_size"))
        )
    hot_keys = (
        base_at_delta.unionByName(delta_sizes)
        .groupBy("block_key")
        .agg(F.sum("block_size").alias("block_size"))
        .filter(F.col("block_size") > cfg.salt_threshold)
        .select("block_key")
    )

    def _scored() -> DataFrame:
        # 3a. delta x delta with the standard skew controls (hot set = totals)
        dd_blocks = blocking.cap_blocks(
            blocking.salt_hot_blocks(delta_keys, cfg.salt_threshold, hot_keys=hot_keys),
            cfg.max_block_size,
        )
        dd_pairs = pairs.candidate_pairs(dd_blocks)
        # 3b. delta x base probe: broadcast the delta keys; the corpus key
        # stream is scan-only (at scale: a bucketed block index makes this a
        # shuffle-free join even without the broadcast)
        db_pairs = probe_keys(
            delta_keys, base_keys, max_candidates_per_key=cfg.max_block_size,
            broadcast_delta=broadcast_probe_delta,
            salt_threshold=cfg.salt_threshold,
            hot_keys=hot_keys,
        )
        cand = (
            dd_pairs.unionByName(db_pairs)
            .groupBy("mention_id_a", "mention_id_b")
            .agg(F.min("block_key").alias("block_key"))
        )
        # 4. score with the shared fused kernel over ONLY the records that
        # appear in a candidate pair (broadcast semi-join prune of feats_all)
        pair_ids = (
            cand.select(F.col("mention_id_a").alias("mention_id"))
            .unionByName(cand.select(F.col("mention_id_b").alias("mention_id")))
            .distinct()
        )
        records = feats_all.select(
            F.col("csid").alias("mention_id"), "emb", "xs"
        ).join(F.broadcast(pair_ids), "mention_id", "left_semi")
        return pairs.score_pairs_fused_arrow(
            cand, records, w_cos=cfg.w_cos, w_jaccard=cfg.w_jaccard
        )

    scored = _stage("pairs_delta", _scored)
    matches_new = pairs.match_pairs(scored, cfg.threshold)

    # 5. incremental components over root-collapsed edges. The roots lookup
    # is restricted to the csids the fold can TOUCH — batch csids plus edge
    # endpoints — so the mentions×clusters join that recovers content-level
    # roots shuffles O(batch) rows and only SCANS the corpus tables (the
    # unrestricted content_roots() here was measured growing linearly with
    # |base|, BENCH/FOLD_SWEEP.md).
    edge_csids = (
        matches_new.select(F.col("mention_id_a").alias("csid"))
        .unionByName(matches_new.select(F.col("mention_id_b").alias("csid")))
        .distinct()
    )
    probe_csids = edge_csids.unionByName(new_m.select("csid")).distinct()
    mentions_touch = mentions_b.select("csid", "mention_id").join(
        F.broadcast(probe_csids), "csid", "left_semi"
    )

    # build sides from here on are bounded by TOUCHED-CLUSTER MEMBERSHIP, not
    # by the batch — hint them only while that bound fits a broadcast (see
    # the broadcast_touched docstring for the mega-cluster escape hatch)
    def _b_touch(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if broadcast_touched else df

    # broadcast the touched-membership side into content_roots' inner join so
    # the corpus clusters table is SCANNED (broadcast-hash probe), not
    # shuffled — er_job disables auto-broadcast, so the hint must be explicit
    roots_touch = content_roots(_b_touch(mentions_touch), clusters_b)
    cc_dir = _os.path.join(checkpoint_dir, "cc_rounds") if checkpoint_dir else None
    remap = merge_components(
        matches_new, roots_touch, checkpoint_dir=cc_dir, input_fingerprint=fp
    ).select(
        F.col("mention_id").alias("_node"), F.col("cluster_id").alias("_new_root")
    )

    # 6. assignment DELTA over TOUCHED clusters only. A base cluster can
    # change — merge into another, or have its min-mid label move — iff it
    # contains a batch csid or an edge endpoint, i.e. iff its base label is
    # a roots_touch root (clusters only ever GAIN members; an untouched
    # cluster keeps its exact membership, hence its min-mid label). So the
    # relabel runs over the members of those clusters plus the new
    # mentions — O(batch · cluster size) rows — never the full corpus; the
    # corpus assignment/mention tables are scanned through broadcast
    # semi-joins, not shuffled. Byte-identity with the full-run relabel is
    # asserted by tests/test_incremental.py.
    def _clusters_delta() -> DataFrame:
        touched_base = roots_touch.select(F.col("root").alias("cluster_id")).distinct()
        touched_members = clusters_b.join(
            F.broadcast(touched_base), "cluster_id", "left_semi"
        )
        tm = _b_touch(
            touched_members.select(
                "mention_id", F.col("cluster_id").alias("_base_root")
            )
        ).join(mentions_b.select("mention_id", "mid", "csid"), "mention_id")
        old_assign = (
            tm.select("csid", F.col("_base_root").alias("root"))
            .distinct()
            .join(remap, F.col("root") == F.col("_node"), "left")
            .select("csid", F.coalesce("_new_root", "root").alias("_root"))
        )
        new_assign = (
            feats_new.select("csid")
            .join(remap, feats_new["csid"] == remap["_node"], "left")
            .select("csid", F.coalesce("_new_root", F.col("csid")).alias("_root"))
        )
        assign = old_assign.unionByName(new_assign)
        expanded = (
            tm.select("mid", "mention_id", "csid")
            .unionByName(new_m.select("mid", "mention_id", "csid"))
            .join(assign, "csid")
        )
        # relabel deterministically (min mid per final root) — min over the
        # COMPLETE membership of each touched group, matching
        # pipeline.run_pipeline's output contract exactly
        mins = expanded.groupBy("_root").agg(F.min("mid").alias("cluster_id"))
        rel = expanded.join(mins, "_root").select("mention_id", "cluster_id")
        base_sub = clusters_b.join(
            _b_touch(rel.select("mention_id")), "mention_id", "left_semi"
        ).select("mention_id", F.col("cluster_id").alias("_old"))
        return (
            rel.join(base_sub, "mention_id", "left")
            .filter(F.col("_old").isNull() | (F.col("_old") != F.col("cluster_id")))
            .select("mention_id", "cluster_id")
        )

    delta = _stage("clusters_delta", _clusters_delta)
    if ckpt is not None:
        _write_parent(checkpoint_dir, base_checkpoint)
    # full updated assignment = override the base with the delta (identical
    # to a from-scratch relabel per the touched-clusters argument above);
    # the anti-join's build side is the touched-membership-bounded delta id
    # set — broadcast it (when that bound fits) so reconstructing the full
    # table scans the corpus instead of shuffling it
    clusters = clusters_b.join(
        _b_touch(delta.select("mention_id")), "mention_id", "left_anti"
    ).unionByName(delta)
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
    }
