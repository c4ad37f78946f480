"""Text → tokens / shingles / hashes, as pure Catalyst column expressions.

Cross-engine determinism rule: every hash bottoms out in ``md5(string)`` which
produces identical lowercase hex in Spark and DuckDB, so MinHash signatures are
``min()`` over **lexicographically ordered hex strings** — a uniform order
statistic, no integer conversion needed. The reference's analogue is the
polynomial rolling hash over token rows (src/models/data/only_once_dataset.py:60-84)
and the token-array alias keys (src/baselines/olpeat/find_recall.py:76-91).

Each builder here has a DuckDB twin in mel_spark.functions.oracle.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization (documents are space-separated word streams)."""
    return F.split(text, " ")


def num_tokens(text: Column | str) -> Column:
    return F.size(tokens(text)).alias("num_tokens")


# BPE-ish pre-tokenizer pattern (simplified GPT-2 split): letter runs, digit
# runs, and single non-alphanumeric marks each become one token
BPE_ISH_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def bpe_ish_tokens(text: Column | str) -> Column:
    """Regex pre-tokenization (the BPE-style split an LLM-data pipeline
    counts tokens with, vs the whitespace `tokens`). Pure Catalyst; DuckDB
    twin uses the identical pattern (oracle.bpe_ish_tokens)."""
    t = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(t, F.lit(BPE_ISH_PATTERN), 0)


def shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles.

    Docs shorter than ``n`` tokens yield one shingle (the whole doc) — slice()
    tolerates a short tail, matching DuckDB's inclusive 1-indexed list slicing.
    """
    toks = tokens(text)
    m = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))
    grams = F.transform(
        F.sequence(F.lit(1), m),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.array_distinct(grams)


# universal-hash parameters: P = 2^31-1, M truncates the base hash so
# a*x+b stays < 2^61 (ANSI-overflow-safe). Seeds are fixed (deterministic).
MINHASH_P = 2147483647
MINHASH_M = 1 << 30


def _minhash_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    rng = np.random.default_rng(seed)
    return [
        (int(rng.integers(1, MINHASH_P)), int(rng.integers(0, MINHASH_P)))
        for _ in range(num_hashes)
    ]


def minhash_signatures(starts: np.ndarray, flat: np.ndarray, params: np.ndarray) -> np.ndarray:
    """The NumPy MinHash primitive both featurizers share: sig[d, j] = min
    over doc d's shingle ints x of (a_j·x + b_j) mod P — the arithmetic of
    :func:`minhash_signature_from_ints`. ``flat`` holds every doc's
    sorted-distinct shingle ints (int64, each < 2^31 so a·x + b < 2^62)
    back to back; doc d's segment starts at ``starts[d]`` and ends at the
    next start (the last at ``len(flat)``). ``params`` is the (H, 2)
    int64 array of :func:`_minhash_params`. Returns the (D, H) int64
    signature.

    Precondition: every segment is non-empty (strictly increasing
    ``starts``, ``starts[0] == 0``, last start < ``len(flat)``) —
    ``np.minimum.reduceat`` returns the element AT the start of an empty
    segment instead of a minimum, so an empty doc would silently take its
    neighbour's value.

    Chunked by docs: the flat form streams the whole shingle array from
    DRAM once per hash; per 2048-doc chunk the segment (~1.3 MB) stays
    cache-warm across all H passes, and one buffer is reused for every
    chunk and hash."""
    D = len(starts)
    P = np.int64(MINHASH_P)
    sig = np.empty((D, len(params)), dtype=np.int64)
    ph = np.empty(0, np.int64)
    CH = 2048
    for c0 in range(0, D, CH):
        c1 = min(c0 + CH, D)
        s = starts[c0]
        e = starts[c1] if c1 < D else len(flat)
        seg = flat[s:e]
        st = starts[c0:c1] - s
        if len(seg) > len(ph):
            ph = np.empty(len(seg), np.int64)
        pv = ph[: len(seg)]
        for h in range(len(params)):
            np.multiply(seg, params[h, 0], out=pv)
            np.add(pv, params[h, 1], out=pv)
            np.mod(pv, P, out=pv)
            sig[c0:c1, h] = np.minimum.reduceat(pv, st)
    return sig


def shingle_int_hashes(shingle_col: Column) -> Column:
    """One md5 per shingle → 60-bit int, truncated mod M. This is the single
    expensive hash; all minhash permutations derive from it by integer math."""
    return F.transform(
        shingle_col,
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long") % F.lit(MINHASH_M),
    )


def token_int_hashes(text: Column | str) -> Column:
    """Fast-path (pipeline, not oracle-matched): one native xxhash64 per
    token → array<long> in [0, M). Callers must PROJECT this into its own
    column before combining (shingle_hashes_from_token_ints), else the hash
    pass is duplicated per consumer expression."""
    return F.transform(tokens(text), lambda t: F.pmod(F.xxhash64(t), F.lit(MINHASH_M)))


def shingle_hashes_from_token_ints(th_col: Column, n: int = 3) -> Column:
    """n-gram shingle hashes by pure integer arithmetic over a pre-projected
    token-hash array — no per-shingle string allocation. ~10× faster than the
    md5-string shingle path and GC-light (the md5 path only scaled 1.5× from
    8→32 local threads because allocation saturated the JVM; this is flat).
    Docs shorter than ``n`` clamp the tail index (same one-shingle semantics
    as shingles())."""
    all_coefs = [1000003, 9176, 523717, 31, 65599]
    assert n <= len(all_coefs), f"shingle n={n} exceeds {len(all_coefs)} mixing coefficients"
    coefs = all_coefs[:n]
    m = F.greatest(F.size(th_col) - F.lit(n - 1), F.lit(1))

    def _gram(i: Column) -> Column:
        acc = None
        for j, c in enumerate(coefs):
            idx = F.least(i + F.lit(j), F.size(th_col))
            term = F.element_at(th_col, idx) * F.lit(c)
            acc = term if acc is None else acc + term
        return acc % F.lit(MINHASH_P)

    return F.transform(F.sequence(F.lit(1), m), _gram)


def token_bucket_ids(text: Column | str, buckets: int = 4096) -> Column:
    """JVM-side token→bucket hashing for the embedder: the Arrow UDF then does
    a pure NumPy gather-sum instead of hashing 10⁸ tokens in Python."""
    return F.transform(tokens(text), lambda t: F.pmod(F.xxhash64(t), F.lit(buckets)).cast("int"))


def minhash_signature(shingle_col: Column, num_hashes: int = 16, seed: int = 42) -> Column:
    """MinHash signature as array<long>: sig[j] = min over shingles of
    (a_j·x + b_j) mod P, where x = md5-derived int of the shingle.

    One md5 per shingle total (not per permutation) — the permutations are
    cheap integer ops, ~num_hashes× cheaper than hashing per permutation.
    Cross-engine deterministic: identical arithmetic in DuckDB
    (oracle.minhash_signature); all operands non-negative so % == mod.
    """
    return minhash_signature_from_ints(shingle_int_hashes(shingle_col), num_hashes, seed)


def minhash_signature_from_ints(xs_col: Column, num_hashes: int = 16, seed: int = 42) -> Column:
    """Signature from a pre-materialized int-hash array column.

    Hot paths should project ``shingle_int_hashes`` into its own column FIRST
    (a Project boundary stops CollapseProject from duplicating the md5 pass
    into all ``num_hashes`` permutation subtrees).

    Deliberately UNROLLED (num_hashes sibling array_min(transform(...))
    expressions): a compact nested-HOF form over a literal parameter array
    measured 10× SLOWER downstream — the optimizer re-inlines the single
    transform into every band-key subtree, re-evaluating the whole signature
    per band (measured on er_blocking_stats: 3.9 s → 38.5 s at sf0.1)."""

    def _perm(a: int, b: int):
        return lambda x: (F.lit(a) * x + F.lit(b)) % F.lit(MINHASH_P)

    return F.array(
        *[
            F.array_min(F.transform(xs_col, _perm(a, b)))
            for a, b in _minhash_params(num_hashes, seed)
        ]
    )


def minhash_band_ints(sig_col: Column, bands: int, rows: int) -> Column:
    """Fast-path LSH banding (pipeline): band key = integer combination of the
    band's signature minima (+ band index mixed in) — array<long>, no string
    or md5 allocation. Collision probability across bands ~2⁻³¹ per pair and
    every candidate is exact-verified downstream, so spurious collisions only
    cost a verification, never correctness."""
    all_coefs = [1000003, 9176, 523717, 31]
    assert rows <= len(all_coefs), (
        f"rows-per-band={rows} exceeds {len(all_coefs)} mixing coefficients; "
        "dropping signature minima silently would inflate band collisions"
    )
    coefs = all_coefs[:rows]
    keys = []
    for i in range(bands):
        acc = None
        for j, c in enumerate(coefs):
            term = F.element_at(sig_col, i * rows + j + 1) * F.lit(c)
            acc = term if acc is None else acc + term
        keys.append((acc + F.lit(i * 1_000_000_007)) % F.lit(MINHASH_P * 4))
    return F.array(*keys)


def minhash_band_keys(sig_col: Column, bands: int, rows: int) -> Column:
    """LSH banding: split the signature into ``bands`` groups of ``rows`` minima;
    band key = 'b{i}:' || md5(concat of the band's minima). Two docs share a band
    key iff that band of their signatures agrees exactly — the standard
    MinHash-LSH equi-join key (this is the Spark-native form of the reference's
    ScaNN partitioning, src/models/searchers/scann_searcher.py:21-49).
    """
    strs = F.transform(sig_col, lambda v: v.cast("string"))
    keys = [
        F.concat(
            F.lit(f"b{i}:"),
            F.md5(F.concat_ws("|", F.slice(strs, i * rows + 1, rows))),
        )
        for i in range(bands)
    ]
    return F.array(*keys)


# ---------------------------------------------------------------------------
# Spark-SQL string twins of the hot builders (r6). Building the unrolled
# 32-permutation / 16-band expression trees through the Column API costs
# hundreds of py4j driver roundtrips PER QUERY INVOCATION (~0.4 s measured
# for one _doc_features build at warm JVM); the same tree parsed from one SQL
# string is a single roundtrip. Each *_sql body mirrors its Column builder
# operator-for-operator (same Catalyst expressions after parsing, so plans
# and results are identical — asserted by tests/test_text_sql_twins.py).
# ---------------------------------------------------------------------------

def shingles_sql(text: str, n: int = 3) -> str:
    toks = f"split({text}, ' ')"
    m = f"greatest(size({toks}) - {n - 1}, 1)"
    return (
        f"array_distinct(transform(sequence(1, {m}), "
        f"i -> concat_ws(' ', slice({toks}, i, {n}))))"
    )


def shingle_int_hashes_sql(sh: str) -> str:
    return (
        f"transform({sh}, s -> "
        f"cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint) % {MINHASH_M})"
    )


def minhash_signature_from_ints_sql(xs: str, num_hashes: int = 16, seed: int = 42) -> str:
    parts = ", ".join(
        f"array_min(transform({xs}, x -> ({a} * x + {b}) % {MINHASH_P}))"
        for a, b in _minhash_params(num_hashes, seed)
    )
    return f"array({parts})"


def minhash_band_keys_sql(sig: str, bands: int, rows: int) -> str:
    strs = f"transform({sig}, v -> cast(v as string))"
    keys = ", ".join(
        f"concat('b{i}:', md5(concat_ws('|', slice({strs}, {i * rows + 1}, {rows}))))"
        for i in range(bands)
    )
    return f"array({keys})"


def simhash64(shingle_col: Column, bits: int = 30) -> Column:
    """SimHash over shingles: per-bit majority vote of md5-derived int hashes.
    Convenience wrapper; hot paths pre-project shingle_int_hashes and call
    simhash_from_ints. ``bits`` ≤ 30 (int hashes are truncated mod 2^30,
    which preserves the low 30 bits of the md5 value exactly)."""
    return simhash_from_ints(shingle_int_hashes(shingle_col), bits)


def simhash_from_ints(xs_col: Column, bits: int = 30) -> Column:
    """Per-bit majority vote over a pre-materialized int-hash array column:
    bit b is 1 iff ≥ half the hashes have bit b set."""
    assert bits <= 30, "int hashes carry 30 low bits"
    h = xs_col
    n = F.size(xs_col)
    out = F.lit(0).cast("long")
    for b in range(bits):
        def _bit_counter(mask_val: int):
            mask = F.lit(mask_val).cast("long")
            return lambda acc, v: acc + F.when(v.bitwiseAND(mask) != 0, F.lit(1)).otherwise(
                F.lit(0)
            ).cast("long")

        ones = F.aggregate(h, F.lit(0).cast("long"), _bit_counter(1 << b))
        out = out + F.when(ones * 2 >= n, F.lit(2 ** b).cast("long")).otherwise(F.lit(0).cast("long"))
    return out


def token_ids(text: Column | str, vocab: int = 1 << 20) -> Column:
    """Deterministic int token ids in [1, vocab] (0 reserved as the pad id) —
    the engine's analogue of the HF tokenizer's input_ids
    (src/data_processors/tokens/tokenizer_wrapper.py:6-15). md5-derived so the
    DuckDB oracle computes identical ids."""
    return F.transform(
        tokens(text),
        lambda t: (
            F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long") % F.lit(vocab) + 1
        ).cast("int"),
    )


def pad_tokens(ids_col: Column, width: int = 64) -> Column:
    """F4: fixed-width token row — truncate to ``width`` then right-pad with 0
    (tokenizer_wrapper.py padding='max_length'/truncation=True). Output length
    is exactly ``width``."""
    sliced = F.slice(ids_col, 1, width)
    return F.concat(
        sliced,
        F.array_repeat(F.lit(0).cast("int"), F.lit(width) - F.size(sliced)),
    )


def mention_window(
    ids_col: Column, ms: Column, me: Column, width: int = 64, reserve: int = 2
) -> Column:
    """F5: mention-centered token crop (tokens_cutter.py:59-160), padded to
    ``width``. ``ms``/``me`` are the 0-based [start, end) token span of the
    mention. ``reserve`` mirrors the reference's two special-token slots.

    Branches exactly as the reference chooses its cut method:
     - mention longer than usable-2  → mention-only, truncated (_cut_only_mention)
     - window fits around the mention → mid cut (half the remainder each side)
     - mention near the left edge     → take more on the right
     - mention near the right edge    → take more on the left
    """
    usable = width - reserve
    n = F.size(ids_col)
    mlen = me - ms
    remains = F.lit(usable) - mlen
    left_start = ms - F.floor(remains / 2).cast("int")
    right_end = me + (remains - F.floor(remains / 2).cast("int"))
    too_large = mlen > F.lit(usable - 2)
    mid_ok = (left_start >= 0) & (right_end <= n)
    start = (
        F.when(too_large, ms)
        .when(mid_ok, left_start)
        .when(left_start < 0, F.lit(0))
        .otherwise(F.greatest(n - F.lit(usable), F.lit(0)))
    )
    length = F.when(too_large, F.lit(usable - 2)).otherwise(F.lit(usable))
    win = F.slice(ids_col, start.cast("int") + 1, length.cast("int"))
    return F.concat(
        win, F.array_repeat(F.lit(0).cast("int"), F.lit(width) - F.size(win))
    )


def title_desc_concat(
    title: Column,
    alt_title: Column,
    desc: Column,
    alt_desc: Column,
    label_token: str = "[M]",
) -> Column:
    """P5/F3 entity text projection (loaders/damuel.py:119-191): title =
    coalesce(title, alt_title); description = coalesce(desc, alt_desc, '');
    the title is wrapped in the label token and the description's duplicated
    title prefix is stripped (condition on trimmed strings, slice by raw title
    length — exactly construct_text_from_title_and_description).

    Callers drop rows where both title columns are null (the reference's
    `continue`)."""
    t = F.coalesce(title, alt_title)
    d = F.coalesce(desc, alt_desc, F.lit(""))
    wrapped = F.concat(F.lit(label_token), t, F.lit(label_token))
    stripped = F.substring(
        d, F.length(t) + 1, F.greatest(F.length(d) - F.length(t), F.lit(0))
    )
    body = F.when(F.startswith(F.trim(d), F.trim(t)), stripped).otherwise(d)
    return F.concat(wrapped, F.lit("\n"), body)


def doc_fingerprint(text: Column | str, n: int = 8) -> Column:
    """Winnowing-lite document fingerprint: min md5 over 8-gram shingles.

    Reference analogue: polynomial rolling hash per token row
    (src/models/data/only_once_dataset.py:60-84).
    """
    return F.array_min(F.transform(shingles(text, n), F.md5))


def content_sha(text: Column | str) -> Column:
    """Per-row invariant column (input_hint: sha256(content) equality)."""
    return F.sha2(F.col(text) if isinstance(text, str) else text, 256)


# ---------------------------------------------------------------------------
# Text analysis (training-data-pipeline ops): language ID, quality, counting
# ---------------------------------------------------------------------------

# tiny per-language marker vocabularies for the n-gram/stopword langid heuristic
LANG_MARKERS = {
    "en": ["the", "and", "of"],
    "es": ["el", "la", "de"],
    "de": ["der", "und", "das"],
    "fr": ["le", "et", "les"],
}


def stopword_ratio(text: Column | str, stopwords: list[str]) -> Column:
    toks = tokens(text)
    def _in_set(words: list[str]):
        return lambda t: t.isin(words)

    hits = F.size(F.filter(toks, _in_set(list(stopwords))))
    return hits / F.greatest(F.size(toks), F.lit(1))


def quality_score(text: Column | str) -> Column:
    """Length / punct-density / stopword composite in [0,1] (rounded 6dp)."""
    t = F.col(text) if isinstance(text, str) else text
    n_chars = F.length(t)
    len_score = F.least(n_chars / F.lit(400.0), F.lit(1.0))
    punct = F.length(F.regexp_replace(t, "[^.,;:!?]", ""))
    punct_score = F.lit(1.0) - F.least(punct / F.greatest(n_chars, F.lit(1)) * 10.0, F.lit(1.0))
    stop = stopword_ratio(t, LANG_MARKERS["en"])
    return F.round((len_score + punct_score + stop) / F.lit(3.0), 6)


def langid_scores(text: Column | str) -> list[Column]:
    """Marker-vocabulary hit-count per candidate language (argmax = predicted)."""
    toks = tokens(text)

    def _in_set(words: list[str]):
        return lambda t: t.isin(words)

    return [
        F.size(F.filter(toks, _in_set(ws))).alias(f"score_{lang}")
        for lang, ws in LANG_MARKERS.items()
    ]


def doc_segments(text: Column | str, seg_tokens: int = 8) -> Column:
    """Non-overlapping fixed-width token segments (the 'lines' of a continuous
    word stream): segment i = tokens[i*w : (i+1)*w] joined by space. The unit
    of CCNet-style duplicated-passage removal for corpora without newline
    structure; for newline-structured text use F.split(text, '\\n') instead.
    DuckDB twin: oracle.doc_segments."""
    toks = tokens(text)
    n_segs = F.ceil(F.size(toks) / F.lit(float(seg_tokens))).cast("int")
    return F.transform(
        F.sequence(F.lit(0), F.greatest(n_segs, F.lit(1)) - F.lit(1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i * seg_tokens + 1, seg_tokens)),
    )


def mean_word_len(text: Column | str) -> Column:
    """Mean token length in characters (Gopher rule C4/quality signal)."""
    toks = tokens(text)
    total = F.aggregate(
        toks, F.lit(0).cast("bigint"), lambda acc, w: acc + F.length(w)
    )
    return F.round(total / F.greatest(F.size(toks), F.lit(1)), 6)


def distinct_token_ratio(text: Column | str) -> Column:
    """|distinct tokens| / |tokens| — the repetition signal in Gopher's
    repetition-removal rules (a heavily repeated doc scores low)."""
    toks = tokens(text)
    return F.round(
        F.size(F.array_distinct(toks)) / F.greatest(F.size(toks), F.lit(1)), 6
    )


# ---------------------------------------------------------------------------
# Arrow-batched ER feature kernel (guide §4.2). The Catalyst form of the
# md5-shingle → minhash → band chain is interpreted HOF work (zip/transform/
# array_min are CodegenFallback) that allocates per element — measured 130 s
# task time (up to 79% GC) for one sf1.0 feature pass. The same math as one
# mapInArrow batch kernel: per-shingle md5 via hashlib (C speed), the
# signature through the shared minhash_signatures primitive, band md5s via
# hashlib. Every operation is integer arithmetic or md5 — EXACT cross-engine,
# so the output is bit-identical to the Catalyst/DuckDB twins (asserted by
# tests/test_er_kernel.py against the legacy expression chain).
#
# Band keys are emitted as 17-byte binary (1 index byte + the 16 md5 digest
# bytes) instead of the 35-char 'b{i}:<hex>' string — a BIJECTION of the
# oracle's key space (fixed-width concat of injective encodings), so band
# equality classes — and therefore every downstream join/group result — are
# unchanged while the self-join shuffles half the bytes. xs is int32 (values
# are md5 ints mod 2^30 by construction).
# ---------------------------------------------------------------------------

_DOC_FEATURES_KERNELS: dict = {}


def doc_features_map(shingle_n: int = 3, num_hashes: int = 32, bands: int = 16,
                     seed: int = 42):
    """(kernel, schema) for ``docs.select('doc_id','text').mapInArrow(...)``
    → (doc_id, xs array<int>, bands array<binary>). The kernel passes the
    doc_id column through untouched; ``schema`` types it as long, and a
    caller whose ids have another type swaps in its own id field. Memoized
    per config: every invocation returns the SAME function object, so
    repeated query builds produce cache-matching plans (InMemoryRelation
    substitution keys on the serialized UDF)."""
    key = (shingle_n, num_hashes, bands, seed)
    if key in _DOC_FEATURES_KERNELS:
        return _DOC_FEATURES_KERNELS[key]

    import hashlib

    from pyspark.sql.types import (
        ArrayType,
        BinaryType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    assert num_hashes % bands == 0
    params = np.array(_minhash_params(num_hashes, seed), dtype=np.int64)
    rows_per_band = num_hashes // bands
    M = MINHASH_M
    md5 = hashlib.md5
    n1 = shingle_n - 1

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("xs", ArrayType(IntegerType())),
            StructField("bands", ArrayType(BinaryType())),
        ]
    )

    def kernel(batches):
        import pyarrow as pa

        join = " ".join
        joinp = "|".join
        from_bytes = int.from_bytes
        prefixes = [bytes([bi]) for bi in range(bands)]
        for rb in batches:
            D = rb.num_rows
            counts = np.empty(D, np.int64)
            vals = []
            for d, t in enumerate(rb.column("text").to_pylist()):
                if t is None:
                    # Catalyst parity: split(NULL) → NULL tokens, m=1, and
                    # concat_ws(' ', NULL slice) = '' → one empty shingle
                    ss = {""}
                else:
                    toks = t.split(" ")
                    if len(toks) > n1:
                        # sliding n-grams via zip — same windows as
                        # slice(toks, i, n) for i in 1..len-n+1
                        ss = set(map(join, zip(*(toks[i:] for i in range(shingle_n)))))
                    else:
                        ss = {join(toks)}
                counts[d] = len(ss)
                # first 15 hex chars == top 60 bits of the digest:
                # int(hexdigest[:15], 16) == int.from_bytes(digest[:8]) >> 4
                vals.extend((from_bytes(md5(s.encode()).digest()[:8], "big") >> 4) % M for s in ss)
            # per-doc sorted-distinct via one global unique over
            # (doc << 30 | x); x < M = 2^30 so the pack is lossless
            u = np.unique(
                (np.repeat(np.arange(D, dtype=np.int64), counts) << 30)
                | np.array(vals, dtype=np.int64)
            )
            xs = u & np.int64(M - 1)
            starts = np.searchsorted(u >> 30, np.arange(D, dtype=np.int64))
            sig = minhash_signatures(starts, xs, params)
            blob = b"".join(
                prefixes[bi]
                + md5(joinp(row[bi * rows_per_band : (bi + 1) * rows_per_band]).encode()).digest()
                for row in sig.astype(str).tolist()
                for bi in range(bands)
            )

            xs_off = np.append(starts, len(xs)).astype(np.int32)
            xs_arr = pa.ListArray.from_arrays(
                pa.array(xs_off), pa.array(xs.astype(np.int32), pa.int32())
            )
            keys = pa.Array.from_buffers(
                pa.binary(), D * bands,
                [None, pa.py_buffer((np.arange(D * bands + 1, dtype=np.int32) * 17).tobytes()),
                 pa.py_buffer(blob)],
            )
            bd_arr = pa.ListArray.from_arrays(
                pa.array(np.arange(D + 1, dtype=np.int32) * bands), keys
            )
            yield pa.RecordBatch.from_arrays(
                [rb.column("doc_id"), xs_arr, bd_arr], names=["doc_id", "xs", "bands"]
            )

    _DOC_FEATURES_KERNELS[key] = (kernel, schema)
    return _DOC_FEATURES_KERNELS[key]
