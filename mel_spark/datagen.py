"""Deterministic synthetic data generator for the entity-resolution pipeline.

Produces the authoritative input shape (BASELINE.json → input_hint):

    repos(repo string, path string, commit string, lang string, content string)

with **planted near-duplicate clusters**: each latent entity gets a base document
copied into k files across repos with bounded token-level edits (plus exact
copies). The generator also emits the gold tables:

    reference_clusters(mention_id, entity_id, lang)   — the QID analogue
    entity_redirects(old_entity_id, new_entity_id)     — remap-join exercise
                                                         (ref: src/utils/qids_remap.py:35-55)

This plays the role of the reference's DaMuEL/Mewsli fixtures
(tests/tokenization/pipeline/data/, tests/damuel_mock/part_example-0): we reuse
their *shape* (mention ↔ gold entity id) with zero external data. Seeded and
fully deterministic: same (seed, n_files) ⇒ byte-identical tables.

Skew is planted on purpose (FIXTURES.md §1): Zipf-ish repo sizes and language
frequencies mirror the reference's hot-alias problem
(src/baselines/olpeat/at_embeddings.py:4-6 — "thousands of links for Paris").
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np
import pandas as pd

LANGS = ["en", "zh", "es", "de", "fr", "ja", "ru", "pt"]
LANG_EXT = {
    "en": "py", "zh": "java", "es": "go", "de": "rs",
    "fr": "js", "ja": "cpp", "ru": "rb", "pt": "scala",
}
# code-flavoured vocabulary; small enough that shingles collide across unrelated
# docs only rarely, large enough for realistic token distributions
_VOCAB = np.array(
    [
        w + str(i)
        for i in range(40)
        for w in (
            "def", "class", "import", "return", "self", "value", "key", "node",
            "index", "batch", "shard", "merge", "hash", "token", "emb", "score",
        )
    ]
)


@dataclass(frozen=True)
class GenConfig:
    n_files: int = 2000
    seed: int = 42
    n_repos: int = 40
    mean_doc_tokens: int = 80
    min_doc_tokens: int = 24
    max_cluster_size: int = 6
    edit_frac: float = 0.08          # ≤8% token replacements per near-dup copy
    exact_dup_prob: float = 0.35     # chance a copy is byte-identical
    singleton_frac: float = 0.45     # fraction of files that are singletons
    n_redirects: int = 5


def _sha(s: str) -> str:
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


def generate_repos(cfg: GenConfig = GenConfig()) -> dict[str, pd.DataFrame]:
    """Return {'repos': ..., 'reference_clusters': ..., 'entity_redirects': ...}."""
    rng = np.random.default_rng(cfg.seed)

    # ---- cluster plan: sizes sum to n_files ---------------------------------
    sizes: list[int] = []
    remaining = cfg.n_files
    n_singletons = int(cfg.n_files * cfg.singleton_frac)
    remaining -= n_singletons
    while remaining > 0:
        k = int(rng.integers(2, cfg.max_cluster_size + 1))
        k = min(k, remaining)
        if k == 1 and remaining >= 2:
            k = 2
        sizes.append(k)
        remaining -= k
    sizes.extend([1] * n_singletons)

    # Zipf-ish skew over repos and langs (hot-repo / hot-lang exercise)
    repo_w = 1.0 / np.arange(1, cfg.n_repos + 1)
    repo_w /= repo_w.sum()
    lang_w = 1.0 / np.arange(1, len(LANGS) + 1)
    lang_w /= lang_w.sum()

    rows: list[tuple[str, str, str, str, str, int]] = []
    path_counter = 0
    for entity_id, k in enumerate(sizes):
        n_tok = max(cfg.min_doc_tokens, int(rng.poisson(cfg.mean_doc_tokens)))
        base = _VOCAB[rng.integers(0, len(_VOCAB), size=n_tok)]
        lang = LANGS[int(rng.choice(len(LANGS), p=lang_w))]
        for c in range(k):
            toks = base.copy()
            if c > 0 and rng.random() > cfg.exact_dup_prob:
                n_edit = max(1, int(len(toks) * cfg.edit_frac * rng.random()))
                pos = rng.choice(len(toks), size=min(n_edit, len(toks)), replace=False)
                toks[pos] = _VOCAB[rng.integers(0, len(_VOCAB), size=len(pos))]
            content = " ".join(toks.tolist())
            repo_i = int(rng.choice(cfg.n_repos, p=repo_w))
            repo = f"org{repo_i % 7}/proj{repo_i}"
            path_counter += 1
            path = f"src/m{path_counter % 97}/f{path_counter}.{LANG_EXT[lang]}"
            commit = _sha(f"{repo}|{cfg.seed}|{path_counter}")[:40]
            rows.append((repo, path, commit, lang, content, entity_id))

    repos = pd.DataFrame(
        rows, columns=["repo", "path", "commit", "lang", "content", "entity_id"]
    )
    repos["mention_id"] = [
        _sha(f"{r}\x00{p}\x00{c}")
        for r, p, c in zip(repos["repo"], repos["path"], repos["commit"])
    ]
    reference_clusters = repos[["mention_id", "entity_id", "lang"]].copy()
    repos = repos[["repo", "path", "commit", "lang", "content"]]

    # a few planted redirects: old ids (beyond the real range) → real entities
    max_e = len(sizes)
    redirects = pd.DataFrame(
        {
            "old_entity_id": np.arange(max_e, max_e + cfg.n_redirects, dtype=np.int64),
            "new_entity_id": rng.integers(0, max_e, size=cfg.n_redirects).astype(np.int64),
        }
    )
    return {
        "repos": repos,
        "reference_clusters": reference_clusters,
        "entity_redirects": redirects,
    }


def write_parquet(tables: dict[str, pd.DataFrame], out_dir: str) -> None:
    """Write the generated tables as SPLITTABLE parquet. Spark assigns scan
    tasks at row-group granularity, and pandas' default is one ~1Mi-row row
    group — a 3M-row file then carries 3 row groups and the whole ingest scan
    runs ≤3-wide no matter how many cores exist (it also fools
    session.ensure_scan_parallelism, whose byte-split partition count looks
    ample while all but 3 splits are empty). A production corpus is many
    files/row-groups; 64k-row groups (~13 MB here) reproduce that property."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        df.to_parquet(f"{out_dir}/{name}.parquet", index=False, row_group_size=65536)
