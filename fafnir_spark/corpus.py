"""Deterministic synthetic source-code corpus, input_hint schema.

BASELINE.json input_hint: ``(repo:string, path:string, commit:string,
lang:string, content:string)``. The driver testdata's ``documents`` table is
a different (doc_id, text, ...) shape, so engine-internal tests and the
build/scale benchmarks synthesize this corpus deterministically — seeded,
keyword frequencies Zipf-distributed so term skew is real (the north rule's
"skewed terms like common keywords" is exercised, not simulated).

Generation is distributed: ``spark.range(n)`` then a mapInPandas generator
that derives every field from the row id with a per-row seeded RNG — the
corpus is identical for any partitioning, executor count, or run.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

CORPUS_SCHEMA = "repo string, path string, commit string, lang string, content string"

_KEYWORDS = (
    "def return if else for while class import from try except raise with as "
    "lambda yield int str list dict set self none true false fn let mut pub "
    "struct impl match enum use mod async await spawn println vec string map "
    "filter reduce sort join merge index query score rank term doc posting "
    "block shard partition shuffle broadcast hash varint delta bm25 wand "
    "tokenize parse encode decode read write open close flush commit snapshot "
    "checkpoint resume batch stream buffer channel retry backoff"
).split()

# FIXTURES.md contract: langs non-uniform, ext consistent with lang
_LANGS = ["python", "java", "rust", "go", "js", "md"]
_EXT = {"python": "py", "java": "java", "rust": "rs", "go": "go", "js": "js", "md": "md"}
_LANG_WEIGHTS = [0.35, 0.2, 0.15, 0.12, 0.12, 0.06]
N_REPOS = 20


def _gen_batch(ids: np.ndarray, zipf_a: float, mean_len: int) -> pd.DataFrame:
    n_kw = len(_KEYWORDS)
    rows = {"repo": [], "path": [], "commit": [], "lang": [], "content": []}
    for i in ids:
        rng = np.random.default_rng(0xFAF0 + int(i))
        # heavy-tail repo sizes (FIXTURES.md: one repo >> others, so
        # partition skew is exercised): Zipf-pick the repo id
        repo_id = min(int(rng.zipf(1.5)) - 1, N_REPOS - 1)
        lang = _LANGS[int(rng.choice(len(_LANGS), p=_LANG_WEIGHTS))]
        length = min(2000, max(50, int(rng.poisson(mean_len))))
        # Zipf over the keyword vocabulary => hot terms (def, return, ...)
        ranks = np.minimum(rng.zipf(zipf_a, size=length) - 1, n_kw - 1)
        toks = [_KEYWORDS[r] for r in ranks]
        # rare identifiers unique to few docs (selective-term queries)
        toks.extend(f"sym_{int(i)}_{j}" for j in range(int(rng.integers(0, 3))))
        h = (0x9E3779B97F4A7C15 * (int(i) + 1)) & ((1 << 160) - 1)
        rows["repo"].append(f"org{repo_id}/proj{repo_id}")
        rows["path"].append(f"src/module_{int(i) % 97}/file_{int(i):07d}.{_EXT[lang]}")
        rows["commit"].append(f"{h:040x}"[:40])
        rows["lang"].append(lang)
        rows["content"].append(" ".join(toks))
    return pd.DataFrame(rows)


def synth_corpus(
    spark: SparkSession,
    n_docs: int,
    partitions: int | None = None,
    zipf_a: float = 1.3,
    mean_len: int = 120,
) -> DataFrame:
    """Deterministic corpus of ``n_docs`` synthetic source files."""
    parts = partitions or max(2, spark.sparkContext.defaultParallelism)
    base = spark.range(0, n_docs, 1, parts)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _gen_batch(pdf["id"].to_numpy(), zipf_a, mean_len)

    return base.mapInPandas(gen, schema=CORPUS_SCHEMA)

