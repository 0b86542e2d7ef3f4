"""Independent reference answers for the correctness gate.

BM25 over a document dict comes from the package's engine-free oracle
(``fafnir_spark.oracle_py.bm25_topk``). The direct similarities BM25+ and
LM-Dirichlet have no Python oracle in the package, so they are written out
here from the formulas in their docstrings (``scoring.bm25_plus_topk``,
``scoring.lm_topk``): whitespace tokens, scores rounded to 6 places, order
(score desc, doc_id asc).
"""

from __future__ import annotations

import math
from collections import Counter

from fafnir_spark import B, K1
from fafnir_spark.oracle_py import bm25_topk, tokenize

__all__ = ["bm25_topk", "bm25_plus_topk", "lm_dirichlet_topk", "ranking", "TermStats"]


class TermStats:
    """Per-doc term counts of a corpus, tokenized once."""

    def __init__(self, docs: dict[int, str]):
        self.tfs = {d: Counter(tokenize(t)) for d, t in docs.items()}
        self.dls = {d: sum(c.values()) for d, c in self.tfs.items()}
        nonempty = [dl for dl in self.dls.values() if dl > 0]
        self.n_docs = len(nonempty)
        self.sum_dl = sum(nonempty)
        self.avgdl = self.sum_dl / self.n_docs

    def matches(self, terms: list[str]):
        for d, c in self.tfs.items():
            hit = {t: c[t] for t in terms if t in c}
            if hit:
                yield d, hit


def _top(scores: dict[int, float], k: int) -> list[tuple[int, int, float]]:
    ordered = sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:k]
    return [(i + 1, d, s) for i, (d, s) in enumerate(ordered)]


def bm25_plus_topk(ts: TermStats, terms: list[str], k: int = 10,
                   delta: float = 1.0) -> list[tuple[int, int, float]]:
    q = sorted(set(terms))
    df = Counter(t for _, hit in ts.matches(q) for t in hit)
    scores = {}
    for d, hit in ts.matches(q):
        s = 0.0
        for t, tf in hit.items():
            idf = math.log((ts.n_docs + 1.0) / df[t])
            norm = tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * ts.dls[d] / ts.avgdl))
            s += idf * (norm + delta)
        scores[d] = round(s, 6)
    return _top(scores, k)


def lm_dirichlet_topk(ts: TermStats, terms: list[str], k: int = 10,
                      mu: float = 2000.0) -> list[tuple[int, int, float]]:
    q = sorted(set(terms))
    cf = Counter()
    for _, hit in ts.matches(q):
        cf.update(hit)
    scores = {}
    for d, hit in ts.matches(q):
        s = 0.0
        for t, tf in hit.items():
            p = cf[t] / ts.sum_dl
            s += max(math.log(1.0 + tf / (mu * p)) + math.log(mu / (ts.dls[d] + mu)), 0.0)
        scores[d] = round(s, 6)
    return _top(scores, k)


def ranking(rows) -> list[tuple[int, int, float]]:
    """(rank, doc_id, score rounded to 6 places) from Spark result rows."""
    return [(int(r["rank"]), int(r["doc_id"]), round(float(r["score"]), 6)) for r in rows]
