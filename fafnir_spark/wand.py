"""Indexed BM25 top-k: batched DataFrame pipeline + block-max pruning.

Query lifecycle (SURVEY.md §3.3 — the path Elasticsearch owns in the
reference, pinned by tests/tests.rs:208-228):

  parse query set → dictionary lookup (the whole query batch at once — the
  lesson of fafnir's LazyEs msearch batching, /root/reference
  src/lazy_es.rs:87-167: never evaluate queries one at a time) →
  term-filtered posting scan (parquet row-group pruning via the term sort) →
  groupBy(doc_part).applyInPandas: per-shard exact top-k (numpy-vectorized
  decode + score, optional block-max fragment pruning) →
  global merge: window rank over (score desc, doc_id asc), limit k.

Exactness: doc_part partitions documents, so a document's full score is
computed inside exactly one shard; merging per-shard top-k therefore yields
the exact global top-k (the reference's ES does the same per-shard top-k +
coordinator merge, config/fafnir/default.toml:50).

Block-max pruning ("bmw"): per (query, shard) the doc-id axis is cut into
fragments at block boundaries; each fragment's upper bound is the sum of the
covering blocks' score bounds (idf·(k1+1)·max_tf/(max_tf+k1·(1−b+b·min_dl/
avgdl))·max_weight — monotone in tf, anti-monotone in dl, so a true bound).
Fragments are scored exactly in descending-bound order and the scan stops
when the next bound is strictly below the current kth score — Block-Max WAND
(Ding & Suel, SIGIR'11) at block granularity, vectorized inside fragments so
there is no per-document Python loop. Pruning never changes results; tests
assert bmw == exhaustive on every fixture (the analog of fafnir's bbox test
proving filters don't corrupt results, tests/openmaptiles2mimir/mod.rs:371-405).

Per-shard kernel: every indexed entry point (and federate.py) runs the same
steps through one helper each. ``_open`` reads a snapshot's manifest and
stats, ``_idfs``/``_bm25_idf`` turn dictionary dfs into idfs, and
``_per_shard`` is the scan itself: it groups the term-pruned postings by
doc_part and calls ``evaluate(pdf, side_pdf)`` once per shard, cogrouping a
side relation (``_bulk_side``'s bulk tombstones, phrase matches, doc values)
when there is one. Inside a shard, ``_shard_blocks`` turns posting rows into
lazily decoded ``_Block``s, ``_Tombstones`` (with ``union`` for a shard's
bulk slice or must_not ids) scopes exclusion per segment via
``_live_mask``, and ``_exhaustive`` (or ``score_bmw``) scores them. Results
merge through ``_rank_merge`` (per-qid window) or ``_take_top`` (global
orderBy().limit(k)).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .catalog import Catalog
from .codec import delta_decode, f64_decode, varint_decode
from .portable import lit_doubles

RESULT_SCHEMA = "qid string, doc_id long, raw_score double"


@dataclass
class _Block:
    first: int
    last: int
    max_tf: int
    min_dl: int
    max_weight: float
    doc_ids: bytes
    tfs: bytes
    dls: bytes
    weights: bytes
    seg: str = ""
    _decoded: tuple | None = field(default=None, repr=False)

    def decode(self):
        if self._decoded is None:
            ids = delta_decode(self.doc_ids).astype(np.int64)
            ws = f64_decode(self.weights)
            if len(ws) == 0:  # elided all-1.0 weight block
                ws = np.ones(len(ids))
            self._decoded = (
                ids,
                varint_decode(self.tfs).astype(np.float64),
                varint_decode(self.dls).astype(np.float64),
                ws,
            )
        return self._decoded


class _Tombstones:
    """Tombstone set with per-segment scoping (incremental.py semantics):
    keep_seg=None → dead in every segment; keep_seg=s → dead everywhere
    EXCEPT segment s (the stable-id upsert's live version). Driver-small by
    design (compaction drains it); shipped inside UDF closures."""

    def __init__(self, ids, keeps):
        self.ids = np.asarray(ids, dtype=np.int64)
        self.keeps = np.asarray(list(keeps), dtype=object)
        self._cache: dict[str, np.ndarray] = {}

    def __len__(self) -> int:
        return len(self.ids)

    def excluded_for(self, seg: str) -> np.ndarray:
        seg = seg or ""
        if seg not in self._cache:
            self._cache[seg] = np.sort(self.ids[self.keeps != seg])
        return self._cache[seg]

    def union(self, dead) -> _Tombstones:
        """These tombstones plus ``dead`` ids, dead in every segment (a
        shard's slice of the bulk table, must_not or negated-phrase
        matches)."""
        dead = np.asarray(dead, dtype=np.int64)
        return _Tombstones(np.concatenate([self.ids, dead]),
                           [*self.keeps, *[None] * len(dead)])


def _exc_for(excluded, seg: str):
    """Per-segment exclusion array from either form: a flat sorted ndarray
    or a seg-scoped _Tombstones."""
    if isinstance(excluded, _Tombstones):
        return excluded.excluded_for(seg)
    return excluded


def _live_mask(ids: np.ndarray, excluded, seg: str) -> np.ndarray | None:
    """Mask of the ``ids`` (one block of segment ``seg``) that survive
    ``excluded``; None when nothing in the segment is excluded."""
    exc = _exc_for(excluded, seg)
    if exc is None or not len(exc):
        return None
    return ~np.isin(ids, exc)


def _with_side(excluded: _Tombstones, side: pd.DataFrame | None) -> _Tombstones:
    """``excluded`` plus a shard's cogrouped bulk-tombstone slice."""
    if side is None or not len(side):
        return excluded
    return excluded.union(side["doc_id"])


BULK_TOMBSTONE_TABLE = "bulk_tombstones"
_BULK_CLOSURE_LIMIT = 1_000_000


def _snapshot_stats(cat: Catalog, manifest: dict) -> dict:
    """Corpus stats of a snapshot (the manifest copy, or the stats file of
    indexes published before stats moved into the manifest)."""
    return (manifest.get("meta") or {}).get("stats") or cat.read_json("stats")


def _open(index_root: str, snapshot_id: str | None):
    """(catalog, manifest, stats) of one published snapshot."""
    cat = Catalog(index_root)
    manifest = cat.manifest_at(snapshot_id)
    return cat, manifest, _snapshot_stats(cat, manifest)


def _bm25_idf(n_docs, df) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def _dict_rows(spark: SparkSession, cat: Catalog, manifest: dict, terms: list[str]):
    """Dictionary rows (term, df, cf, ...) of ``terms`` — one point lookup
    on the term-sorted dictionary."""
    return cat.read_dictionary(spark, snapshot=manifest).filter(
        F.col("term").isin(terms)).collect()


def _idfs(spark: SparkSession, cat: Catalog, manifest: dict, terms: list[str],
          n_docs) -> dict[str, float]:
    return {r["term"]: _bm25_idf(n_docs, r["df"])
            for r in _dict_rows(spark, cat, manifest, terms)}


def _postings(spark: SparkSession, cat: Catalog, manifest: dict, terms: list[str]) -> DataFrame:
    """The snapshot's posting blocks of ``terms`` (the term predicate
    reaches the term-sorted parquet as a pushed filter)."""
    return cat.read_table(spark, "postings", snapshot=manifest).filter(
        F.col("term").isin(terms))


def _with_doc_part(df: DataFrame, n_parts: int) -> DataFrame:
    """Tags doc-keyed rows with the postings' shard key."""
    return df.withColumn("doc_part", F.pmod(F.col("doc_id"), F.lit(n_parts)).cast("int"))


def _load_bulk_df(spark: SparkSession, cat: Catalog, manifest: dict):
    """DataFrame(doc_id) of mass-delete tombstones, or None. Never
    materialized on the driver — the scale paths (the per-shard cogroup,
    live_doc_map anti-join, compaction anti-join) consume it as a
    relation."""
    if BULK_TOMBSTONE_TABLE not in manifest["tables"]:
        return None
    return cat.read_table(spark, BULK_TOMBSTONE_TABLE, snapshot=manifest).select("doc_id")


def _bulk_side(spark: SparkSession, cat: Catalog, manifest: dict):
    """The bulk-tombstone table keyed by doc_part (the cogroup side of a
    per-shard scan), or None."""
    bulk = _load_bulk_df(spark, cat, manifest)
    if bulk is None:
        return None
    return _with_doc_part(bulk, _snapshot_stats(cat, manifest)["n_parts"])


def _load_tombstones(spark: SparkSession, cat: Catalog, manifest: dict) -> _Tombstones:
    """The snapshot's point tombstones (delete_docs / upsert churn) as a
    _Tombstones, empty when there are none. Bulk mass-deletes never come
    through here: every path consumes that table as a relation (cogrouped
    on doc_part, or anti-joined via live_doc_map). Point tombstones get a
    closure envelope instead — limit+raise, never an unbounded driver
    collect. Compaction drains the table, so the envelope also acts as a
    "you forgot maybe_compact" tripwire."""
    rows = []
    keeps = []
    if "tombstones" in manifest["tables"]:
        df = cat.read_table(spark, "tombstones", snapshot=manifest)
        has_keep = "keep_seg" in df.columns
        trows = df.limit(_BULK_CLOSURE_LIMIT + 1).collect()
        if len(trows) > _BULK_CLOSURE_LIMIT:
            raise ValueError(
                f"point tombstone set exceeds the closure envelope "
                f"({_BULK_CLOSURE_LIMIT}); run compact_with_tombstones / "
                "maybe_compact to drain it before querying"
            )
        rows.extend(int(r["doc_id"]) for r in trows)
        keeps.extend((r["keep_seg"] if has_keep else None) for r in trows)
    return _Tombstones(rows, keeps)


def _shard_blocks(pdf: pd.DataFrame) -> dict[str, list[_Block]]:
    """One shard's posting rows as lazily decoded blocks, by term."""
    by_term: dict[str, list[_Block]] = {}
    for r in pdf.itertuples(index=False):
        by_term.setdefault(r.term, []).append(
            _Block(r.first_doc, r.last_doc, r.max_tf, r.min_dl, r.max_weight,
                   r.doc_ids, r.tfs, r.dls, r.weights, getattr(r, "seg", "") or "")
        )
    return by_term


def _term_ids(blocks: list[_Block], excluded) -> np.ndarray:
    """Sorted unique live doc_ids of one term's blocks."""
    arrs = []
    for blk in blocks:
        ids = blk.decode()[0]
        keep = _live_mask(ids, excluded, blk.seg)
        arrs.append(ids if keep is None else ids[keep])
    if not arrs:
        return np.empty(0, dtype=np.int64)
    return np.unique(np.concatenate(arrs))


def _per_shard(postings: DataFrame, evaluate, schema: str,
               side: DataFrame | None = None, keys=("doc_part",)) -> DataFrame:
    """The per-shard scan every indexed query runs: group the term-pruned
    postings by shard and call ``evaluate(pdf, side_pdf)`` once per shard.
    With a ``side`` relation (bulk tombstones, phrase matches, doc values,
    the live doc set) the shard also receives its own slice of it through
    a cogroup, so that relation never reaches the driver; without one,
    ``side_pdf`` is None. ``evaluate`` must close over plain data only."""
    grouped = postings.groupBy(*keys)
    if side is None:
        def fn(pdf: pd.DataFrame) -> pd.DataFrame:
            return evaluate(pdf, None)

        return grouped.applyInPandas(fn, schema=schema)

    def cofn(pdf: pd.DataFrame, sdf: pd.DataFrame) -> pd.DataFrame:
        return evaluate(pdf, sdf)

    return grouped.cogroup(side.groupBy(*keys)).applyInPandas(cofn, schema=schema)


def _result_frame(parts: list[tuple[str, np.ndarray, np.ndarray]]) -> pd.DataFrame:
    """RESULT_SCHEMA frame of per-query (qid, doc_ids, raw_scores) parts."""
    if not parts:
        return pd.DataFrame({"qid": [], "doc_id": [], "raw_score": []}).astype(
            {"doc_id": np.int64, "raw_score": np.float64}
        )
    return pd.DataFrame({
        "qid": [q for q, ids, _sc in parts for _ in range(len(ids))],
        "doc_id": np.concatenate([ids for _, ids, _ in parts]),
        "raw_score": np.concatenate([sc for _, _, sc in parts]),
    })


def _rank_merge(per_part: DataFrame, k: int, by=("qid",), decimals: int = 6) -> DataFrame:
    """Coordinator merge of per-shard top-k rows: rank each ``by`` group on
    (rounded score desc, doc_id asc) and keep k. (*by, rank, doc_id, score).

    The rank filter becomes a per-group partial limit ahead of the ``by``
    exchange, so at most (groups × per-shard pandas tasks × k) rows reach
    the merge; ``coalesce(1)`` keeps those in one partition, where the final
    (by, rank) sort runs without a range exchange and its sampling job."""
    w = Window.partitionBy(*by).orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return (
        per_part.withColumn("score", F.round(F.col("raw_score"), decimals))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .coalesce(1)
        .select(*by, "rank", "doc_id", "score")
        .orderBy(*by, "rank")
    )


def _no_hits(spark: SparkSession, k: int, decimals: int = 6) -> DataFrame:
    """The (qid, rank, doc_id, score) answer of a query set none of whose
    terms is in the dictionary: the rank merge over a ``WHERE false``
    relation, which the optimizer folds to an empty LocalRelation, so
    collecting it submits no job (``createDataFrame([])`` would run one)."""
    none = spark.sql("SELECT CAST(NULL AS STRING) AS qid, CAST(NULL AS BIGINT) AS doc_id, "
                     "CAST(NULL AS DOUBLE) AS raw_score WHERE false")
    return _rank_merge(none, k, decimals=decimals)


def _take_top(scored: DataFrame, k: int) -> DataFrame:
    """Global top-k of (doc_id, score) rows: orderBy().limit(k)
    (TakeOrderedAndProject), then the rank window over those k rows.
    (rank, doc_id, score)."""
    key = (F.col("score").desc(), F.col("doc_id").asc())
    top = scored.orderBy(*key).limit(k)
    return (top.withColumn("rank", F.row_number().over(Window.orderBy(*key)))
            .select("rank", "doc_id", "score").orderBy("rank"))


def _tfn(tf, dl, k1: float, b: float, avgdl: float):
    return tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))


def _block_ub(blk: _Block, idf: float, k1: float, b: float, avgdl: float) -> float:
    return idf * _tfn(float(blk.max_tf), float(blk.min_dl), k1, b, avgdl) * blk.max_weight


# selection happens on 6-decimal-rounded scores with doc_id tie-break so the
# per-shard cut agrees with the oracle's (round(score,6) desc, doc_id asc)
# ordering — otherwise a raw-score near-tie across the rounding boundary
# could keep a different doc than the rank-identity contract demands.
_ROUND_DECIMALS = 6
_ROUND_EPS = 0.5 * 10.0**-_ROUND_DECIMALS


def _topk_rows(doc_ids: np.ndarray, scores: np.ndarray, k: int):
    """Exact top-k by (round(score,6) desc, doc_id asc); returns raw scores."""
    if len(doc_ids) == 0:
        return doc_ids[:0], scores[:0]
    order = np.lexsort((doc_ids, -np.round(scores, _ROUND_DECIMALS)))[:k]
    return doc_ids[order], scores[order]


def _exhaustive(term_blocks, term_score, k: int, excluded=None,
                included: np.ndarray | None = None):
    """Decode → exclude → accumulate → per-shard top-k over every block of
    ``term_blocks`` ((term, blocks) pairs; a repeated term counts twice).
    A posting contributes ``term_score(term, tfs, dls) * weight``."""
    ids_all, sc_all = [], []
    for term, blocks in term_blocks:
        for blk in blocks:
            ids, tfs, dls, ws = blk.decode()
            if included is not None:
                keep = np.isin(ids, included)
                if not keep.any():
                    continue
                ids, tfs, dls, ws = ids[keep], tfs[keep], dls[keep], ws[keep]
            keep = _live_mask(ids, excluded, blk.seg)
            if keep is not None:
                ids, tfs, dls, ws = ids[keep], tfs[keep], dls[keep], ws[keep]
            ids_all.append(ids)
            sc_all.append(term_score(term, tfs, dls) * ws)
    if not ids_all:
        return np.empty(0, dtype=np.int64), np.empty(0)
    ids = np.concatenate(ids_all)
    sc = np.concatenate(sc_all)
    uids, inv = np.unique(ids, return_inverse=True)
    tot = np.bincount(inv, weights=sc)
    return _topk_rows(uids, tot, k)


def score_exhaustive(
    term_blocks: dict[str, list[_Block]],
    idfs: dict[str, float],
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    excluded: np.ndarray | None = None,
    included: np.ndarray | None = None,
):
    """Decode-everything vectorized BM25 scorer (the correctness baseline).

    ``excluded``: sorted tombstoned doc_ids (or a _Tombstones) dropped
    before accumulation (incremental.delete_docs semantics). ``included``:
    when given, ONLY these doc_ids are scored (phrase-candidate
    restriction) — the filter runs before accumulation so non-candidates
    cost one isin, not a score."""

    def bm25(term, tfs, dls):
        return idfs[term] * _tfn(tfs, dls, k1, b, avgdl)

    return _exhaustive(term_blocks.items(), bm25, k, excluded, included)


def score_bmw(
    term_blocks: dict[str, list[_Block]],
    idfs: dict[str, float],
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    counters: dict | None = None,
    excluded: np.ndarray | None = None,
):
    """Block-max fragment pruning; exact (== score_exhaustive)."""
    blocks: list[_Block] = []
    ubs: list[float] = []
    for term, blist in term_blocks.items():
        for blk in blist:
            blocks.append(blk)
            ubs.append(_block_ub(blk, idfs[term], k1, b, avgdl))
    if not blocks:
        return np.empty(0, dtype=np.int64), np.empty(0)
    firsts = np.array([blk.first for blk in blocks], dtype=np.int64)
    lasts = np.array([blk.last for blk in blocks], dtype=np.int64)
    ub = np.array(ubs)
    term_of_block = np.repeat(
        np.arange(len(term_blocks)),
        [len(v) for v in term_blocks.values()],
    )
    term_list = list(term_blocks.keys())

    # fragment boundaries: any block edge starts/ends a fragment
    bounds = np.unique(np.concatenate([firsts, lasts + 1]))
    frag_lo = bounds[:-1]
    frag_hi = bounds[1:]  # exclusive
    n_frag = len(frag_lo)
    frag_ub = np.zeros(n_frag)
    # covering fragments per block: [searchsorted(first), searchsorted(last+1))
    lo_idx = np.searchsorted(frag_lo, firsts)
    hi_idx = np.searchsorted(frag_lo, lasts + 1)
    for bi in range(len(blocks)):
        frag_ub[lo_idx[bi] : hi_idx[bi]] += ub[bi]

    # pre-flight: hot-term disjunctions (flat Zipf-head bounds) prune
    # almost nothing and then BMW is exhaustive + bookkeeping. A cheap θ
    # proxy — per-doc PARTIAL scores from the highest-bound block are lower
    # bounds of the true scores, so their kth value underestimates θ —
    # decides before the O(Σcoverage) fragment lists are even built.
    bi0 = int(np.argmax(ub))
    ids0, tf0, dl0, w0 = blocks[bi0].decode()
    sc0 = idfs[term_list[term_of_block[bi0]]] * _tfn(tf0, dl0, k1, b, avgdl) * w0
    if len(sc0) >= k:
        theta0 = float(np.round(np.sort(sc0)[-k], _ROUND_DECIMALS))
        if float(np.mean(frag_ub >= theta0 - _ROUND_EPS)) > 0.7:
            if counters is not None:
                counters["blocks_total"] = counters.get("blocks_total", 0) + len(blocks)
                counters["blocks_decoded"] = counters.get("blocks_decoded", 0) + len(blocks)
                counters["bmw_fallback"] = counters.get("bmw_fallback", 0) + 1
            return score_exhaustive(term_blocks, idfs, k, k1, b, avgdl, excluded=excluded)

    order = np.argsort(-frag_ub, kind="stable")
    # per-fragment covering block lists
    frag_blocks: list[list[int]] = [[] for _ in range(n_frag)]
    for bi in range(len(blocks)):
        for fi in range(lo_idx[bi], hi_idx[bi]):
            frag_blocks[fi].append(bi)

    best_ids = np.empty(0, dtype=np.int64)
    best_sc = np.empty(0)
    theta = -math.inf
    decoded = 0

    # fragment results are merged into the top-k pool in BATCHES: one
    # unique/bincount/lexsort per ~many fragments instead of per fragment.
    # Exact (fragments partition the doc-id axis, so a doc occurs in one
    # batch exactly once); θ just updates at flush granularity, trading a
    # little pruning sharpness for ~batch× less per-fragment Python
    # overhead — the term that dominates at millions of docs per part.
    pend_ids: list[np.ndarray] = []
    pend_sc: list[np.ndarray] = []
    pend_rows = 0
    pend_frags = 0

    def _flush():
        nonlocal best_ids, best_sc, theta, pend_ids, pend_sc, pend_rows, pend_frags
        if not pend_ids:
            return
        ids = np.concatenate(pend_ids)
        sc = np.concatenate(pend_sc)
        uids, inv = np.unique(ids, return_inverse=True)
        tot = np.bincount(inv, weights=sc)
        best_ids = np.concatenate([best_ids, uids])
        best_sc = np.concatenate([best_sc, tot])
        best_ids, best_sc = _topk_rows(best_ids, best_sc, k)
        if len(best_ids) >= k:
            theta = float(np.round(best_sc[-1], _ROUND_DECIMALS))
        pend_ids, pend_sc, pend_rows, pend_frags = [], [], 0, 0

    checked_fallback = False
    for fi_pos, fi in enumerate(order):
        if len(best_ids) >= k and frag_ub[fi] < theta - _ROUND_EPS:
            break  # eps guard: a pruned doc may round up into a tie and
            # win on doc_id, so only prune outside the rounding radius
        # adaptive bail-out: once θ exists, check ONCE what fraction of the
        # remaining fragments it can actually prune. Hot-term disjunctions
        # (flat Zipf-head bounds) prune almost nothing, and then BMW is
        # exhaustive + fragment bookkeeping — strictly slower. Falling back
        # is exact, and already-decoded blocks are cached so the partial
        # fragment work is not re-paid at decode level.
        if not checked_fallback and theta > -math.inf:
            checked_fallback = True
            rest = frag_ub[order[fi_pos:]]
            if len(rest) and float(np.mean(rest >= theta - _ROUND_EPS)) > 0.7:
                if counters is not None:
                    counters["blocks_total"] = counters.get("blocks_total", 0) + len(blocks)
                    counters["blocks_decoded"] = counters.get("blocks_decoded", 0) + len(blocks)
                    counters["bmw_fallback"] = counters.get("bmw_fallback", 0) + 1
                return score_exhaustive(
                    term_blocks, idfs, k, k1, b, avgdl, excluded=excluded
                )
        lo, hi = frag_lo[fi], frag_hi[fi]

        # doc-level WAND refinement (Ding & Suel SIGIR'11 pivot logic,
        # vectorized): split the fragment's terms into essential /
        # non-essential by cumulative upper bound. A doc appearing ONLY in
        # non-essential terms has Σub < θ−eps and can never enter the
        # top-k, so (a) candidates are defined by essential-term blocks and
        # (b) a non-essential block is decoded only if a candidate falls in
        # its [first,last] range — hot-term blocks outside candidate
        # ranges are skipped without decoding.
        non_ess: set[int] = set()
        if len(best_ids) >= k and theta > -math.inf:
            tub: dict[int, float] = {}
            for bi in frag_blocks[fi]:
                t = term_of_block[bi]
                tub[t] = max(tub.get(t, 0.0), ub[bi])
            cum = 0.0
            for t in sorted(tub, key=lambda t: tub[t]):
                if cum + tub[t] < theta - _ROUND_EPS:
                    cum += tub[t]
                    non_ess.add(t)
                else:
                    break

        def _seg(bi: int):
            """Decoded (ids, score) of block bi clipped to the fragment."""
            nonlocal decoded
            blk = blocks[bi]
            fresh = blk._decoded is None
            ids, tfs, dls, ws = blk.decode()
            if fresh:
                decoded += 1
            a = np.searchsorted(ids, lo)
            z = np.searchsorted(ids, hi)
            if a == z:
                return None
            seg_ids, seg_tf, seg_dl, seg_w = ids[a:z], tfs[a:z], dls[a:z], ws[a:z]
            exc = _exc_for(excluded, blk.seg)
            if exc is not None and len(exc):
                keep = ~np.isin(seg_ids, exc)
                if not keep.any():
                    return None
                seg_ids, seg_tf, seg_dl, seg_w = (
                    seg_ids[keep], seg_tf[keep], seg_dl[keep], seg_w[keep]
                )
            idf = idfs[term_list[term_of_block[bi]]]
            return seg_ids, idf * _tfn(seg_tf, seg_dl, k1, b, avgdl) * seg_w

        ids_all, sc_all = [], []
        deferred: list[int] = []
        for bi in frag_blocks[fi]:
            if term_of_block[bi] in non_ess:
                deferred.append(bi)
                continue
            seg = _seg(bi)
            if seg is not None:
                ids_all.append(seg[0])
                sc_all.append(seg[1])
        if not ids_all:
            continue  # no essential candidates → whole fragment pruned
        if deferred:
            cand = np.unique(np.concatenate(ids_all))
            for bi in deferred:
                blk = blocks[bi]
                lo2, hi2 = max(blk.first, lo), min(blk.last, hi - 1)
                i = np.searchsorted(cand, lo2)
                if i >= len(cand) or cand[i] > hi2:
                    continue  # no candidate in range → decode skipped
                seg = _seg(bi)
                if seg is None:
                    continue
                # restrict to candidates: a non-candidate's score here
                # would be partial (its other non-essential blocks may be
                # skipped) — and it is provably below θ anyway
                keep = np.isin(seg[0], cand)
                if keep.any():
                    ids_all.append(seg[0][keep])
                    sc_all.append(seg[1][keep])
        pend_ids.extend(ids_all)
        pend_sc.extend(sc_all)
        pend_rows += sum(len(x) for x in ids_all)
        pend_frags += 1
        # flush per fragment until the pool first fills (θ must exist before
        # any pruning can happen — fragments are UB-ordered, so that is
        # fast); afterwards amortize merges over many fragments.
        # rounded kth score after flush: pruning x with ub < theta-eps
        # implies round(x) < theta, so x can never displace the kth
        if len(best_ids) < k or pend_frags >= 64 or pend_rows >= 16384:
            _flush()
    _flush()
    if counters is not None:
        counters["blocks_total"] = counters.get("blocks_total", 0) + len(blocks)
        counters["blocks_decoded"] = counters.get("blocks_decoded", 0) + decoded
    return best_ids, best_sc


def _part_scorer(
    queries: dict[str, list[str]],
    idfs: dict[str, float],
    stats: dict,
    k: int,
    algo: str,
    excluded: _Tombstones,
):
    """Per-shard BM25 top-k of every query (BMW or exhaustive). The side
    slice, when cogrouped, is the shard's bulk-tombstone ids."""
    k1, b, avgdl = stats["k1"], stats["b"], stats["avgdl"]
    scorer = score_bmw if algo == "bmw" else score_exhaustive

    def evaluate(pdf: pd.DataFrame, side: pd.DataFrame | None) -> pd.DataFrame:
        exc = _with_side(excluded, side)
        by_term = _shard_blocks(pdf)
        parts = []
        for qid, terms in queries.items():
            tb = {t: by_term[t] for t in terms if t in by_term}
            if tb:
                parts.append((qid, *scorer(tb, idfs, k, k1, b, avgdl, excluded=exc)))
        return _result_frame(parts)

    return evaluate


PHRASE_SCHEMA = "qid string, doc_id long"


def _phrase_part_fn(phrases: dict[str, list[str]], excluded: _Tombstones, slop: int = 0):
    """Per-doc_part exact phrase matching over positional postings.
    With ``slop`` > 0 (2-term phrases only, enforced by the caller) the
    adjacency test relaxes to the ordered within-window contract of
    query_ext.phrase_slop — ∃ p1 < p2 with p2 − p1 − 1 ≤ slop — verified
    vectorized: both occurrence sets become sorted composite keys
    (cand_idx·2³² + position) and one searchsorted per pair finds, for
    every t1 occurrence, the next t2 key inside (k1, k1+slop+1] (the
    window never crosses a cand boundary: position + slop + 1 < 2³²).

    Tombstone exclusion is applied per BLOCK (seg-scoped): an upserted doc's
    old-segment positions are dropped while its keep_seg version survives,
    so the merged per-term arrays never contain duplicate doc_ids. The side
    slice, when cogrouped, is the shard's bulk-tombstone ids."""
    from .codec import positions_decode

    def run(pdf: pd.DataFrame, side: pd.DataFrame | None) -> pd.DataFrame:
        exc_all = _with_side(excluded, side)
        # decode per-term posting arrays (ids, tfs, positions) for the part
        per_term: dict[str, tuple] = {}
        for term, grp in pdf.groupby("term"):
            ids_l, pos_l = [], []
            for r in grp.sort_values(["block_id"]).itertuples(index=False):
                ids = delta_decode(r.doc_ids).astype(np.int64)
                plists = positions_decode(r.positions, varint_decode(r.tfs))
                keep = _live_mask(ids, exc_all, getattr(r, "seg", "") or "")
                if keep is not None and not keep.all():
                    ids = ids[keep]
                    plists = [p for p, k in zip(plists, keep) if k]
                ids_l.append(ids)
                pos_l.extend(plists)
            ids = np.concatenate(ids_l)
            order = np.argsort(ids, kind="mergesort")
            per_term[term] = (
                ids[order],
                [pos_l[i] for i in order],
            )
        # adjacency is verified VECTORIZED across all candidate docs at once:
        # occurrences become composite keys cand_idx*2^32 + position (dl is
        # int32 so positions < 2^32), one np.isin per phrase term — no
        # per-candidate Python loop, so a stop-word phrase costs O(postings),
        # not O(candidates) interpreter round-trips.
        SHIFT = np.int64(1) << np.int64(32)
        out_qid, out_doc = [], []
        for qid, terms in phrases.items():
            if any(t not in per_term for t in terms):
                continue
            cand = per_term[terms[0]][0]
            for t in terms[1:]:
                cand = cand[np.isin(cand, per_term[t][0])]
            if not len(cand):
                continue

            def term_keys(t: str, offset: int) -> tuple[np.ndarray, np.ndarray]:
                """(cand_idx, key) of every occurrence of t in candidate
                docs, key = cand_idx*SHIFT + position - offset."""
                ids_t, pos_t = per_term[t]
                idx = np.searchsorted(ids_t, cand)
                plists = [pos_t[j].astype(np.int64) for j in idx]
                ci = np.repeat(
                    np.arange(len(cand), dtype=np.int64), [len(p) for p in plists]
                )
                pos = np.concatenate(plists) if plists else np.empty(0, dtype=np.int64)
                return ci, ci * SHIFT + pos - np.int64(offset)

            if slop > 0:
                ci1, keys1 = term_keys(terms[0], 0)
                _, keys2 = term_keys(terms[1], 0)
                if not len(keys2):
                    continue
                keys2 = np.sort(keys2)
                idx = np.searchsorted(keys2, keys1, side="right")
                ok = idx < len(keys2)
                nxt = keys2[np.minimum(idx, len(keys2) - 1)]
                ok &= nxt <= keys1 + np.int64(slop + 1)
                ok_ci = ci1[ok]
            else:
                ok_ci, ok_keys = term_keys(terms[0], 0)
                for i, t in enumerate(terms[1:], 1):
                    _, keys_t = term_keys(t, i)
                    keep = np.isin(ok_keys, keys_t)
                    ok_ci, ok_keys = ok_ci[keep], ok_keys[keep]
                    if not len(ok_ci):
                        break
            if len(ok_ci):
                hits = cand[np.unique(ok_ci)]
                out_qid.extend([qid] * len(hits))
                out_doc.extend(int(d) for d in hits)
        return pd.DataFrame({"qid": out_qid, "doc_id": np.array(out_doc, dtype=np.int64)})

    return run


def _phrase_score_fn(
    queries: dict[str, list[str]],
    idfs: dict[str, float],
    stats: dict,
    k: int,
    excluded: _Tombstones,
):
    """Cogrouped scorer: (postings of one doc_part) × (phrase matches of the
    same part) → BM25 scores of ONLY the matched docs, per-shard top-k.

    ``excluded`` (seg-scoped tombstones) is threaded into score_exhaustive:
    after a stable-id upsert the live doc_id also appears in the OLD
    segment's posting blocks, so without exclusion the stale tf/dl would be
    summed into the phrase score."""
    k1, b, avgdl = stats["k1"], stats["b"], stats["avgdl"]

    def evaluate(pdf: pd.DataFrame, mdf: pd.DataFrame) -> pd.DataFrame:
        if not len(pdf) or not len(mdf):
            return _result_frame([])
        by_term = _shard_blocks(pdf)
        parts = []
        for qid, terms in queries.items():
            inc = np.sort(mdf.loc[mdf["qid"] == qid, "doc_id"].to_numpy(dtype=np.int64))
            tb = {t: by_term[t] for t in terms if t in by_term}
            if len(inc) and tb:
                parts.append((qid, *score_exhaustive(
                    tb, idfs, k, k1, b, avgdl, included=inc, excluded=excluded)))
        return _result_frame(parts)

    return evaluate


def phrase_bm25(
    spark: SparkSession,
    index_root: str,
    phrases: dict[str, list[str]],
    k: int = 10,
    snapshot_id: str | None = None,
) -> DataFrame:
    """Scored phrase query: exact phrase matches (positional adjacency)
    ranked by the BM25 score of the phrase's terms — ES match_phrase
    semantics. (qid, rank, doc_id, score).

    Scale shape: phrase matches are cogrouped with the postings on
    doc_part, so ONLY matched docs are ever scored (no score-everything
    pass) and per-shard top-k keeps the global merge at k rows per shard —
    a doc's whole score lives in one shard, so the merge is exact."""
    cat, manifest, stats = _open(index_root, snapshot_id)
    matches = _with_doc_part(phrase_search(spark, index_root, phrases, snapshot_id),
                             stats["n_parts"])
    all_terms = sorted({t for ts in phrases.values() for t in ts})
    idfs = _idfs(spark, cat, manifest, all_terms, stats["n_docs"])
    postings = _postings(spark, cat, manifest, [t for t in all_terms if t in idfs])
    # only point tombstones here (seg-scoped upsert staleness): bulk-dead
    # docs are already excluded relationally in phrase_search's match stage,
    # and the scorer's `included` restriction means a doc absent from the
    # matches is never scored — so bulk never needs to enter this closure.
    excluded = _load_tombstones(spark, cat, manifest)
    per_part = _per_shard(postings, _phrase_score_fn(phrases, idfs, stats, k, excluded),
                          RESULT_SCHEMA, side=matches)
    return _rank_merge(per_part, k)


def phrase_search(
    spark: SparkSession,
    index_root: str,
    phrases: dict[str, list[str]],
    snapshot_id: str | None = None,
    slop: int = 0,
) -> DataFrame:
    """Exact indexed phrase queries over positional postings (build with
    with_positions=True). Returns (qid, doc_id). Adjacency is verified from
    stored token positions — no text recheck, no raw-document access.
    ``slop`` > 0 relaxes to the ordered within-window contract of
    query_ext.phrase_slop (2-term phrases only) — ES match_phrase slop
    served FROM the index."""
    if slop > 0 and any(len(ts) != 2 for ts in phrases.values()):
        raise ValueError("slop > 0 supports 2-term phrases (the documented "
                         "ordered-window contract)")
    cat = Catalog(index_root)
    manifest = cat.manifest_at(snapshot_id)
    all_terms = sorted({t for ts in phrases.values() for t in ts})
    postings = _postings(spark, cat, manifest, all_terms)
    if "positions" not in postings.columns:
        raise ValueError("index lacks positions; build with with_positions=True")
    # point tombstones stay in the (driver-small) closure; bulk mass-delete
    # tombstones are a RELATION, cogrouped on doc_part so each shard receives
    # only its own dead ids — no closure envelope on the phrase path.
    excluded = _load_tombstones(spark, cat, manifest)
    return _per_shard(postings, _phrase_part_fn(phrases, excluded, slop=slop),
                      PHRASE_SCHEMA, side=_bulk_side(spark, cat, manifest)
                      ).orderBy("qid", "doc_id")


MATCH_SCHEMA = "doc_id long"


def _match_ids_fn(terms: list[str], tombs: _Tombstones):
    """Per-doc_part disjunctive match: unique live doc_ids containing >=1
    of ``terms`` (per-block seg-scoped tombstone exclusion)."""
    want = set(terms)

    def evaluate(pdf: pd.DataFrame, _side) -> pd.DataFrame:
        arrs = []
        for r in pdf.itertuples(index=False):
            if r.term not in want:
                continue
            ids = delta_decode(r.doc_ids).astype(np.int64)
            keep = _live_mask(ids, tombs, getattr(r, "seg", "") or "")
            arrs.append(ids if keep is None else ids[keep])
        if not arrs:
            return pd.DataFrame({"doc_id": np.empty(0, dtype=np.int64)})
        return pd.DataFrame({"doc_id": np.unique(np.concatenate(arrs))})

    return evaluate


def _matched_ids(spark: SparkSession, cat: Catalog, manifest: dict,
                 terms: list[str]) -> DataFrame:
    """(doc_id) of docs holding any of ``terms``, point tombstones applied
    at decode. Bulk-dead ids are left for the caller's live_doc_map join."""
    terms = sorted(set(terms))
    postings = _postings(spark, cat, manifest, terms)
    return _per_shard(postings, _match_ids_fn(terms, _load_tombstones(spark, cat, manifest)),
                      MATCH_SCHEMA)


def facet_counts_indexed(
    spark: SparkSession,
    index_root: str,
    terms: list[str],
    facet_cols: list[str],
    snapshot_id: str | None = None,
) -> DataFrame:
    """ES facet aggregation served FROM the index: the disjunctive match
    set comes from term-pruned posting blocks (per-shard decode, ids only),
    facet values from the live doc_map — no raw-text access. (facet,
    value, n), identical to query_ext.facet_counts."""
    cat = Catalog(index_root)
    manifest = cat.manifest_at(snapshot_id)
    # bulk mass-deletes need no closure here: live_doc_map anti-joins the
    # bulk table, so the semi-join below drops bulk-dead match ids
    # relationally. Only point tombstones enter the decode closure.
    matched = _matched_ids(spark, cat, manifest, terms)
    dm = cat.live_doc_map(spark, manifest)
    joined = dm.join(matched, "doc_id", "left_semi")
    out = None
    for c in facet_cols:
        f = joined.groupBy(F.col(c).cast("string").alias("value")).agg(
            F.count(F.lit(1)).alias("n")
        ).select(F.lit(c).alias("facet"), "value", "n")
        out = f if out is None else out.unionByName(f)
    return out.orderBy("facet", "value")


def _bool_part_fn(queries: dict[str, dict], idfs: dict[str, float], stats: dict, k: int,
                  tombs: _Tombstones, n_pos: dict[str, int] | None = None):
    """Per-shard ES bool evaluation from posting blocks: must terms
    intersect (vectorized), must_not terms exclude, must+should terms
    score; per-shard exact top-k (a doc's postings live in ONE shard, so
    the intersection and the merge are both exact).

    The cogrouped side slice holds rows (qid, doc_id, kind): kind 'b' rows
    are the shard's bulk-tombstone ids, excluded for every query; with
    ``n_pos`` (qid → number of required positive phrases) kind 'p' rows
    must cover all n_pos[qid] phrases for a doc to qualify, and kind 'n'
    rows (negated phrases) exclude. Matched ids never ship to the driver;
    a doc's phrase matches live in the SAME shard as its postings, so the
    intersection is exact."""
    k1, b, avgdl = stats["k1"], stats["b"], stats["avgdl"]
    n_pos = n_pos or {}

    def evaluate(pdf: pd.DataFrame, mdf: pd.DataFrame | None) -> pd.DataFrame:
        if mdf is None or not len(mdf):
            mdf = pd.DataFrame({"qid": [], "doc_id": [], "kind": []})
        eff_tombs = _with_side(tombs, mdf[mdf["kind"] == "b"])
        by_term = _shard_blocks(pdf)

        def match_ids(qid: str, kind: str) -> np.ndarray:
            sub = mdf[(mdf["qid"] == qid) & (mdf["kind"] == kind)]
            return sub["doc_id"].to_numpy(dtype=np.int64)

        parts = []
        for qid, spec in queries.items():
            must = sorted(set(spec.get("must") or []))
            should = sorted(set(spec.get("should") or []))
            must_not = sorted(set(spec.get("must_not") or []))
            # filter context: required for candidacy, never scored
            filt = sorted(set(spec.get("filter") or []))
            tb = {t: by_term[t] for t in sorted(set(must + should)) if t in by_term}
            if not tb:
                continue
            inc = None
            if n_pos.get(qid):
                # positive phrase gate: a doc qualifies iff it matched ALL
                # n_pos[qid] phrases (one unique match row per phrase)
                uniq, counts = np.unique(match_ids(qid, "p"), return_counts=True)
                inc = uniq[counts >= n_pos[qid]]
                if not len(inc):
                    continue
            satisfiable = True
            for t in must + filt:
                ids_t = _term_ids(by_term.get(t, []), eff_tombs)
                if not len(ids_t):
                    satisfiable = False
                    break
                inc = ids_t if inc is None else inc[np.isin(inc, ids_t)]
            if not satisfiable or (inc is not None and not len(inc)):
                continue
            extra_exc = [np.unique(match_ids(qid, "n"))]
            extra_exc.extend(_term_ids(by_term.get(t, []), eff_tombs) for t in must_not)
            extra_exc = [a for a in extra_exc if len(a)]
            excluded = eff_tombs
            if extra_exc:
                extra = np.unique(np.concatenate(extra_exc))
                if inc is not None:
                    inc = inc[~np.isin(inc, extra)]  # fold into candidates
                    if not len(inc):
                        continue
                else:
                    excluded = eff_tombs.union(extra)
            parts.append((qid, *score_exhaustive(tb, idfs, k, k1, b, avgdl,
                                                 excluded=excluded, included=inc)))
        return _result_frame(parts)

    return evaluate


def _bool_terms(queries: dict[str, dict]) -> tuple[list[str], list[str]]:
    """(every term a bool query set reads, the scored must+should terms)."""
    def terms(keys):
        return sorted({t for spec in queries.values() for key in keys
                       for t in (spec.get(key) or [])})

    return terms(("must", "should", "must_not", "filter")), terms(("must", "should"))


def bool_search(
    spark: SparkSession,
    index_root: str,
    queries: dict[str, dict],
    k: int = 10,
    snapshot_id: str | None = None,
    matches: DataFrame | None = None,
    n_pos: dict[str, int] | None = None,
    boosts: dict[str, float] | None = None,
) -> DataFrame:
    """ES bool-query DSL served FROM THE INDEX: ``queries`` maps qid →
    {"must": [...], "should": [...], "must_not": [...]}. must terms all
    required (posting intersection per shard), must_not excludes, scored
    terms = must+should with corpus BM25 stats — identical results to the
    direct query_ext.bool_bm25. (qid, rank, doc_id, score).

    ``matches`` (qid, doc_id, kind) + ``n_pos`` (qid → #positive phrases)
    gate eligibility by phrase matches, cogrouped with the postings on
    doc_part — match ids never ship to the driver (the phrase_bm25
    cogroup pattern, no size ceiling)."""
    cat, manifest, stats = _open(index_root, snapshot_id)
    all_terms, scored_terms = _bool_terms(queries)
    idfs = _idfs(spark, cat, manifest, scored_terms, stats["n_docs"])
    if boosts:
        # term^boost multiplies the term's score contribution — and since
        # score = Σ idf·tfn·w, pre-multiplying the idf IS the boost (no
        # change to the scorer, bounds stay conservative for BMW)
        idfs = {t: v * float(boosts.get(t, 1.0)) for t, v in idfs.items()}
    postings = _postings(spark, cat, manifest, all_terms)
    # point tombstones in the closure (driver-small by design); the bulk
    # mass-delete table joins the phrase-match cogroup side as kind 'b'
    # rows, so each shard receives only its own dead ids — no envelope.
    tombs = _load_tombstones(spark, cat, manifest)
    side = matches
    bulk = _load_bulk_df(spark, cat, manifest)
    if bulk is not None:
        bdf = bulk.select(F.lit("*").alias("qid"), "doc_id", F.lit("b").alias("kind"))
        side = bdf if side is None else side.unionByName(bdf)
    if side is not None:
        side = _with_doc_part(side, stats["n_parts"])
    per_part = _per_shard(postings, _bool_part_fn(queries, idfs, stats, k, tombs, n_pos),
                          RESULT_SCHEMA, side=side)
    return _rank_merge(per_part, k)


def _sqs_part_fn(groups: list[dict], idfs: dict[str, float], stats: dict,
                 k: int, tombs: _Tombstones):
    """Per-shard simple_query_string evaluation: each OR-group's eligible
    set is a posting intersection minus its negations; a doc's score sums
    the POS-term partials of every group it matches (the Lucene
    bool-of-bools sum, exact per shard because a doc's postings live in
    one shard). Per-shard exact top-k on rounded scores. The side slice,
    when cogrouped, is the shard's bulk-tombstone ids."""
    k1, b, avgdl = stats["k1"], stats["b"], stats["avgdl"]

    def evaluate(pdf: pd.DataFrame, side: pd.DataFrame | None) -> pd.DataFrame:
        eff_tombs = _with_side(tombs, side)
        by_term = _shard_blocks(pdf)
        parts_ids, parts_sc = [], []
        for g in groups:
            inc, ok = None, True
            for t in g["pos"]:
                ids_t = _term_ids(by_term.get(t, []), eff_tombs)
                if not len(ids_t):
                    ok = False
                    break
                inc = ids_t if inc is None else inc[np.isin(inc, ids_t)]
            if not ok or inc is None or not len(inc):
                continue
            for t in g["neg"]:
                ids_t = _term_ids(by_term.get(t, []), eff_tombs)
                if len(ids_t):
                    inc = inc[~np.isin(inc, ids_t)]
            if not len(inc):
                continue
            tb = {t: by_term[t] for t in g["pos"] if t in by_term}
            ids, sc = score_exhaustive(tb, idfs, len(inc), k1, b, avgdl,
                                       excluded=eff_tombs, included=inc)
            parts_ids.append(ids)
            parts_sc.append(sc)
        if not parts_ids:
            return _result_frame([])
        uids, inv = np.unique(np.concatenate(parts_ids), return_inverse=True)
        tot = np.bincount(inv, weights=np.concatenate(parts_sc))
        return _result_frame([("q", *_topk_rows(uids, tot, k))])

    return evaluate


def sqs_search(
    spark: SparkSession,
    index_root: str,
    q: str,
    k: int = 10,
    snapshot_id: str | None = None,
) -> DataFrame:
    """ES simple_query_string served FROM the index — the scale-path twin
    of query_ext.simple_query_string_bm25 (same grammar, same oracle):
    per-shard OR-of-AND group evaluation over posting blocks, bulk
    deletes cogrouped per shard (the run_queries pattern), global merge
    over <= k x n_parts candidates. (rank, doc_id, score)."""
    from .query_ext import parse_simple_query_string

    groups = parse_simple_query_string(q)
    cat, manifest, stats = _open(index_root, snapshot_id)
    all_terms = sorted({t for g in groups for t in g["pos"] + g["neg"]})
    scored = sorted({t for g in groups for t in g["pos"]})
    idfs = _idfs(spark, cat, manifest, scored, stats["n_docs"])
    postings = _postings(spark, cat, manifest, all_terms)
    tombs = _load_tombstones(spark, cat, manifest)
    per_part = _per_shard(postings, _sqs_part_fn(groups, idfs, stats, k, tombs),
                          RESULT_SCHEMA, side=_bulk_side(spark, cat, manifest))
    return _rank_merge(per_part, k, by=())


def search_text_indexed(
    spark: SparkSession,
    index_root: str,
    query: str,
    k: int = 10,
    snapshot_id: str | None = None,
) -> DataFrame:
    """query_string (query_ext.parse_query grammar) served FROM the index:
    prefixes expand against the dictionary (term-sorted row-group scan),
    field filters are unscored filter-context clauses (requires a token-bag
    index, with_field_tokens at build), phrases — including negated
    ``-"a b"`` — are resolved from positional postings and COGROUPED with
    the postings on doc_part (the phrase_bm25 pattern): matched ids never
    ship to the driver, so a stop-word phrase over 10^9 docs streams
    through the same shuffle as the postings. (rank, doc_id, score)."""
    from .query_ext import parse_query

    spec = parse_query(query)
    should = sorted(set(spec["should"]))
    for p in sorted(set(spec["prefixes"])):
        should = sorted(set(should) | set(
            expand_prefix_indexed(spark, index_root, p, snapshot_id)))
    matches: DataFrame | None = None
    n_pos: dict[str, int] | None = None
    gates = 0
    pos, neg = spec["phrases"], spec["neg_phrases"]
    if pos or neg:
        named = {f"p{i}": ph for i, ph in enumerate(pos)}
        named.update({f"n{i}": ph for i, ph in enumerate(neg)})
        m = phrase_search(spark, index_root, named, snapshot_id)
        matches = m.withColumn(
            "kind",
            F.when(F.col("qid").startswith("p"), F.lit("p")).otherwise(F.lit("n")),
        ).select(F.lit("q").alias("qid"), "doc_id", "kind")
        gates = len(pos)
    if spec.get("ranges"):
        # numeric ranges are served from doc-value columns in doc_map (one
        # pruned-column scan); eligible ids join the phrase-match cogroup
        # side as ONE extra positive gate — never collected to the driver.
        cat = Catalog(index_root)
        manifest = cat.manifest_at(snapshot_id)
        dm = cat.live_doc_map(spark, manifest)
        missing = [f for f, _, _ in spec["ranges"] if f not in dm.columns]
        if missing:
            raise ValueError(
                f"index doc_map lacks doc-value column(s) {missing}; "
                "rebuild with them present in the corpus (META_COLS)"
            )
        cond = None
        for fld, lo, hi in spec["ranges"]:
            c = (F.col(fld) >= F.lit(lo)) & (F.col(fld) <= F.lit(hi))
            cond = c if cond is None else (cond & c)
        rng = dm.filter(cond).select(
            F.lit("q").alias("qid"), "doc_id", F.lit("p").alias("kind")
        )
        matches = rng if matches is None else matches.unionByName(rng)
        gates += 1
    if matches is not None:
        n_pos = {"q": gates}
    res = bool_search(
        spark, index_root,
        {"q": {"must": spec["must"], "should": should,
               "must_not": spec["must_not"], "filter": spec["filters"]}},
        k=k, snapshot_id=snapshot_id, matches=matches, n_pos=n_pos,
        boosts=spec.get("boosts") or None,
    )
    return res.select("rank", "doc_id", "score")


class Searcher:
    """Long-lived query handle over one published snapshot.

    Caches stats, term→df lookups, and (optionally persisted) postings so
    repeated query batches skip the per-batch dictionary job — the ES
    client-session analog. Use for interactive / many-batch workloads;
    one-shot callers can keep using run_queries().
    """

    def __init__(
        self,
        spark: SparkSession,
        index_root: str,
        snapshot_id: str | None = None,
        persist_postings: bool = False,
    ):
        self.spark = spark
        self.index_root = index_root
        self.cat, self.manifest, self.stats = _open(index_root, snapshot_id)
        self._dfs: dict[str, int] = {}
        self._missing: set[str] = set()
        self._postings = self.cat.read_table(spark, "postings", snapshot=self.manifest)
        self._persisted = persist_postings
        if persist_postings:
            self._postings = self._postings.persist()
        # point tombstones in the closure; bulk mass-deletes stay a relation
        # (cogrouped per search call) — same split as run_queries.
        self._excluded = _load_tombstones(spark, self.cat, self.manifest)
        self._bulk = _bulk_side(spark, self.cat, self.manifest)

    def _idfs(self, terms: list[str]) -> dict[str, float]:
        unknown = [t for t in terms if t not in self._dfs and t not in self._missing]
        if unknown:
            rows = _dict_rows(self.spark, self.cat, self.manifest, unknown)
            for r in rows:
                self._dfs[r["term"]] = r["df"]
            self._missing.update(set(unknown) - {r["term"] for r in rows})
        n = self.stats["n_docs"]
        return {t: _bm25_idf(n, self._dfs[t]) for t in terms if t in self._dfs}

    def search(self, queries: dict[str, list[str]], k: int = 10, algo: str = "bmw") -> DataFrame:
        all_terms = sorted({t for ts in queries.values() for t in ts})
        idfs = self._idfs(all_terms)
        present = [t for t in all_terms if t in idfs]
        if not present:
            return _no_hits(self.spark, k)
        postings = self._postings.filter(F.col("term").isin(present))
        per_part = _per_shard(
            postings, _part_scorer(queries, idfs, self.stats, k, algo, self._excluded),
            RESULT_SCHEMA, side=self._bulk)
        return _rank_merge(per_part, k)

    def search_bool(self, queries: dict[str, dict], k: int = 10) -> DataFrame:
        """Bool-DSL search over the cached snapshot (see bool_search);
        ``queries``: qid → {must, should, must_not, filter}."""
        all_terms, scored_terms = _bool_terms(queries)
        idfs = self._idfs(scored_terms)
        postings = self._postings.filter(F.col("term").isin(all_terms))
        side = None
        if self._bulk is not None:
            side = self._bulk.select(
                F.lit("*").alias("qid"), "doc_id",
                F.lit("b").alias("kind"), "doc_part",
            )
        per_part = _per_shard(
            postings, _bool_part_fn(queries, idfs, self.stats, k, self._excluded),
            RESULT_SCHEMA, side=side)
        return _rank_merge(per_part, k)

    def close(self) -> None:
        if self._persisted:
            self._postings.unpersist()


def attach_doc_meta(
    spark: SparkSession, index_root: str, results: DataFrame, snapshot_id: str | None = None
) -> DataFrame:
    """Join search results back to document metadata (repo/path/... from
    doc_map) — the user-facing result page (fafnir's documents carry their
    label/address payload, tests/tests.rs:222-227). Broadcast the small
    result side, never shuffle doc_map."""
    cat = Catalog(index_root)
    manifest = cat.manifest_at(snapshot_id)
    # tombstone-aware: after a stable-id upsert exactly one live doc_map row
    # exists per id, so the join never fans out
    dm = cat.live_doc_map(spark, manifest).drop("doc_part", "weight", "seg")
    return dm.join(F.broadcast(results), "doc_id").select(
        *results.columns, *[c for c in dm.columns if c != "doc_id"]
    )


def mget_indexed(
    spark: SparkSession, index_root: str, ids: list[int],
    snapshot_id: str | None = None,
) -> DataFrame:
    """ES _mget: point-fetch documents by id from the published index —
    a doc_map doc-values read (postings untouched), tombstone-aware via
    live_doc_map, one row per REQUESTED id with found=false for
    missing/deleted ids (the ES reply shape, docs unordered here: sorted
    by doc_id). Scale shape: the isin filter prunes doc_map row groups
    (point lookups reach PushedFilters); the ≤|ids| hit set is broadcast
    back onto the tiny request relation, so nothing but the pruned scan
    scales with corpus size. (fafnir doc-lookup precedent:
    /root/reference tests/tests.rs:222-227.)"""
    cat = Catalog(index_root)
    manifest = cat.manifest_at(snapshot_id)
    want = sorted({int(i) for i in ids})
    req = spark.createDataFrame([(i,) for i in want], "doc_id long")
    dm = cat.live_doc_map(spark, manifest).drop("doc_part", "weight", "seg")
    hits = dm.filter(F.col("doc_id").isin(want)).withColumn("__f", F.lit(True))
    meta = [c for c in dm.columns if c != "doc_id"]
    return (
        req.join(F.broadcast(hits), "doc_id", "left")
        .select("doc_id", F.coalesce(F.col("__f"), F.lit(False)).alias("found"),
                *meta)
        .orderBy("doc_id")
    )


def expand_prefix_indexed(
    spark: SparkSession, index_root: str, prefix: str,
    snapshot_id: str | None = None,
) -> list[str]:
    """Dictionary prefix scan on the published index — the term dictionary
    is term-sorted parquet, so `startswith` prunes row groups. With
    ``snapshot_id`` the expansion uses THAT snapshot's vocabulary, so a
    time-travel query never mixes current terms with snapshot postings.
    Bounded by query_ext.MAX_EXPANSIONS (raises on overflow)."""
    from .query_ext import _collect_expansion

    cat = Catalog(index_root)
    return _collect_expansion(
        cat.read_dictionary(spark, snapshot=cat.manifest_at(snapshot_id))
        .filter(F.col("term").startswith(prefix)),
        f"prefix {prefix!r}",
    )


def expand_regexp_indexed(
    spark: SparkSession, index_root: str, pattern: str,
    snapshot_id: str | None = None,
) -> list[str]:
    """ES regexp-query expansion served FROM the published dictionary
    (anchored full-term match, same contract as query_ext.expand_regexp) —
    vocabulary-sized scan, no corpus access, snapshot-scoped like
    expand_prefix_indexed."""
    from .query_ext import _collect_expansion

    cat = Catalog(index_root)
    return _collect_expansion(
        cat.read_dictionary(spark, snapshot=cat.manifest_at(snapshot_id))
        .filter(F.col("term").rlike(f"^(?:{pattern})$")),
        f"regexp {pattern!r}",
    )


def run_queries(
    spark: SparkSession,
    index_root: str,
    queries: dict[str, list[str]],
    k: int = 10,
    algo: str = "bmw",
    score_decimals: int = 6,
    snapshot_id: str | None = None,
) -> DataFrame:
    """Evaluate the whole query set in one DataFrame pass.

    Returns (qid, rank, doc_id, score) — the engine's search_documents
    (/root/reference tests/tests.rs:214-221). ``snapshot_id`` queries a
    past published snapshot (Iceberg time travel; segments are immutable).
    """
    cat, manifest, stats = _open(index_root, snapshot_id)
    all_terms = sorted({t for ts in queries.values() for t in ts})
    idfs = _idfs(spark, cat, manifest, all_terms, stats["n_docs"])
    present = [t for t in all_terms if t in idfs]
    if not present:
        return _no_hits(spark, k, score_decimals)
    postings = _postings(spark, cat, manifest, present)
    # tombstones (incremental deletes/upserts): filtered at decode time,
    # ES-style, scoped per segment (stable-id upsert keeps one live version).
    # Bulk (mass-delete) tombstones stay a RELATION: cogrouped with the
    # postings on doc_part so each shard receives only its own dead ids —
    # a GDPR-scale purge never materializes on the driver.
    excluded = _load_tombstones(spark, cat, manifest)
    per_part = _per_shard(postings, _part_scorer(queries, idfs, stats, k, algo, excluded),
                          RESULT_SCHEMA, side=_bulk_side(spark, cat, manifest))
    return _rank_merge(per_part, k, decimals=score_decimals)


def index_stats(spark: SparkSession, index_root: str,
                snapshot_id: str | None = None) -> DataFrame:
    """The engine's _cat/indices analog served from index metadata alone:
    (n_docs, n_terms, n_postings, n_tokens) — one dictionary aggregation,
    no postings decode, no corpus access. n_postings = Σdf (one posting
    per (term, doc)), n_tokens = Σcf."""
    cat, manifest, stats = _open(index_root, snapshot_id)
    d = cat.read_dictionary(spark, snapshot=manifest)
    return (
        d.agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.sum("df").cast("long").alias("n_postings"),
            F.sum("cf").cast("long").alias("n_tokens"),
        )
        .withColumn("n_docs", F.lit(int(stats["n_docs"])).cast("long"))
        .select("n_docs", "n_terms", "n_postings", "n_tokens")
    )


def search_after_indexed(
    spark: SparkSession,
    index_root: str,
    terms: list[str],
    cursor: tuple[float, int],
    k: int = 10,
    snapshot_id: str | None = None,
) -> DataFrame:
    """Keyset pagination served FROM the index: the page of ``k`` results
    strictly after ``cursor`` = (rounded score, doc_id) in the rank order.
    The cursor mask is applied INSIDE each shard between scoring and
    selection, so per-shard output stays k rows and deep pages never
    re-rank the whole result set (the ES search_after contract).

    Scoring is exhaustive per shard (decode-everything): BMW's pruning
    threshold is keyed to the kth-best score, which the cursor shifts —
    seeding θ from the cursor is the documented optimization path; the
    exhaustive form is exact at any depth. (rank, doc_id, score)."""
    cat, manifest, stats = _open(index_root, snapshot_id)
    qterms = sorted(set(terms))
    idfs = _idfs(spark, cat, manifest, qterms, stats["n_docs"])
    present = [t for t in qterms if t in idfs]
    postings = _postings(spark, cat, manifest, present)
    excluded = _load_tombstones(spark, cat, manifest)
    cs, cd = float(cursor[0]), int(cursor[1])
    k1, b, avgdl = stats["k1"], stats["b"], stats["avgdl"]

    def evaluate(pdf: pd.DataFrame, side: pd.DataFrame | None) -> pd.DataFrame:
        by_term = _shard_blocks(pdf)
        tb = {t: by_term[t] for t in present if t in by_term}
        if not tb:
            return _result_frame([])
        ids, sc = score_exhaustive(tb, idfs, 1 << 31, k1, b, avgdl,
                                   excluded=_with_side(excluded, side))
        rs = np.round(sc, _ROUND_DECIMALS)
        keep = (rs < cs) | ((rs == cs) & (ids > cd))
        return _result_frame([("q", *_topk_rows(ids[keep], sc[keep], k))])

    per_part = _per_shard(postings, evaluate, RESULT_SCHEMA,
                          side=_bulk_side(spark, cat, manifest))
    return _take_top(per_part.withColumn("score", F.round(F.col("raw_score"), 6)), k)


def search_alias(
    spark: SparkSession,
    index_root: str,
    alias: str,
    queries: dict[str, list[str]],
    k: int = 10,
    snapshot_id: str | None = None,
) -> DataFrame:
    """ES filtered alias: every query routed through ``alias`` gains the
    alias's stored filter terms as an unscored filter-context clause
    (bool_search's existing filter machinery — per-shard posting
    intersection, BM25 statistics unchanged). (qid, rank, doc_id, score)."""
    from .catalog import get_alias

    spec = get_alias(index_root, alias)
    filt = spec.get("filter") or []
    bq = {qid: {"must": sorted(set(terms)), "filter": filt}
          for qid, terms in queries.items()}
    return bool_search(spark, index_root, bq, k=k, snapshot_id=snapshot_id)


def sort_by_field_indexed(
    spark: SparkSession,
    index_root: str,
    terms: list[str],
    sort_col: str = "n_chars",
    k: int = 10,
    ascending: bool = False,
    snapshot_id: str | None = None,
) -> DataFrame:
    """ES field-sort search served FROM the index: the disjunctive match
    set from term-pruned posting blocks (ids only), the sort key from the
    doc_map numeric doc-values (v2 schema passthrough columns) — no
    raw-text access at query time. Identical results to the direct
    query_ext.sort_by_field. (rank, doc_id, <sort_col>).

    Scale shape: posting scan pruned to the query terms; doc_map semi-join;
    orderBy().limit(k) → TakeOrderedAndProject (the facet_counts_indexed
    match machinery + the direct-path top-k contract)."""
    cat = Catalog(index_root)
    manifest = cat.manifest_at(snapshot_id)
    dm = cat.live_doc_map(spark, manifest).select("doc_id", sort_col)
    joined = dm.join(_matched_ids(spark, cat, manifest, terms), "doc_id", "left_semi")
    key = F.col(sort_col).asc() if ascending else F.col(sort_col).desc()
    top = joined.orderBy(key, F.col("doc_id").asc()).limit(k)
    w = F.row_number().over(Window.orderBy(key, F.col("doc_id").asc()))
    return top.withColumn("rank", w).select("rank", "doc_id", sort_col).orderBy("rank")


def expand_wildcard_indexed(
    spark: SparkSession, index_root: str, pattern: str,
    snapshot_id: str | None = None,
) -> list[str]:
    """Wildcard expansion FROM the published dictionary (glob → LIKE, the
    query_ext._wildcard_to_like mapping) — vocabulary-sized scan, no
    corpus access, snapshot-scoped like expand_prefix_indexed."""
    from .query_ext import _collect_expansion, _wildcard_to_like

    like = _wildcard_to_like(pattern)
    cat = Catalog(index_root)
    return _collect_expansion(
        cat.read_dictionary(spark, snapshot=cat.manifest_at(snapshot_id))
        .filter(F.col("term").like(like)),
        f"wildcard {pattern!r}",
    )


def span_first_indexed(
    spark: SparkSession, index_root: str, term: str, end: int,
    snapshot_id: str | None = None,
) -> DataFrame:
    """span_first served FROM the positional index: decode only the term's
    posting blocks (term predicate pushed to the term-sorted parquet), take
    each doc's FIRST stored position (positions are ascending per doc),
    keep docs where it falls within the leading ``end`` tokens. Identical
    results to the direct query_ext.span_first (stored positions are
    0-based; +1 matches array_position). (doc_id, first_pos)."""
    from .codec import positions_decode

    cat = Catalog(index_root)
    manifest = cat.manifest_at(snapshot_id)
    postings = cat.read_table(spark, "postings", snapshot=manifest).filter(
        F.col("term") == term
    )
    if "positions" not in postings.columns:
        raise ValueError("span_first_indexed needs a positional index "
                         "(build_index with_positions=True)")
    tombs = _load_tombstones(spark, cat, manifest)

    def evaluate(pdf: pd.DataFrame, _side) -> pd.DataFrame:
        out_ids, out_pos = [], []
        for r in pdf.itertuples(index=False):
            ids = delta_decode(r.doc_ids).astype(np.int64)
            tfs = varint_decode(r.tfs).astype(np.int64)
            pls = positions_decode(r.positions, tfs)
            first = np.array([int(p[0]) for p in pls], dtype=np.int64) + 1
            keep = first <= end
            live = _live_mask(ids, tombs, getattr(r, "seg", "") or "")
            if live is not None:
                keep &= live
            out_ids.append(ids[keep])
            out_pos.append(first[keep])
        if not out_ids:
            return pd.DataFrame({"doc_id": np.empty(0, dtype=np.int64),
                                 "first_pos": np.empty(0, dtype=np.int64)})
        return pd.DataFrame({"doc_id": np.concatenate(out_ids),
                             "first_pos": np.concatenate(out_pos)})

    matched = _per_shard(postings, evaluate, "doc_id long, first_pos long")
    dm = cat.live_doc_map(spark, manifest).select("doc_id")
    return matched.join(dm, "doc_id", "left_semi").orderBy("doc_id")


def _feature_score_indexed(
    spark: SparkSession,
    index_root: str,
    terms: list[str],
    combine,
    k: int = 10,
    field: str = "n_chars",
    snapshot_id: str | None = None,
    feature_df: DataFrame | None = None,
) -> DataFrame:
    """Shared indexed path for function_score-style doc-feature shaping:
    the static-signal column comes from the doc_map numeric doc-values
    (v2 schema) COGROUPED on doc_part with the postings, so each shard
    folds its own docs' feature into the score BEFORE the shard heap via
    ``combine(bm25_rounded, v) -> raw final`` (vectorized numpy, operand
    order mirroring the direct-path oracle). Selection is exact at both
    levels on the ROUNDED final score (a doc lives in exactly one
    doc_part, so the union of per-shard top-ks contains the global
    top-k). Exhaustive per-shard scoring: a doc feature shifts ranks, so
    bm25-only BMW bounds don't apply (Lucene's rank_feature likewise goes
    through a feature-aware scorer). Dead docs drop relationally:
    point/upsert tombstones via the decode-time exclusion, bulk-deleted
    docs by having no live doc-values row (never a driver
    materialization). (rank, doc_id, score)."""
    cat, manifest, stats = _open(index_root, snapshot_id)
    qterms = sorted(set(terms))
    idfs = _idfs(spark, cat, manifest, qterms, stats["n_docs"])
    present = [t for t in qterms if t in idfs]
    postings = _postings(spark, cat, manifest, present)
    excluded = _load_tombstones(spark, cat, manifest)
    ldm = cat.live_doc_map(spark, manifest)
    if feature_df is not None:
        # external per-doc feature (e.g. a vector-similarity multiplier):
        # the inner join against the live doc map keeps delete semantics —
        # dead docs AND docs without the feature simply have no dv row
        # (exactly how bulk deletes drop), mirroring the direct path's
        # inner join on the feature table
        dv = ldm.select("doc_id").join(
            feature_df.select("doc_id", F.col("__v").cast("double").alias("__v")),
            "doc_id",
        )
    else:
        dv = ldm.select("doc_id", F.col(field).cast("double").alias("__v"))
    k1, b, avgdl = stats["k1"], stats["b"], stats["avgdl"]

    def evaluate(pdf: pd.DataFrame, ddf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"doc_id": np.empty(0, dtype=np.int64), "score": np.empty(0)}
        )
        by_term = _shard_blocks(pdf)
        tb = {t: by_term[t] for t in present if t in by_term}
        if not tb or not len(ddf):
            return empty
        # score EVERY matched doc (k = all): the heap must select on the
        # feature-adjusted score, not bare bm25
        ids, sc = score_exhaustive(tb, idfs, 1 << 31, k1, b, avgdl, excluded=excluded)
        if not len(ids):
            return empty
        dvi = ddf.sort_values("doc_id")
        did = dvi["doc_id"].to_numpy(dtype=np.int64)
        dval = dvi["__v"].to_numpy(dtype=np.float64)
        pos = np.clip(np.searchsorted(did, ids), 0, len(did) - 1)
        live = did[pos] == ids
        ids, sc, pos = ids[live], sc[live], pos[live]
        if not len(ids):
            return empty
        v = dval[pos]
        final = np.round(combine(np.round(sc, 6), v), 6)
        order = np.lexsort((ids, -final))[:k]
        return pd.DataFrame({"doc_id": ids[order], "score": final[order]})

    per_part = _per_shard(postings, evaluate, "doc_id long, score double",
                          side=_with_doc_part(dv, stats["n_parts"]))
    return _take_top(per_part, k)


def rank_feature_indexed(
    spark: SparkSession,
    index_root: str,
    terms: list[str],
    pivot: float = 200.0,
    boost: float = 2.0,
    k: int = 10,
    field: str = "n_chars",
    snapshot_id: str | None = None,
) -> DataFrame:
    """ES rank_feature (additive saturation) FROM the index — see
    _feature_score_indexed. Rank-identical to scoring.rank_feature_bm25
    (same oracle): final = round(bm25_r + boost*v/(v+pivot), 6)."""
    pv, bo = float(pivot), float(boost)

    def combine(s: np.ndarray, v: np.ndarray) -> np.ndarray:
        return s + bo * v / (v + pv)

    return _feature_score_indexed(spark, index_root, terms, combine, k=k,
                                  field=field, snapshot_id=snapshot_id)


def field_value_factor_indexed(
    spark: SparkSession,
    index_root: str,
    terms: list[str],
    factor: float = 0.1,
    k: int = 10,
    field: str = "n_chars",
    snapshot_id: str | None = None,
) -> DataFrame:
    """ES field_value_factor (log1p modifier, multiplicative) FROM the
    index — see _feature_score_indexed. Rank-identical to
    scoring.field_value_factor: final = round(bm25_r * ln(1+factor*v), 6).
    np.log (not log1p) keeps the exact ln(1.0 + f*v) operand order the
    direct path and oracle use."""
    fa = float(factor)

    def combine(s: np.ndarray, v: np.ndarray) -> np.ndarray:
        return s * np.log(1.0 + fa * v)

    return _feature_score_indexed(spark, index_root, terms, combine, k=k,
                                  field=field, snapshot_id=snapshot_id)


def sparse_vector_indexed(
    spark: SparkSession,
    index_root: str,
    query_weights: dict[str, float],
    k: int = 10,
    snapshot_id: str | None = None,
) -> DataFrame:
    """ES sparse_vector served FROM the inverted index: the tf postings
    ARE the documents' sparse vectors (the Lucene impact-postings layout
    ELSER scores against), so the query decodes ONLY its own terms'
    blocks — score(d) = Σ w(t)·tf(t,d), no corpus statistics needed.

    Scale shape: term-pruned posting scan (predicate pushed to the
    term-sorted parquet), per-shard exact top-k on the ROUNDED score (a
    doc lives in exactly one doc_part, so the union of shard top-ks
    contains the global top-k), k-row merge. Dead docs drop relationally:
    point/upsert tombstones via decode-time exclusion, bulk deletes by
    having no live doc_map row (cogrouped on doc_part — never collected).
    Rank-identical to scoring.sparse_vector_topk (same oracle).
    (rank, doc_id, score)."""
    cat, manifest, stats = _open(index_root, snapshot_id)
    qterms = sorted(query_weights)
    weights = {t: float(query_weights[t]) for t in qterms}
    postings = _postings(spark, cat, manifest, qterms)
    excluded = _load_tombstones(spark, cat, manifest)
    live = _with_doc_part(cat.live_doc_map(spark, manifest).select("doc_id"),
                          stats["n_parts"])

    def evaluate(pdf: pd.DataFrame, ldf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"doc_id": np.empty(0, dtype=np.int64), "raw_score": np.empty(0)}
        )
        if not len(pdf) or not len(ldf):
            return empty
        all_ids, all_ps = [], []
        # row order, not term order: the per-doc sums below accumulate in it
        for r in pdf.itertuples(index=False):
            w = weights.get(r.term)
            if w is None:
                continue
            ids = delta_decode(r.doc_ids).astype(np.int64)
            tfs = varint_decode(r.tfs).astype(np.float64)
            keep = _live_mask(ids, excluded, getattr(r, "seg", "") or "")
            if keep is not None:
                ids, tfs = ids[keep], tfs[keep]
            all_ids.append(ids)
            all_ps.append(w * tfs)
        if not all_ids:
            return empty
        ids = np.concatenate(all_ids)
        ps = np.concatenate(all_ps)
        uids, inv = np.unique(ids, return_inverse=True)
        sums = np.zeros(len(uids))
        np.add.at(sums, inv, ps)
        lid = np.sort(ldf["doc_id"].to_numpy(dtype=np.int64))
        pos = np.clip(np.searchsorted(lid, uids), 0, len(lid) - 1)
        alive = lid[pos] == uids
        uids, sums = uids[alive], sums[alive]
        uids, sums = _topk_rows(uids, sums, k)
        return pd.DataFrame({"doc_id": uids, "raw_score": sums})

    per_part = _per_shard(postings, evaluate, "doc_id long, raw_score double", side=live)
    return _take_top(per_part.withColumn("score", F.round(F.col("raw_score"), 6)), k)


def _lm_part_fn(queries: dict[str, list[str]], denoms: dict[str, float],
                k: int, smoothing: str, mu: float, lam: float,
                excluded: _Tombstones, k1b: tuple = (None, None)):
    """Per-doc_part LM-similarity scorer (the _part_scorer shape with the
    Zhai & Lafferty formulas instead of BM25):

        dirichlet: max(0, ln(1 + tf/denom_t) + ln(mu/(dl+mu)))
        jm:        ln(1 + ((1-lam)·tf/dl) / lamp_t)

    where denom_t = mu·(cf_t/C) and lamp_t = lam·(cf_t/C) are driver-side
    per-term constants from the dictionary (cf) and index stats (exact
    integer sum_dl) — bit-identical to the direct path's in-engine
    doubles. np.log(1.0 + x) on purpose, NEVER log1p: the direct path and
    the DuckDB oracle both evaluate ln(1+x), and log1p differs in the low
    bits. No BMW here — the BM25 block upper bound does not envelope LM
    scores — so the scorer is the exhaustive decode (still per-shard
    top-k + k-row merge, the scale shape is unchanged). The side slice,
    when cogrouped, is the shard's bulk-tombstone ids."""
    one_minus = 1.0 - float(lam)

    def term_score(term, tfs, dls):
        c_t = denoms[term]
        if smoothing == "dirichlet":
            v = np.log(1.0 + tfs / (mu * c_t)) + np.log(mu / (dls + mu))
            return np.maximum(v, 0.0)
        if smoothing == "bm25plus":
            # BM25+ (Lv & Zhai'11): c_t carries idf = ln((N+1)/df), mu
            # carries avgdl, lam carries the +delta lower bound — same
            # operand order as scoring.bm25_plus_topk
            return c_t * (_tfn(tfs, dls, k1b[0], k1b[1], mu) + lam)
        return np.log(1.0 + ((one_minus * tfs) / dls) / (lam * c_t))

    def evaluate(pdf: pd.DataFrame, side: pd.DataFrame | None) -> pd.DataFrame:
        exc = _with_side(excluded, side)
        by_term = _shard_blocks(pdf)
        parts = []
        for qid, terms in queries.items():
            tb = [(t, by_term[t]) for t in terms if t in by_term and t in denoms]
            if tb:
                parts.append((qid, *_exhaustive(tb, term_score, k, exc)))
        return _result_frame(parts)

    return evaluate


def search_lm(
    spark: SparkSession,
    index_root: str,
    queries: dict[str, list[str]],
    k: int = 10,
    smoothing: str = "dirichlet",
    mu: float = 2000.0,
    lam: float = 0.1,
    snapshot_id: str | None = None,
) -> DataFrame:
    """LM Dirichlet / Jelinek-Mercer similarity served FROM the inverted
    index — the ES per-field `similarity` setting: the SAME postings,
    dictionary (cf) and stats (exact integer sum_dl) answer a different
    scoring model with no rebuild. Rank-identical to the direct
    scoring.lm_topk (same oracle). Tombstones (point + bulk cogroup)
    behave exactly as in run_queries. (qid, rank, doc_id, score)."""
    if smoothing not in ("dirichlet", "jm", "bm25plus"):
        raise ValueError(f"unknown smoothing {smoothing!r}")
    cat, manifest, stats = _open(index_root, snapshot_id)
    all_terms = sorted({t for ts in queries.values() for t in ts})
    drows = _dict_rows(spark, cat, manifest, all_terms)
    k1b = (None, None)
    if smoothing == "bm25plus":
        # BM25+ slot reuse (documented in _lm_part_fn): consts carry the
        # per-term idf = ln((N+1)/df), mu carries avgdl, lam carries delta
        n_docs = float(stats["n_docs"])
        consts = {r["term"]: math.log((n_docs + 1.0) / r["df"]) for r in drows}
        mu = float(stats["avgdl"])
        k1b = (float(stats["k1"]), float(stats["b"]))
    else:
        total_c = float(stats["sum_dl"])
        # p_t = cf/C as a driver-side double — the same division the direct
        # path evaluates in-engine, folded into each branch's formula at use
        consts = {r["term"]: (r["cf"] / total_c) for r in drows}
    present = [t for t in all_terms if t in consts]
    postings = _postings(spark, cat, manifest, present)
    excluded = _load_tombstones(spark, cat, manifest)
    scorer = _lm_part_fn(queries, consts, k, smoothing, float(mu), float(lam), excluded, k1b)
    per_part = _per_shard(postings, scorer, RESULT_SCHEMA,
                          side=_bulk_side(spark, cat, manifest))
    return _rank_merge(per_part, k)


def script_score_cosine_indexed(
    spark: SparkSession,
    index_root: str,
    emb: DataFrame,
    terms: list[str],
    query_vec: list[float],
    k: int = 10,
    snapshot_id: str | None = None,
) -> DataFrame:
    """ES script_score (dense-vector script) served FROM the index:
    final = round(bm25_rounded · (cos(qv, embedding)_rounded + 1.0), 6).
    The vector multiplier is a (doc_id, __v) relation computed row-local
    from the embeddings table and cogrouped into the per-shard scorer
    exactly like a doc-values feature — exhaustive per-shard scoring (the
    multiplier shifts ranks, bm25-only bounds don't apply), exact top-k
    on the rounded final score. Rank-identical to
    scoring.script_score_cosine (same oracle); docs without a vector drop
    out via the live-doc-map inner join, as on the direct path."""
    from .dedup import cosine_expr

    ql = lit_doubles(query_vec)
    mult = emb.select(
        F.col("vec_id").alias("doc_id"),
        (F.round(cosine_expr(F.col("embedding"), ql), 6) + F.lit(1.0)).alias("__v"),
    )

    def combine(s: np.ndarray, v: np.ndarray) -> np.ndarray:
        return s * v

    return _feature_score_indexed(spark, index_root, terms, combine, k=k,
                                  snapshot_id=snapshot_id, feature_df=mult)


def terms_agg_error_bounds_indexed(
    spark: SparkSession,
    index_root: str,
    shard_size: int = 5,
    k: int = 5,
    snapshot_id: str | None = None,
) -> DataFrame:
    """The terms-agg shard-merge protocol over the REAL index layout: the
    doc_part partitions ARE the shards, and each shard's per-term doc
    count comes straight from the posting-block ``n`` metadata — one
    metadata-column scan of the postings table, NO block decode and NO
    corpus pass. The exact audit counts are the merged dictionary dfs
    (also metadata). This is exactly what an ES terms agg costs on a real
    index — the protocol's error bound is the price of per-shard
    truncation, and here the shards are physical.

    Refuses tombstoned snapshots: block ``n`` counts entombed docs, so the
    protocol would overcount — run compaction first (the same contract as
    reindex)."""
    from .pipeline import shard_merge_topk

    cat = Catalog(index_root)
    manifest = cat.manifest_at(snapshot_id)
    tables = manifest["tables"]
    if "tombstones" in tables or BULK_TOMBSTONE_TABLE in tables:
        raise ValueError(
            "terms_agg_error_bounds_indexed needs a tombstone-free snapshot "
            "(block doc-counts would overcount); compact first"
        )
    per = (
        cat.read_table(spark, "postings", snapshot=manifest)
        .groupBy(F.col("doc_part").alias("shard"), "term")
        .agg(F.sum("n").cast("long").alias("cnt"))
    )
    exact = cat.read_dictionary(spark, snapshot=manifest).select(
        "term", F.col("df").cast("long").alias("exact_count")
    )
    return shard_merge_topk(per, exact, shard_size=shard_size, k=k)


def doc_values_histogram_indexed(
    spark: SparkSession,
    index_root: str,
    field: str = "n_chars",
    width: float = 50.0,
    snapshot_id: str | None = None,
) -> DataFrame:
    """ES histogram aggregation served FROM the index's numeric doc-values
    (the v2 doc_map schema): fixed-width buckets over a columnar doc-value
    read — postings are never touched and dead docs are already excluded
    by the live-doc-map view (point, upsert AND bulk tombstones). The scan
    reads exactly one numeric column; bucket cardinality, not doc count,
    bounds the shuffle. (bucket, n, sum_value)."""
    cat = Catalog(index_root)
    manifest = cat.manifest_at(snapshot_id)
    v = F.col(field).cast("double")
    return (
        cat.live_doc_map(spark, manifest)
        .select((F.floor(v / F.lit(width)) * F.lit(width)).alias("bucket"), v.alias("__v"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n"),
             F.round(F.sum("__v"), 6).alias("sum_value"))
        .orderBy("bucket")
    )


def ltr_rescore_indexed(
    spark: SparkSession,
    index_root: str,
    docs: DataFrame,
    terms: list[str],
    weights: tuple[float, float, float, float] = (1.0, 0.25, 2.0, 0.125),
    k: int = 10,
    window: int = 50,
    field: str = "n_chars",
    snapshot_id: str | None = None,
) -> DataFrame:
    """LTR rescorer over the INDEXED first pass: run_queries (BMW,
    per-shard exact top-window on rounded scores) supplies the BM25
    window; the linear model's features come from the stored-source frame
    ``docs`` — ES extracts LTR feature values from stored fields at
    rescore time, so reading _source for the ≤window candidates is the
    semantic match. Rank-identical to scoring.ltr_rescore (indexed
    top-window == direct top-window by the rank-identity contract; model
    and finish are the shared scoring.ltr_model_rerank), hence the same
    DuckDB oracle. (rank, doc_id, score)."""
    from .scoring import ltr_features, ltr_model_rerank

    initial = run_queries(spark, index_root, {"q": list(terms)}, k=window,
                          algo="bmw", snapshot_id=snapshot_id)
    return ltr_model_rerank(
        initial.select("doc_id", "score"),
        ltr_features(docs, terms, field=field), weights, k)


def routed_search(
    spark: SparkSession,
    index_root: str,
    routing: str,
    queries: dict[str, list[str]],
    k: int = 10,
    algo: str = "bmw",
    snapshot_id: str | None = None,
) -> DataFrame:
    """ES custom ``_routing`` search: a query that supplies its routing
    value (or a LIST of values — ES's comma-separated ``?routing=a,b``)
    touches ONLY those routes' shards. Here the routed build
    (build_index(routing_col=...)) laid each route out as its own disjoint
    ``doc_part`` range inside the doc_part-partitioned postings table, so
    the route restriction is a PARTITION FILTER — Spark plans a directory
    prune and the other tenants' postings are never opened (the ES analog:
    the coordinating node fans out to one shard instead of all of them;
    reference shard config config/fafnir/default.toml:50).

    Scoring statistics are ROUTE-LOCAL (n_docs/avgdl from the route's
    doc_map slice, df from the route's posting-block ``n`` metadata — no
    block decode): the tenant's corpus is the universe, exactly as if the
    tenant had their own index, which is what the DuckDB sub-corpus oracle
    (oracles.bm25_topk_sql(docs_where=...)) computes. Per-shard top-k
    stays exact (a doc's whole score lives in one doc_part).

    Maintenance: routed append/upsert re-derive the routed doc_part
    (incremental.append_index), point deletes land here as the usual
    closure-shipped exclusions, and — ES-faithful — df/n_docs/avgdl stay
    STALE after deletes until compaction (block ``n`` metadata and the raw
    doc_map slice both count entombed docs, exactly like the merged
    dictionary on the unrouted path). Bulk tombstones are refused at the
    write (their cogroup is pmod-based). (qid, rank, doc_id, score).
    """
    cat = Catalog(index_root)
    rt = cat.read_json("routing")
    if rt is None:
        raise ValueError(
            f"{index_root} is not a routed index; build with "
            "build_index(routing_col=...) or use run_queries")
    # ES comma-separated routing: a str is one route, a list/tuple is the
    # union — the query fans out to exactly those routes' partitions and
    # the statistics universe is their combined sub-corpus.
    route_list = [routing] if isinstance(routing, str) else sorted(set(routing))
    unknown = [v for v in route_list if v not in rt["routes"]]
    if unknown:
        raise ValueError(
            f"unknown routing value(s) {unknown} (routes: {rt['routes']})")
    manifest = cat.manifest_at(snapshot_id)
    if BULK_TOMBSTONE_TABLE in manifest["tables"]:
        raise ValueError("routed index carries bulk tombstones — "
                         "unsupported state (delete_docs_bulk is guarded)")
    excluded = _load_tombstones(spark, cat, manifest)
    npp = int(rt["parts_per_route"])
    in_route = None
    for v in route_list:
        ridx = rt["routes"].index(v)
        lo, hi = ridx * npp, (ridx + 1) * npp
        c = (F.col("doc_part") >= F.lit(lo)) & (F.col("doc_part") < F.lit(hi))
        in_route = c if in_route is None else (in_route | c)

    # route-local corpus stats: one pruned scan of the doc_map slice
    g = _snapshot_stats(cat, manifest)
    srow = (
        cat.read_table(spark, "doc_map", snapshot=manifest)
        .filter(in_route)
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl"))
        .collect()[0]
    )
    n_docs = int(srow["n_docs"])
    if n_docs == 0:
        return spark.createDataFrame(
            [], "qid string, rank int, doc_id long, score double")
    sum_dl = int(srow["sum_dl"] or 0)
    stats = {"n_docs": n_docs, "avgdl": sum_dl / n_docs,
             "k1": g["k1"], "b": g["b"], "n_parts": npp}

    # route-local df per query term from posting-block `n` METADATA (the
    # terms_agg_error_bounds pattern): term-pushed + partition-pruned scan,
    # <= |qterms| rows collected. The global dictionary is NOT consulted —
    # its dfs span all routes.
    all_terms = sorted({t for ts in queries.values() for t in ts})
    postings = (
        cat.read_table(spark, "postings", snapshot=manifest)
        .filter(in_route & F.col("term").isin(all_terms))
    )
    drows = postings.groupBy("term").agg(F.sum("n").alias("df")).collect()
    idfs = {r["term"]: _bm25_idf(n_docs, r["df"]) for r in drows}
    present = [t for t in all_terms if t in idfs]
    per_part = _per_shard(postings.filter(F.col("term").isin(present)),
                          _part_scorer(queries, idfs, stats, k, algo, excluded),
                          RESULT_SCHEMA)
    return _rank_merge(per_part, k)


def search_bm25_plus(
    spark: SparkSession,
    index_root: str,
    queries: dict[str, list[str]],
    k: int = 10,
    delta: float = 1.0,
    snapshot_id: str | None = None,
) -> DataFrame:
    """BM25+ similarity served FROM the inverted index (the ES per-field
    `similarity` setting, like search_lm): same postings, dictionary (df)
    and stats (n_docs, avgdl, k1, b) answer the lower-bounded model with
    no rebuild. Exhaustive per-shard scorer — BMW's BM25 block bound does
    NOT envelope BM25+ (the +delta floor breaks the upper-bound algebra)
    — still per-shard top-k + k-row merge. Rank-identical to the direct
    scoring.bm25_plus_topk (same oracle). (qid, rank, doc_id, score)."""
    return search_lm(spark, index_root, queries, k=k, smoothing="bm25plus",
                     lam=float(delta), snapshot_id=snapshot_id)


def distance_feature_indexed(
    spark: SparkSession,
    index_root: str,
    terms: list[str],
    origin: float,
    pivot: float = 50.0,
    boost: float = 2.0,
    k: int = 10,
    field: str = "n_chars",
    snapshot_id: str | None = None,
) -> DataFrame:
    """ES distance_feature served FROM the index: the closeness-to-origin
    contribution boost·pivot/(pivot + |v − origin|) comes from the doc_map
    NUMERIC DOC-VALUES (v2 schema) cogrouped into the per-shard scorer —
    the same seam as script_score_indexed. numpy float64 mirrors the
    direct path's JVM operand order exactly, so the op is rank-identical
    to scoring.distance_feature_topk (same oracle). Exhaustive per-shard
    scoring (the additive feature shifts ranks — bm25-only BMW bounds
    don't apply, the Lucene rank_feature reality). (rank, doc_id,
    score)."""
    o, p, bs = float(origin), float(pivot), float(boost)

    def combine(s: np.ndarray, v: np.ndarray) -> np.ndarray:
        return s + bs * p / (p + np.abs(v - o))

    return _feature_score_indexed(spark, index_root, terms, combine, k=k,
                                  field=field, snapshot_id=snapshot_id)


def doc_values_percentiles_indexed(
    spark: SparkSession,
    index_root: str,
    field: str = "n_chars",
    qs: tuple = (0.25, 0.5, 0.75, 0.9),
    snapshot_id: str | None = None,
) -> DataFrame:
    """ES percentiles aggregation served FROM the index's numeric
    doc-values (the doc_values_histogram_indexed sibling): exact
    interpolated quantiles (Spark `percentile` == DuckDB quantile_cont)
    over ONE columnar doc-value read — postings untouched, dead docs
    excluded by the live-doc-map view. One aggregate row fans out to a
    ≤|qs|-row result. (q, value, n) ordered by q."""
    cat = Catalog(index_root)
    manifest = cat.manifest_at(snapshot_id)
    v = F.col(field).cast("double")
    lv = cat.live_doc_map(spark, manifest).select(v.alias("__v"))
    arr = "array(" + ", ".join(f"{float(q)!r}D" for q in qs) + ")"
    one = lv.agg(
        F.expr(f"percentile(__v, {arr})").alias("vals"),
        F.count(F.lit(1)).cast("long").alias("n"))
    qlits = lit_doubles(qs)
    return (one.select(F.posexplode(F.arrays_zip(
        qlits.alias("q"), F.col("vals").alias("v"))).alias("i", "zq"),
        F.col("n"))
        .select(F.col("zq.q").alias("q"),
                F.round(F.col("zq.v"), 6).alias("value"), "n")
        .orderBy("q"))
