"""Cross-index federated search — ES multi-index search with
dfs_query_then_fetch semantics.

The reference's backend searches one alias over many indices; correct
cross-index relevance needs GLOBAL term statistics, which ES gets with the
dfs_query_then_fetch search type (a stats round-trip before scoring). Here
the same two phases are explicit and cheap:

  1. stats merge (driver-side, metadata-sized): n_docs and the exact
     integer sum_dl are additive across indexes (incremental.py maintains
     sum_dl exactly for this reason), so global avgdl = Σsum_dl / Σn_docs;
     per-term global df = Σ df_i from each index's dictionary point
     lookups (query terms only — never a full-vocabulary merge).
  2. scoring: each index's term-pruned posting blocks are unioned with an
     `idx` tag and scored per (idx, doc_part) shard with the GLOBAL
     idf/avgdl — a doc's whole score still lives in one shard, so the
     per-shard top-k merge stays exact.

Oracle identity: federating indexes built over a partition of a corpus
equals single-index search over the whole corpus (same global stats, same
scores) — the driver query uses exactly this as its DuckDB oracle.

Tombstones: per-index point tombstones merge trivially (doc ids are
disjoint across well-formed indexes and segment names carry the build id);
bulk mass-delete tables are unioned with the idx tag and cogrouped on
(idx, doc_part) — the run_queries pattern, no driver materialization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import Catalog
from .wand import (
    RESULT_SCHEMA,
    _bm25_idf,
    _bulk_side,
    _check_algo,
    _dict_rows,
    _load_tombstones,
    _part_scorer,
    _per_shard,
    _postings,
    _rank_merge,
    _snapshot_stats,
    _Tombstones,
)


def _merged_stats(stats_list: list[dict]) -> dict:
    k1s = {s["k1"] for s in stats_list}
    bs = {s["b"] for s in stats_list}
    if len(k1s) != 1 or len(bs) != 1:
        raise ValueError(f"indexes disagree on BM25 params: k1={k1s}, b={bs}")
    n_docs = sum(int(s["n_docs"]) for s in stats_list)
    # exact integer sum_dl is additive; legacy stats without it fall back
    # to n*avgdl (float) — still deterministic, just not integer-exact
    sum_dl = sum(
        int(s["sum_dl"]) if s.get("sum_dl") is not None
        else s["n_docs"] * s["avgdl"]
        for s in stats_list
    )
    return {
        "n_docs": n_docs,
        "avgdl": sum_dl / n_docs if n_docs else 0.0,
        "k1": k1s.pop(),
        "b": bs.pop(),
    }


def search_federated(
    spark: SparkSession,
    index_roots: list[str],
    queries: dict[str, list[str]],
    k: int = 10,
    algo: str = "bmw",
    score_decimals: int = 6,
) -> DataFrame:
    """Evaluate a query set across MANY published indexes with global
    statistics (dfs_query_then_fetch). (qid, rank, doc_id, score) —
    identical to run_queries over a single index holding the union of the
    corpora."""
    _check_algo(algo)
    cats = [Catalog(r) for r in index_roots]
    manifests = [c.read_manifest() for c in cats]
    gstats = _merged_stats([_snapshot_stats(c, m) for c, m in zip(cats, manifests)])

    all_terms = sorted({t for ts in queries.values() for t in ts})
    gdf: dict[str, int] = {}
    for c, m in zip(cats, manifests):
        for r in _dict_rows(spark, c, m, all_terms):
            gdf[r["term"]] = gdf.get(r["term"], 0) + int(r["df"])
    idfs = {t: _bm25_idf(gstats["n_docs"], df) for t, df in gdf.items()}
    present = [t for t in all_terms if t in idfs]

    postings, bulk = None, None
    merged_ids: list[int] = []
    merged_keeps: list[str | None] = []
    for i, (c, m) in enumerate(zip(cats, manifests)):
        p = _postings(spark, c, m, present).withColumn("idx", F.lit(i))
        postings = p if postings is None else postings.unionByName(p)
        ts = _load_tombstones(spark, c, m)
        merged_ids.extend(int(x) for x in ts.ids)
        merged_keeps.extend(ts.keeps)
        b = _bulk_side(spark, c, m)
        if b is not None:
            b = b.withColumn("idx", F.lit(i))
            bulk = b if bulk is None else bulk.unionByName(b)

    excluded = _Tombstones(merged_ids, merged_keeps)
    per_part = _per_shard(postings, _part_scorer(queries, idfs, gstats, k, excluded),
                          RESULT_SCHEMA, side=bulk, keys=("idx", "doc_part"))
    return _rank_merge(per_part, k, decimals=score_decimals)
