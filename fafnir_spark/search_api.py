"""ES ``_search`` REQUEST-BODY compiler — the JSON API surface.

The reference's users query Elasticsearch by POSTing a ``_search`` body
(reference anchor: the ES index fafnir publishes to,
config/fafnir/default.toml); this module compiles the deterministic core
of that body straight onto the engine's relational operators, so a
request that runs against the reference runs here verbatim:

    {"query": {"bool": {
        "must":     [{"match": {"text": {"query": "merge window",
                                          "operator": "and"}}}],
        "should":   [{"term": {"text": "customer"}}],
        "must_not": [{"term": {"text": "vector"}}],
        "filter":   [{"range": {"n_chars": {"gte": 100, "lte": 500}}},
                      {"term": {"lang": "en"}}]}},
     "from": 2, "size": 8}

Closed, validated subset (unknown keys/clauses raise — never silently
ignored, the closed-grammar convention):

- query: ``match`` (text field; default OR = at-least-one-should,
  ``operator: and`` = all-required), ``term``/``terms`` (text field →
  scored term; metadata column → unscored filter-context equality),
  ``range`` (numeric column, gte/gt/lte/lt), ``match_all``, and one
  level of ``bool`` with must/should/must_not/filter occurrences.
- ``from``/``size``: pagination over the ranked result (rank stays
  absolute, ES's from+size window).
- ``_source``: projection columns joined from the document source.

Scoring semantics are exactly query_ext.bool_bm25's (must all required
and scored; should optional and scored — with no must, at least one
should must match, the ES bool contract; must_not excludes; filter
context never scores). Metadata predicates compile to ONE unscored
eligibility relation pushed into bool_bm25 via ``eligible_extra`` —
filters reach the scan as column predicates, never per-row Python.
Inside ``must``, metadata predicates are rejected rather than silently
treated as filters: ES would give them a constant score contribution,
and a divergence we can't reproduce exactly is an error, not a guess.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .esql import _split_toplevel

_RANGE_OPS = {"gte": "__ge__", "gt": "__gt__", "lte": "__le__", "lt": "__lt__"}


class SearchBodyError(ValueError):
    pass


def _is_meta(field: str, text_col: str) -> bool:
    return field != text_col


def _one_key(d: dict, what: str) -> tuple[str, object]:
    if not isinstance(d, dict) or len(d) != 1:
        raise SearchBodyError(f"{what} must be a single-key object: {d!r}")
    return next(iter(d.items()))


def _match_terms(spec, what: str) -> tuple[list[str], str]:
    """('terms of a match clause', operator) — spec is either the query
    string or {"query": ..., "operator": "and"|"or"}."""
    if isinstance(spec, str):
        text, op = spec, "or"
    elif isinstance(spec, dict):
        unknown = set(spec) - {"query", "operator"}
        if unknown:
            raise SearchBodyError(f"unsupported match options {unknown} in {what}")
        text, op = spec["query"], spec.get("operator", "or").lower()
    else:
        raise SearchBodyError(f"bad match spec {spec!r}")
    if op not in ("and", "or"):
        raise SearchBodyError(f"bad match operator {op!r}")
    terms = [t for t in str(text).split(" ") if t]
    if not terms:
        raise SearchBodyError(f"empty match query in {what}")
    return terms, op


def _compile_clause(clause: dict, occ: str, acc: dict, text_col: str) -> None:
    kind, spec = _one_key(clause, f"{occ} clause")
    if kind == "match":
        field, mspec = _one_key(spec, "match")
        if _is_meta(field, text_col):
            raise SearchBodyError(f"match on non-text field {field!r}")
        terms, op = _match_terms(mspec, occ)
        if occ == "must":
            if op == "or":
                # a bool.must[match(or)] needs per-clause ≥1-of semantics
                # that flattening loses — closed subset, explicit error
                raise SearchBodyError(
                    'match inside bool.must needs "operator": "and" '
                    "(OR-match is supported as the top-level query or in should)")
            acc["must"] += terms
        elif occ == "should":
            acc["should"] += terms
        elif occ == "top":
            (acc["must"] if op == "and" else acc["should"]).extend(terms)
        else:
            raise SearchBodyError(f"match not supported in {occ}")
    elif kind in ("term", "terms"):
        field, val = _one_key(spec, kind)
        if _is_meta(field, text_col):
            if occ not in ("filter", "top"):
                raise SearchBodyError(
                    f"{kind} on metadata field {field!r} only supported in "
                    "filter context (ES scores it constantly; we refuse to fake that)")
            vals = val if kind == "terms" else [val]
            if not isinstance(vals, list) or not vals:
                raise SearchBodyError(f"bad {kind} values {val!r}")
            acc["meta"].append(("isin", field, list(vals)))
        else:
            if kind == "terms":
                raise SearchBodyError("terms on the text field: use should matches")
            dest = {"must": "must", "should": "should", "must_not": "must_not",
                    "filter": "filter_terms", "top": "must"}[occ]
            acc[dest].append(str(val))
    elif kind == "range":
        field, bounds = _one_key(spec, "range")
        if not _is_meta(field, text_col):
            raise SearchBodyError("range on the text field is not a thing")
        if occ not in ("filter", "top"):
            raise SearchBodyError("range only supported in filter context")
        unknown = set(bounds) - set(_RANGE_OPS)
        if unknown or not bounds:
            raise SearchBodyError(f"bad range bounds {bounds!r}")
        for op, v in sorted(bounds.items()):
            acc["meta"].append((op, field, float(v)))
    elif kind == "match_all":
        if spec not in ({}, None):
            raise SearchBodyError(f"match_all takes no options: {spec!r}")
    elif kind == "bool":
        if occ != "top":
            raise SearchBodyError("nested bool is outside the closed subset")
        unknown = set(spec) - {"must", "should", "must_not", "filter"}
        if unknown:
            raise SearchBodyError(f"unsupported bool occurrences {unknown}")
        for sub_occ in ("must", "should", "must_not", "filter"):
            for sub in spec.get(sub_occ) or []:
                _compile_clause(sub, sub_occ, acc, text_col)
    else:
        raise SearchBodyError(f"unsupported query kind {kind!r}")


def _meta_eligible(docs: DataFrame, preds: list, text_col: str) -> DataFrame:
    cond = None
    for op, field, val in preds:
        c = (F.col(field).isin(val) if op == "isin"
             else getattr(F.col(field), _RANGE_OPS[op])(F.lit(val)))
        cond = c if cond is None else (cond & c)
    return docs.filter(cond).select("doc_id")


def meta_filter_sql(preds: list, table: str = "documents") -> str:
    """The oracle dual of _meta_eligible: one scan, ANDed predicates."""
    sql_op = {"gte": ">=", "gt": ">", "lte": "<=", "lt": "<"}
    parts = []
    for op, field, val in preds:
        if op == "isin":
            lits = ", ".join(
                "'" + str(v).replace("'", "''") + "'" if isinstance(v, str)
                else repr(v) for v in val)
            parts.append(f"{field} IN ({lits})")
        else:
            parts.append(f"{field} {sql_op[op]} {val!r}")
    return f"SELECT doc_id FROM {table} WHERE " + " AND ".join(parts)


def compile_body(body: dict, text_col: str = "text") -> dict:
    """Validate + flatten a _search body into bool_bm25 arguments and the
    metadata predicate list. Shared by search_body and its oracle builder
    (the templated-constant convention — one source of truth)."""
    allowed = {"query", "from", "size", "_source"}
    unknown = set(body) - allowed
    if unknown:
        raise SearchBodyError(f"unsupported _search body keys {unknown}")
    acc = {"must": [], "should": [], "must_not": [], "filter_terms": [],
           "meta": []}
    _compile_clause(body.get("query") or {"match_all": {}}, "top", acc, text_col)
    if not (acc["must"] or acc["should"]):
        raise SearchBodyError("no scored clause: pure-filter bodies need "
                              "at least one match/term on the text field")
    acc["from"] = int(body.get("from", 0))
    acc["size"] = int(body.get("size", 10))
    if acc["from"] < 0 or acc["size"] <= 0:
        raise SearchBodyError("bad from/size")
    acc["_source"] = body.get("_source")
    return acc


def search_body(docs: DataFrame, body: dict, text_col: str = "text") -> DataFrame:
    """Execute an ES _search request body. (rank, doc_id, score[, _source
    cols]) — rank absolute, rows (from, from+size]."""
    from .query_ext import bool_bm25

    spec = compile_body(body, text_col)
    extra = (_meta_eligible(docs, spec["meta"], text_col)
             if spec["meta"] else None)
    hits = bool_bm25(
        docs,
        must=spec["must"] or None,
        should=spec["should"] or None,
        must_not=spec["must_not"] or None,
        filter_terms=spec["filter_terms"] or None,
        eligible_extra=extra,
        k=spec["from"] + spec["size"],
        text_col=text_col,
    )
    if spec["from"]:
        hits = hits.filter(F.col("rank") > spec["from"])
    if spec["_source"]:
        cols = list(spec["_source"])
        hits = hits.join(docs.select("doc_id", *cols), "doc_id").select(
            "rank", "doc_id", "score", *cols)
    return hits.orderBy("rank")


def search_body_sql(body: dict, text_col: str = "text") -> str:
    """DuckDB oracle for search_body: bool_bm25_sql with the metadata
    eligibility subquery and the from/size rank window — built from the
    SAME compile_body flattening."""
    from .oracles import bool_bm25_sql

    spec = compile_body(body, text_col)
    if spec["_source"]:
        raise SearchBodyError("_source oracle not templated; project in the query")
    return bool_bm25_sql(
        must=spec["must"] or None,
        should=spec["should"] or None,
        must_not=spec["must_not"] or None,
        filter_terms=spec["filter_terms"] or None,
        extra_filter_sql=meta_filter_sql(spec["meta"]) if spec["meta"] else "",
        k=spec["size"],
        from_=spec["from"],
    )


_METRICS = {"avg": F.avg, "sum": F.sum, "min": F.min, "max": F.max}


def _compile_aggs(aggs: dict) -> tuple[str, str, int, list]:
    """Validate the aggs section: ONE terms bucket agg with optional
    metric sub-aggs. Returns (agg_name, field, size, [(sub_name, kind,
    sub_field)])."""
    (name, spec), = aggs.items() if len(aggs) == 1 else (_bad_aggs(aggs),)
    unknown = set(spec) - {"terms", "aggs"}
    if "terms" not in spec or unknown:
        raise SearchBodyError(f"only a terms bucket agg is supported: {spec!r}")
    t = spec["terms"]
    if set(t) - {"field", "size"} or "field" not in t:
        raise SearchBodyError(f"bad terms agg options {t!r}")
    subs = []
    for sub_name, sub in (spec.get("aggs") or {}).items():
        kind, m = _one_key(sub, f"sub-agg {sub_name}")
        if kind == "value_count":
            pass
        elif kind not in _METRICS:
            raise SearchBodyError(f"unsupported sub-agg kind {kind!r}")
        if set(m) != {"field"}:
            raise SearchBodyError(f"bad metric options {m!r}")
        subs.append((sub_name, kind, m["field"]))
    return name, t["field"], int(t.get("size", 10)), subs


def _bad_aggs(aggs):
    raise SearchBodyError(f"exactly one agg is supported: {list(aggs)!r}")


def _matched(docs: DataFrame, spec: dict, text_col: str) -> DataFrame:
    """The query-MATCHED doc set (unscored bool eligibility): must all
    present, at least one should when no must, no must_not, filter terms
    all present, metadata predicates — each gate a semi/anti join on the
    single tf relation, the bool_bm25 eligibility shapes."""
    from .query import conjunctive_match, doc_term_freqs

    out = docs
    tf = None

    def _tf():
        nonlocal tf
        if tf is None:
            tf = doc_term_freqs(
                docs.selectExpr("doc_id", f"{text_col} as __text"),
                "doc_id", "__text")
        return tf

    if spec["must"]:
        out = out.join(conjunctive_match(docs, spec["must"], text_col=text_col),
                       "doc_id")
    elif spec["should"]:
        any_of = (_tf().filter(F.col("term").isin(sorted(set(spec["should"]))))
                  .select("doc_id").distinct())
        out = out.join(any_of, "doc_id")
    if spec["filter_terms"]:
        out = out.join(conjunctive_match(docs, spec["filter_terms"],
                                         text_col=text_col), "doc_id")
    if spec["must_not"]:
        bad = (_tf().filter(F.col("term").isin(sorted(set(spec["must_not"]))))
               .select("doc_id").distinct())
        out = out.join(bad, "doc_id", "anti")
    if spec["meta"]:
        out = out.join(_meta_eligible(docs, spec["meta"], text_col), "doc_id")
    return out


def search_aggs(docs: DataFrame, body: dict, text_col: str = "text") -> DataFrame:
    """The aggregations half of a _search body: a terms bucket agg (+
    metric sub-aggs) over the query-MATCHED set — ES runs aggs on every
    hit, not the size-window. One groupBy over the matched relation;
    buckets rank by doc_count desc then key asc (the ES terms order).
    (key, doc_count, <sub aggs...>), top-``size`` buckets."""
    spec = compile_body({k: v for k, v in body.items() if k != "aggs"},
                        text_col)
    name, field, size, subs = _compile_aggs(body.get("aggs") or _bad_aggs({}))
    matched = _matched(docs, spec, text_col)
    aggs = [F.count(F.lit(1)).cast("long").alias("doc_count")]
    for sub_name, kind, sub_field in subs:
        if kind == "value_count":
            aggs.append(F.count(F.col(sub_field)).cast("long").alias(sub_name))
        else:
            # metrics compute in double on BOTH engines (an integer max
            # would fetch int vs round()-double and type-diverge)
            aggs.append(F.round(_METRICS[kind](F.col(sub_field).cast("double")), 6).alias(sub_name))
    out = matched.groupBy(F.col(field).alias("key")).agg(*aggs)
    return (out.orderBy(F.col("doc_count").desc(), F.col("key").asc())
            .limit(size))


def search_aggs_sql(body: dict, text_col: str = "text") -> str:
    """Oracle for search_aggs, built from the SAME compile_body /
    _compile_aggs flattening: eligibility subqueries over the tf CTEs,
    one GROUP BY, ES terms-order limit."""
    from .oracles import _terms_in, _tf_ctes

    spec = compile_body({k: v for k, v in body.items() if k != "aggs"},
                        text_col)
    name, field, size, subs = _compile_aggs(body.get("aggs") or _bad_aggs({}))
    gates = []
    if spec["must"]:
        m = sorted(set(spec["must"]))
        gates.append(f"""d.doc_id IN (
  SELECT doc_id FROM tf WHERE term IN {_terms_in(m)}
  GROUP BY doc_id HAVING count(*) = {len(m)})""")
    elif spec["should"]:
        gates.append(f"""d.doc_id IN (
  SELECT DISTINCT doc_id FROM tf WHERE term IN {_terms_in(spec['should'])})""")
    if spec["filter_terms"]:
        ft = sorted(set(spec["filter_terms"]))
        gates.append(f"""d.doc_id IN (
  SELECT doc_id FROM tf WHERE term IN {_terms_in(ft)}
  GROUP BY doc_id HAVING count(*) = {len(ft)})""")
    if spec["must_not"]:
        gates.append(f"""d.doc_id NOT IN (
  SELECT DISTINCT doc_id FROM tf WHERE term IN {_terms_in(spec['must_not'])})""")
    if spec["meta"]:
        gates.append(f"d.doc_id IN ({meta_filter_sql(spec['meta'])})")
    cols = ["CAST(count(*) AS BIGINT) AS doc_count"]
    for sub_name, kind, sub_field in subs:
        if kind == "value_count":
            cols.append(f"CAST(count({sub_field}) AS BIGINT) AS {sub_name}")
        else:
            cols.append(f"round({kind}({sub_field}::DOUBLE), 6) AS {sub_name}")
    where = " AND ".join(gates) or "1=1"
    return f"""
WITH {_tf_ctes(text_col)}
SELECT {field} AS key, {', '.join(cols)}
FROM documents d
WHERE {where}
GROUP BY {field}
ORDER BY doc_count DESC, key ASC
LIMIT {size}
"""


def to_query_string(spec: dict) -> str:
    """Translate a compiled _search body onto the parse_query grammar —
    the seam that lets the SAME request body serve from the index
    (wand.search_text_indexed): must → +t, should → bare, must_not → -t,
    a gte+lte range pair → field:[lo TO hi] (doc-values gate).
    filter-context TEXT terms and keyword-equality metas need a
    field-token index (build with_field_tokens) and are rejected here;
    gt/lt are rejected (the grammar's ranges are inclusive)."""
    if spec["filter_terms"]:
        raise SearchBodyError(
            "indexed body serving needs a field-token index for filter-"
            "context text terms")
    parts = [f"+{t}" for t in spec["must"]]
    parts += list(spec["should"])
    parts += [f"-{t}" for t in spec["must_not"]]
    by_field: dict[str, dict[str, float]] = {}
    for op, field, val in spec["meta"]:
        if op == "isin":
            raise SearchBodyError(
                "indexed keyword-equality filters need a field-token index")
        if op in ("gt", "lt"):
            raise SearchBodyError("indexed ranges are inclusive: use gte/lte")
        by_field.setdefault(field, {})[op] = val
    for field, b in sorted(by_field.items()):
        if set(b) != {"gte", "lte"}:
            raise SearchBodyError(f"indexed range on {field!r} needs both bounds")
        parts.append(f"{field}:[{b['gte']!r} TO {b['lte']!r}]")
    return " ".join(parts)


def search_body_indexed(spark, index_root: str, body: dict,
                        text_col: str = "text") -> DataFrame:
    """Serve a _search request body FROM the published index: the
    compiled spec translates to the query_string grammar and runs through
    wand.search_text_indexed (per-shard exact top-k, numeric ranges from
    the doc_map doc-values, tombstone-aware) — rank-identical to
    search_body by the rank-identity contract, hence the same oracle.
    from-pagination is rejected (keyset pagination is
    search_after_indexed's job — offset scans don't scale)."""
    from .wand import search_text_indexed

    spec = compile_body(body, text_col)
    if spec["from"]:
        raise SearchBodyError("indexed serving has no from-offset: use "
                              "search_after (keyset) pagination")
    if spec["_source"]:
        raise SearchBodyError("_source projection: join doc_map after")
    return search_text_indexed(spark, index_root, to_query_string(spec),
                               k=spec["size"])


# ---------------------------------------------------------------------------
# ES 8 sections beyond query/aggs: top-level ``knn``, hybrid query+knn
# score sum, the 8.14 ``retriever`` tree (rrf), ``collapse``, ``rescore``,
# ``highlight``. Each compiles onto an existing engine operator — the
# compiler adds validation + flattening, never a new execution path.


def compile_knn(knn: dict, vec_col: str = "embedding",
                label_col: str = "label") -> dict:
    """Validate the ES 8 top-level ``knn`` section. Closed subset:
    field (must name the vector column), query_vector, k,
    num_candidates (>= k — ES enforces the same), optional ``boost``
    and optional ``filter`` (term/terms equality on the label column —
    kNN pre-filtering). Brute-force cosine IS exact, so num_candidates
    only gates validation here; the IVF serving path honors it as nprobe
    breadth."""
    if not isinstance(knn, dict):
        raise SearchBodyError(f"knn section must be an object: {knn!r}")
    unknown = set(knn) - {"field", "query_vector", "k", "num_candidates",
                          "filter", "boost"}
    if unknown:
        raise SearchBodyError(f"unsupported knn options {unknown}")
    if knn.get("field") != vec_col:
        raise SearchBodyError(
            f"knn field {knn.get('field')!r} is not the vector column {vec_col!r}")
    qv = [float(x) for x in knn["query_vector"]]
    if not qv:
        raise SearchBodyError("empty query_vector")
    k = int(knn.get("k", 10))
    num_candidates = int(knn.get("num_candidates", max(k, 100)))
    if k <= 0 or num_candidates < k:
        raise SearchBodyError(
            f"knn needs 0 < k <= num_candidates (got k={k}, "
            f"num_candidates={num_candidates})")
    labels = None
    if "filter" in knn:
        kind, spec = _one_key(knn["filter"], "knn filter")
        if kind not in ("term", "terms"):
            raise SearchBodyError(f"unsupported knn filter kind {kind!r}")
        field, val = _one_key(spec, kind)
        if field != label_col:
            raise SearchBodyError(
                f"knn filter field {field!r} is not the label column")
        labels = [int(v) for v in (val if kind == "terms" else [val])]
    return {"qv": qv, "k": k, "num_candidates": num_candidates,
            "labels": labels, "boost": float(knn.get("boost", 1.0))}


def search_knn(emb: DataFrame, body: dict, id_col: str = "vec_id",
               vec_col: str = "embedding", label_col: str = "label") -> DataFrame:
    """A knn-only _search body: exact cosine top-k (two-level — the
    at-scale serving twin is ivf_search). With a filter: pre-filtered
    scan (partition-pruning shape), (qid, rank, vec_id, label, cos);
    without: (rank, vec_id, cos). ``size`` caps the returned window
    (ES returns min(size, k) hits)."""
    from .simsearch import cosine_topk, cosine_topk_filtered

    unknown = set(body) - {"knn", "size"}
    if unknown:
        raise SearchBodyError(f"unsupported knn body keys {unknown}")
    spec = compile_knn(body["knn"], vec_col, label_col)
    size = int(body.get("size", spec["k"]))
    if not (0 < size <= spec["k"]):
        raise SearchBodyError("knn body needs 0 < size <= knn.k")
    if spec["labels"] is not None:
        return cosine_topk_filtered(emb, {"q": spec["qv"]}, spec["labels"],
                                    k=size, id_col=id_col, vec_col=vec_col,
                                    label_col=label_col)
    return cosine_topk(emb, {"q": spec["qv"]}, k=size,
                       id_col=id_col, vec_col=vec_col).drop("qid")


def search_knn_sql(body: dict, vec_col: str = "embedding",
                   label_col: str = "label") -> str:
    """Oracle for search_knn — the existing brute-force duals, built from
    the SAME compile_knn flattening."""
    from .oracles_ops import cosine_topk_filtered_sql, cosine_topk_sql

    spec = compile_knn(body["knn"], vec_col, label_col)
    size = int(body.get("size", spec["k"]))
    if spec["labels"] is not None:
        return cosine_topk_filtered_sql(spec["qv"], spec["labels"], k=size)
    return cosine_topk_sql(spec["qv"], k=size)


def _hybrid_parts(body: dict, text_col: str, vec_col: str) -> tuple:
    """Shared flattening for the hybrid (query + knn sum) body: the query
    half must be a single match on the text field (the closed subset —
    richer bool trees fuse via the retriever/rrf path), the knn half is
    compile_knn without a filter."""
    unknown = set(body) - {"query", "knn", "size"}
    if unknown:
        raise SearchBodyError(f"unsupported hybrid body keys {unknown}")
    kind, mspec = _one_key(body["query"], "hybrid query")
    if kind != "match":
        raise SearchBodyError("hybrid query half: only match is supported "
                              "(compose richer trees with retriever.rrf)")
    field, spec = _one_key(mspec, "match")
    if _is_meta(field, text_col):
        raise SearchBodyError(f"match on non-text field {field!r}")
    terms, op = _match_terms(spec, "hybrid")
    knn = compile_knn(body["knn"], vec_col)
    if knn["labels"] is not None:
        raise SearchBodyError("hybrid knn filter is outside the closed subset")
    return terms, op, knn, int(body.get("size", 10))


def search_hybrid(docs: DataFrame, emb: DataFrame, body: dict,
                  text_col: str = "text", id_col: str = "doc_id",
                  vec_id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """ES 8 hybrid retrieval, pre-retriever style: a body with BOTH
    ``query`` and ``knn`` sums their scores — every query-matching doc
    contributes its BM25 score, docs in the knn top-k add cos·boost
    (knn contributes ONLY inside its top-k; ES semantics). Scale shape:
    the BM25 side is the one-pass scored relation, the knn side is k
    rows, the fusion is a full-outer join finished by
    TakeOrderedAndProject. (rank, doc_id, score)."""
    from pyspark.sql.window import Window

    from .query import bm25_scores, conjunctive_match
    from .simsearch import cosine_topk

    terms, op, knn, size = _hybrid_parts(body, text_col, vec_col)
    eligible = (conjunctive_match(docs, terms, text_col=text_col)
                if op == "and" else None)
    b = bm25_scores(docs, terms, id_col=id_col, text_col=text_col,
                    eligible=eligible)
    e = cosine_topk(emb, {"q": knn["qv"]}, k=knn["k"], id_col=vec_id_col,
                    vec_col=vec_col).select(
        F.col("vec_id").alias("doc_id"), "cos")
    u = b.join(e, "doc_id", "full_outer")
    comb = F.round(
        F.coalesce(F.col("score"), F.lit(0.0))
        + F.coalesce(F.col("cos") * F.lit(knn["boost"]), F.lit(0.0)), 6)
    top = (u.select("doc_id", comb.alias("hscore"))
           .orderBy(F.col("hscore").desc(), F.col("doc_id").asc())
           .limit(size))
    w = Window.orderBy(F.col("hscore").desc(), F.col("doc_id").asc())
    return (top.withColumn("rank", F.row_number().over(w))
            .select("rank", "doc_id", F.col("hscore").alias("score"))
            .orderBy("rank"))


def search_hybrid_sql(body: dict, text_col: str = "text",
                      vec_col: str = "embedding") -> str:
    """Oracle for search_hybrid from the SAME flattening: the bool_bm25
    scored CTE (rounded 6 before combining, the rank-identity contract)
    full-outer joined with the cosine top-knn.k CTE, bm25 + cos·boost in
    that operand order."""
    from . import B, K1
    from .oracles import _terms_in, _tf_ctes

    terms, op, knn, size = _hybrid_parts(body, text_col, vec_col)
    gate = ""
    if op == "and":
        m = sorted(set(terms))
        gate = f"""
  WHERE tf.doc_id IN (
    SELECT doc_id FROM tf WHERE term IN {_terms_in(m)}
    GROUP BY doc_id HAVING count(*) = {len(m)})"""
    qlit = "[" + ", ".join(f"{x!r}::DOUBLE" for x in knn["qv"]) + "]"
    return f"""
WITH {_tf_ctes(text_col)},
dfs AS (
  SELECT term, count(*) AS df FROM tf
  WHERE term IN {_terms_in(terms)} GROUP BY term
),
bscored AS (
  SELECT tf.doc_id,
         round(sum( ln(1 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
              * (tf.tf * {K1 + 1.0}) / (tf.tf + {K1} * ({1.0 - B} + {B} * dl.dl / stats.avgdl))
            ), 6) AS bscore
  FROM tf JOIN dfs USING (term) JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats
  {gate}
  GROUP BY tf.doc_id
),
q AS (SELECT {qlit} AS qv),
escored AS (
  SELECT e.vec_id,
         round(
           list_sum(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * q.qv[i]))
           / (sqrt(list_sum(list_transform(range(1, 65), i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)))
            * sqrt(list_sum(list_transform(range(1, 65), i -> q.qv[i] * q.qv[i]))))
         , 6) AS cos
  FROM embeddings e CROSS JOIN q
),
etop AS (
  SELECT vec_id, cos FROM (
    SELECT vec_id, cos, row_number() OVER (ORDER BY cos DESC, vec_id ASC) AS rn
    FROM escored
  ) WHERE rn <= {knn["k"]}
)
SELECT rank, doc_id, score FROM (
  SELECT row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank, doc_id, score FROM (
    SELECT coalesce(b.doc_id, e.vec_id) AS doc_id,
           round(coalesce(b.bscore, 0.0) + coalesce(e.cos * {knn["boost"]!r}, 0.0), 6) AS score
    FROM bscored b FULL OUTER JOIN etop e ON b.doc_id = e.vec_id
  )
) WHERE rank <= {size} ORDER BY rank
"""


def compile_retriever(body: dict, text_col: str = "text",
                      vec_col: str = "embedding") -> dict:
    """Validate the ES 8.14 ``retriever`` tree. Closed subset: one ``rrf``
    node over exactly [standard(match), knn] children, with
    rank_constant / rank_window_size."""
    unknown = set(body) - {"retriever", "size"}
    if unknown:
        raise SearchBodyError(f"unsupported retriever body keys {unknown}")
    kind, node = _one_key(body["retriever"], "retriever")
    if kind != "rrf":
        raise SearchBodyError(f"unsupported retriever kind {kind!r}")
    unknown = set(node) - {"retrievers", "rank_constant", "rank_window_size"}
    if unknown:
        raise SearchBodyError(f"unsupported rrf options {unknown}")
    kids = node.get("retrievers") or []
    if len(kids) != 2:
        raise SearchBodyError("rrf needs exactly [standard, knn] children")
    skind, std = _one_key(kids[0], "retriever child 0")
    kkind, knn = _one_key(kids[1], "retriever child 1")
    if (skind, kkind) != ("standard", "knn"):
        raise SearchBodyError(
            f"rrf children must be [standard, knn], got [{skind}, {kkind}]")
    qkind, mspec = _one_key(std.get("query") or {}, "standard query")
    if qkind != "match":
        raise SearchBodyError("standard retriever: only match is supported")
    field, spec = _one_key(mspec, "match")
    if _is_meta(field, text_col):
        raise SearchBodyError(f"match on non-text field {field!r}")
    terms, op = _match_terms(spec, "standard retriever")
    if op != "or":
        raise SearchBodyError("standard retriever match must be OR "
                              "(rrf fuses rankings, not eligibility)")
    kspec = compile_knn(knn, vec_col)
    if kspec["labels"] is not None:
        raise SearchBodyError("retriever knn filter is outside the closed subset")
    window = int(node.get("rank_window_size", 50))
    if kspec["k"] != window:
        raise SearchBodyError(
            "rrf fuses each child's rank_window_size-deep list: the knn "
            f"child needs k == rank_window_size (got {kspec['k']} != {window})")
    return {"terms": terms, "knn": kspec,
            "k0": int(node.get("rank_constant", 60)),
            "window": window,
            "size": int(body.get("size", 10))}


def search_retriever(docs: DataFrame, emb: DataFrame, body: dict,
                     text_col: str = "text") -> DataFrame:
    """Execute a retriever.rrf tree — compiles onto hybrid_rrf (both
    branches top-window, fusion join <= 2*window rows).
    (rank, doc_id, rrf)."""
    from .simsearch import hybrid_rrf

    spec = compile_retriever(body, text_col)
    return hybrid_rrf(docs, emb, spec["terms"], spec["knn"]["qv"],
                      k=spec["size"], n_each=spec["window"], k0=spec["k0"],
                      text_col=text_col)


def search_retriever_sql(body: dict, text_col: str = "text") -> str:
    from .oracles_ops import hybrid_rrf_sql

    spec = compile_retriever(body, text_col)
    return hybrid_rrf_sql(spec["terms"], spec["knn"]["qv"], k=spec["size"],
                          n_each=spec["window"], k0=spec["k0"])


def _collapse_parts(body: dict, text_col: str) -> tuple:
    unknown = set(body) - {"query", "collapse", "size"}
    if unknown:
        raise SearchBodyError(f"unsupported collapse body keys {unknown}")
    c = body["collapse"]
    if set(c) != {"field"}:
        raise SearchBodyError(f"collapse takes exactly {{field}}: {c!r}")
    kind, mspec = _one_key(body["query"], "collapse query")
    if kind != "match":
        raise SearchBodyError("collapse query: only match is supported")
    field, spec = _one_key(mspec, "match")
    if _is_meta(field, text_col):
        raise SearchBodyError(f"match on non-text field {field!r}")
    terms, op = _match_terms(spec, "collapse")
    if op != "or":
        raise SearchBodyError("collapse match must be OR (disjunctive BM25)")
    return terms, c["field"], int(body.get("size", 10))


def search_collapse(docs: DataFrame, body: dict,
                    text_col: str = "text") -> DataFrame:
    """The ES ``collapse`` section: top-``size`` with at most one hit per
    collapse-field value — compiles onto collapse_topk (sort-free max_by
    winners, two-level finish). (rank, doc_id, score, <field>)."""
    from .query_ext import collapse_topk

    terms, field, size = _collapse_parts(body, text_col)
    return collapse_topk(docs, terms, field, k=size, text_col=text_col)


def search_collapse_sql(body: dict, text_col: str = "text") -> str:
    from .oracles import collapse_topk_sql

    terms, field, size = _collapse_parts(body, text_col)
    return collapse_topk_sql(terms, field, k=size)


def _rescore_parts(body: dict, text_col: str) -> tuple:
    """Flatten a single-entry ES ``rescore`` section: the primary query and
    the rescore query must both be match clauses on the text field;
    weights must be given (and should be dyadic — the cross-engine
    float-exactness convention)."""
    unknown = set(body) - {"query", "rescore", "size"}
    if unknown:
        raise SearchBodyError(f"unsupported rescore body keys {unknown}")
    r = body["rescore"]
    unknown = set(r) - {"window_size", "query"}
    if "query" not in r or unknown:
        raise SearchBodyError(f"bad rescore section {r!r}")
    rq = r["query"]
    unknown = set(rq) - {"rescore_query", "query_weight", "rescore_query_weight"}
    if "rescore_query" not in rq or unknown:
        raise SearchBodyError(f"bad rescore query {rq!r}")

    def _match_of(q, what):
        kind, mspec = _one_key(q, what)
        if kind != "match":
            raise SearchBodyError(f"{what}: only match is supported")
        field, spec = _one_key(mspec, "match")
        if _is_meta(field, text_col):
            raise SearchBodyError(f"match on non-text field {field!r}")
        terms, op = _match_terms(spec, what)
        if op != "or":
            raise SearchBodyError(f"{what} match must be OR")
        return terms

    return (_match_of(body["query"], "rescore primary"),
            _match_of(rq["rescore_query"], "rescore_query"),
            int(r.get("window_size", 10)),
            float(rq.get("query_weight", 1.0)),
            float(rq.get("rescore_query_weight", 1.0)),
            int(body.get("size", 10)))


def search_rescore(docs: DataFrame, body: dict,
                   text_col: str = "text") -> DataFrame:
    """The ES ``rescore`` section (one entry): BM25 top-``window_size`` by
    the primary query, re-scored as qw*primary + rw*rescore_bm25 (0 when
    the rescore query misses), final top-``size``. Scale shape: the
    rescore relation is semi-joined down to the window's ids BEFORE the
    left join (both sides <= window rows — the window broadcast is the
    build side twice). (rank, doc_id, score)."""
    from .query import _topk_ranked, bm25_scores, bm25_topk

    terms, rterms, window, qw, rw, size = _rescore_parts(body, text_col)
    win = (bm25_topk(docs, terms, k=window, text_col=text_col)
           .select("doc_id", F.col("score").alias("s1")))
    r2 = bm25_scores(docs, rterms, text_col=text_col)
    r2w = r2.join(F.broadcast(win.select("doc_id")), "doc_id").select(
        "doc_id", F.col("score").alias("s2"))
    comb = win.join(F.broadcast(r2w), "doc_id", "left").select(
        "doc_id",
        F.round(F.lit(qw) * F.col("s1")
                + F.lit(rw) * F.coalesce(F.col("s2"), F.lit(0.0)), 6
                ).alias("score"))
    return _topk_ranked(comb, size)


def search_rescore_sql(body: dict, text_col: str = "text") -> str:
    """Oracle for search_rescore from the SAME flattening: two scored CTEs
    over the shared tf (each rounded 6 before weighting), the window by
    rounded primary score, LEFT JOIN + coalesce(0) combine."""
    from . import B, K1
    from .oracles import _terms_in, _tf_ctes

    terms, rterms, window, qw, rw, size = _rescore_parts(body, text_col)

    def _scored(name, dfs, ts):
        return f"""
{dfs} AS (
  SELECT term, count(*) AS df FROM tf
  WHERE term IN {_terms_in(ts)} GROUP BY term
),
{name} AS (
  SELECT tf.doc_id,
         round(sum( ln(1 + (stats.n_docs - {dfs}.df + 0.5) / ({dfs}.df + 0.5))
              * (tf.tf * {K1 + 1.0}) / (tf.tf + {K1} * ({1.0 - B} + {B} * dl.dl / stats.avgdl))
            ), 6) AS s
  FROM tf JOIN {dfs} ON {dfs}.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats
  GROUP BY tf.doc_id
)"""

    return f"""
WITH {_tf_ctes(text_col)},{_scored("scored1", "dfs1", terms)},{_scored("scored2", "dfs2", rterms)},
win AS (
  SELECT doc_id, s AS s1 FROM (
    SELECT doc_id, s, row_number() OVER (ORDER BY s DESC, doc_id ASC) AS rn
    FROM scored1
  ) WHERE rn <= {window}
)
SELECT rank, doc_id, score FROM (
  SELECT row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank, doc_id, score FROM (
    SELECT w.doc_id,
           round({qw!r} * w.s1 + {rw!r} * coalesce(s2.s, 0.0), 6) AS score
    FROM win w LEFT JOIN scored2 s2 ON s2.doc_id = w.doc_id
  )
) WHERE rank <= {size} ORDER BY rank
"""


def _highlight_parts(body: dict, text_col: str) -> tuple:
    unknown = set(body) - {"query", "highlight", "from", "size"}
    if unknown:
        raise SearchBodyError(f"unsupported highlight body keys {unknown}")
    h = body["highlight"]
    if set(h) != {"fields"} or len(h["fields"]) != 1:
        raise SearchBodyError(f"highlight takes exactly one field: {h!r}")
    field, opts = _one_key(h["fields"], "highlight field")
    if field != text_col:
        raise SearchBodyError(f"highlight on non-text field {field!r}")
    unknown = set(opts or {}) - {"fragment_size"}
    if unknown:
        raise SearchBodyError(f"unsupported highlight options {unknown}")
    width = int((opts or {}).get("fragment_size", 48)) // 2
    rest = {k: v for k, v in body.items() if k != "highlight"}
    spec = compile_body(rest, text_col)
    hl_term = (spec["must"] or spec["should"])[0]
    return rest, hl_term, width


def search_highlight(docs: DataFrame, body: dict,
                     text_col: str = "text") -> DataFrame:
    """The ES ``highlight`` section (closed subset: one text field, the
    FIRST scored term's +-width window as the single fragment —
    snippet_expr). Hits come from the ordinary body compile; the source
    join touches size rows. (rank, doc_id, score, snippet)."""
    from .query_ext import snippet_expr

    rest, hl_term, width = _highlight_parts(body, text_col)
    hits = search_body(docs, rest, text_col)
    src = docs.select("doc_id", text_col)
    return (hits.join(src, "doc_id")
            .select("rank", "doc_id", "score",
                    snippet_expr(text_col, hl_term, width).alias("snippet"))
            .orderBy("rank"))


def search_highlight_sql(body: dict, text_col: str = "text") -> str:
    """Oracle: the body oracle as a CTE + the snippet_expr mirror over the
    joined source text (same padding/strpos/greatest/trim shape as
    oracles.snippets_sql)."""
    rest, hl_term, width = _highlight_parts(body, text_col)
    t = hl_term.replace("'", "''")
    window = width * 2 + len(hl_term)
    return f"""
WITH hits AS ({search_body_sql(rest, text_col)})
SELECT h.rank, h.doc_id, h.score,
       CASE WHEN strpos(concat(' ', d.{text_col}, ' '), ' {t} ') > 0
            THEN trim(substr(concat(' ', d.{text_col}, ' '),
                             greatest(strpos(concat(' ', d.{text_col}, ' '), ' {t} ') - {width}, 1),
                             {window}))
            ELSE '' END AS snippet
FROM hits h JOIN documents d ON d.doc_id = h.doc_id
ORDER BY h.rank
"""


def search_count(docs: DataFrame, body: dict, text_col: str = "text") -> DataFrame:
    """The ES _count API: cardinality of the query-MATCHED set (no
    scoring, no window) — the _matched eligibility gates + ONE count
    aggregate. (count,) single row."""
    unknown = set(body) - {"query"}
    if unknown:
        raise SearchBodyError(f"_count takes only a query: {unknown}")
    spec = compile_body({**body, "size": 1}, text_col)
    matched = _matched(docs, spec, text_col)
    return matched.agg(F.count(F.lit(1)).cast("long").alias("count"))


def search_count_sql(body: dict, text_col: str = "text") -> str:
    """Oracle for search_count: the search_aggs_sql gate set with a bare
    COUNT — built from the SAME compile_body flattening."""
    from .oracles import _terms_in, _tf_ctes

    spec = compile_body({**body, "size": 1}, text_col)
    gates = []
    if spec["must"]:
        m = sorted(set(spec["must"]))
        gates.append(f"""d.doc_id IN (
  SELECT doc_id FROM tf WHERE term IN {_terms_in(m)}
  GROUP BY doc_id HAVING count(*) = {len(m)})""")
    elif spec["should"]:
        gates.append(f"""d.doc_id IN (
  SELECT DISTINCT doc_id FROM tf WHERE term IN {_terms_in(spec['should'])})""")
    if spec["filter_terms"]:
        ft = sorted(set(spec["filter_terms"]))
        gates.append(f"""d.doc_id IN (
  SELECT doc_id FROM tf WHERE term IN {_terms_in(ft)}
  GROUP BY doc_id HAVING count(*) = {len(ft)})""")
    if spec["must_not"]:
        gates.append(f"""d.doc_id NOT IN (
  SELECT DISTINCT doc_id FROM tf WHERE term IN {_terms_in(spec['must_not'])})""")
    if spec["meta"]:
        gates.append(f"d.doc_id IN ({meta_filter_sql(spec['meta'])})")
    where = " AND ".join(gates) or "1=1"
    return f"""
WITH {_tf_ctes(text_col)}
SELECT CAST(count(*) AS BIGINT) AS count FROM documents d WHERE {where}
"""


def search_knn_indexed(spark, index_root: str, body: dict,
                       nprobe: int = 4) -> DataFrame:
    """The knn section served FROM the persisted IVF index: probed
    centroid partitions only (partition pruning), exact re-rank inside
    the probe set. ``num_candidates`` is validated (>= k, the ES
    contract); probe breadth is the IVF serving knob ``nprobe`` — the
    engine-side analog of ES's per-shard candidate pool (raise it for
    recall exactly as ES raises num_candidates). Label filters route
    through ivf_search(eligible=) (the ann_filtered_indexed path) and are
    rejected here. (rank, vec_id, cos)."""
    from .simsearch import ivf_search

    unknown = set(body) - {"knn", "size"}
    if unknown:
        raise SearchBodyError(f"unsupported knn body keys {unknown}")
    spec = compile_knn(body["knn"])
    if spec["labels"] is not None:
        raise SearchBodyError(
            "indexed knn filter: pass an eligible relation to ivf_search "
            "(the filtered-kNN serving path)")
    size = int(body.get("size", spec["k"]))
    if not (0 < size <= spec["k"]):
        raise SearchBodyError("knn body needs 0 < size <= knn.k")
    return ivf_search(spark, index_root, {"q": spec["qv"]}, k=size,
                      nprobe=nprobe).drop("qid")


ES_TYPE_MAP = {
    "bigint": "long", "int": "integer", "double": "double",
    "float": "float", "string": "keyword", "boolean": "boolean",
    "timestamp": "date", "timestamp_ntz": "date",
}


def field_caps(spark, tables: dict, text_fields: tuple = ("text",)) -> DataFrame:
    """ES _field_caps API: per-field capabilities across indices — the
    schema-introspection call every ES client fires before building
    queries. Pure metadata (reads parquet FOOTERS via the DataFrame
    schema, never data — exactly like ES, which answers from mappings).
    A field name mapping to different ES types across indices yields one
    row PER type (the ES conflict shape); ``text_fields`` are analyzed
    (searchable, NOT aggregatable), everything else doc-values both.
    (field, es_type, searchable, aggregatable, indices), field asc."""
    rows: dict = {}
    for tname in sorted(tables):
        for f in tables[tname].schema.fields:
            t = f.dataType.simpleString()
            es = "text" if f.name in text_fields else ES_TYPE_MAP.get(t)
            if es is None:
                raise ValueError(f"unmapped Spark type for field_caps: {t!r}")
            rows.setdefault((f.name, es), []).append(tname)
    data = [
        (name, es, True, es != "text", ",".join(sorted(ts)))
        for (name, es), ts in sorted(rows.items())
    ]
    return spark.createDataFrame(
        data,
        "field string, es_type string, searchable boolean, "
        "aggregatable boolean, indices string",
    ).orderBy("field", "es_type")


def field_caps_sql(tables: tuple = ("documents", "events"),
                   text_fields: tuple = ("text",)) -> str:
    """Mirror of field_caps from the catalog's information_schema: the
    same canonical DuckDB-type -> ES-type mapping, one row per (field,
    type), same analyzed-field rule."""
    tlist = ", ".join(f"'{t}'" for t in sorted(tables))
    texts = ", ".join(f"'{t}'" for t in sorted(text_fields)) or "''"
    es_type = f"""CASE
      WHEN column_name IN ({texts}) THEN 'text'
      WHEN data_type = 'BIGINT' THEN 'long'
      WHEN data_type = 'INTEGER' THEN 'integer'
      WHEN data_type = 'DOUBLE' THEN 'double'
      WHEN data_type = 'FLOAT' THEN 'float'
      WHEN data_type = 'VARCHAR' THEN 'keyword'
      WHEN data_type = 'BOOLEAN' THEN 'boolean'
      WHEN data_type LIKE 'TIMESTAMP%' THEN 'date'
      END"""
    return f"""
WITH c AS (
  SELECT column_name AS field, {es_type} AS es_type, table_name
  FROM information_schema.columns
  WHERE table_name IN ({tlist})
)
SELECT field, es_type, true AS searchable,
       es_type <> 'text' AS aggregatable,
       string_agg(table_name, ',' ORDER BY table_name) AS indices
FROM c
GROUP BY field, es_type
ORDER BY field, es_type
"""


# ---------------------------------------------------------------------------
# Runtime fields (ES runtime_mappings): search-time computed fields usable
# in query filters and aggregations without reindexing — the ES schema-on-
# read feature. The Painless `emit(...)` script is replaced by a CLOSED
# expression grammar (anchored regexes, the esql/kql convention — no eval):
# ONE parse renders BOTH the Spark Column and the DuckDB SQL mirror, so a
# runtime field can never diverge across engines (the kql.py single-AST
# rule). Runtime fields are row-local projections: they add zero shuffles
# and never block predicate pushdown on concrete columns.
# ---------------------------------------------------------------------------

_RT_NUM = r"-?\d+(?:\.\d+)?"
_RT_STR = r"'[^']*'"
_RT_ID = r"[A-Za-z_][A-Za-z0-9_]*"
_RT_CMPOPS = ("<=", ">=", "!=", "<", ">", "=")


class RuntimeFieldError(ValueError):
    pass


def _rt_value(tok: str):
    """(column_thunk, sql) — the Spark Column is built LAZILY (zero-arg
    thunk) so oracle SQL can render with no active SparkContext (the
    driver builds oracle_sql() before any session exists)."""
    tok = tok.strip()
    if re.fullmatch(_RT_STR, tok):
        val = tok[1:-1]
        return (lambda: F.lit(val)), tok
    if re.fullmatch(_RT_NUM, tok):
        v = float(tok) if "." in tok else int(tok)
        return (lambda: F.lit(v)), repr(v)
    if re.fullmatch(_RT_ID, tok):
        name = tok
        return (lambda: F.col(name)), name
    raise RuntimeFieldError(f"bad runtime value {tok!r}")


_RT_CMP_FNS = {
    "<=": lambda c, v: c <= v, ">=": lambda c, v: c >= v,
    "<": lambda c, v: c < v, ">": lambda c, v: c > v,
    "=": lambda c, v: c == v, "!=": lambda c, v: c != v,
}


def _rt_condition(s: str):
    m = re.fullmatch(
        rf"\s*({_RT_ID})\s*(<=|>=|!=|<|>|=)\s*({_RT_STR}|{_RT_NUM})\s*", s)
    if not m:
        raise RuntimeFieldError(f"bad runtime condition {s!r}")
    fld, op, lit = m.groups()
    vt, vs = _rt_value(lit)
    cmp_fn = _RT_CMP_FNS[op]

    def thunk(fld=fld, cmp_fn=cmp_fn, vt=vt):
        return cmp_fn(F.col(fld), vt())

    return thunk, f"{fld} {'<>' if op == '!=' else op} {vs}"


_RT_FUNCS = {"abs": "abs", "length": "length", "lower": "lower",
             "upper": "upper"}
_RT_ARITH = {
    "+": lambda c, v: c + v, "-": lambda c, v: c - v,
    "*": lambda c, v: c * v, "/": lambda c, v: c / v,
}


def compile_runtime_script(s: str):
    """(column_thunk, sql_expr) for one runtime-field script. Grammar:
    CASE(cond, value, value|CASE(...)) | round(f, n) | abs/length/
    lower/upper(f) | f op number | f. The thunk defers Column creation
    (no SparkContext needed to render the SQL mirror)."""
    s = s.strip()
    m = re.fullmatch(r"CASE\((.+)\)", s, re.DOTALL)
    if m:
        args = _split_toplevel(m.group(1))
        if len(args) != 3:
            raise RuntimeFieldError(f"CASE takes 3 args: {s!r}")
        cond_t, cond_s = _rt_condition(args[0])
        then_t, then_s = compile_runtime_script(args[1])
        else_t, else_s = compile_runtime_script(args[2])

        def thunk(cond_t=cond_t, then_t=then_t, else_t=else_t):
            return F.when(cond_t(), then_t()).otherwise(else_t())

        return thunk, f"CASE WHEN {cond_s} THEN {then_s} ELSE {else_s} END"
    m = re.fullmatch(rf"round\(\s*({_RT_ID})\s*,\s*(\d+)\s*\)", s)
    if m:
        fld, nd = m.group(1), int(m.group(2))
        return (lambda: F.round(F.col(fld), nd)), f"round({fld}, {nd})"
    m = re.fullmatch(rf"(abs|length|lower|upper)\(\s*({_RT_ID})\s*\)", s)
    if m:
        fn, fld = m.groups()

        def thunk(fn=fn, fld=fld):
            return {"abs": F.abs, "length": F.length, "lower": F.lower,
                    "upper": F.upper}[fn](F.col(fld))

        return thunk, f"{fn}({fld})"
    m = re.fullmatch(rf"({_RT_ID})\s*([+\-*/])\s*({_RT_NUM})", s)
    if m:
        fld, op, num = m.groups()
        nt, ns = _rt_value(num)
        arith = _RT_ARITH[op]

        def thunk(fld=fld, arith=arith, nt=nt):
            return arith(F.col(fld), nt())

        return thunk, f"({fld} {op} {ns})"
    try:
        return _rt_value(s)
    except RuntimeFieldError:
        raise RuntimeFieldError(f"unsupported runtime script {s!r}")


def _rt_parts(body: dict) -> tuple[dict, tuple | None, tuple]:
    """Shared compile of a runtime _search body: runtime field map,
    optional term/range query (may reference runtime fields), one terms
    agg with metric sub-aggs (may reference runtime fields). All Spark
    Columns are zero-arg thunks (built only on the execute path)."""
    rt = {}
    for name, spec in (body.get("runtime_mappings") or {}).items():
        if set(spec) - {"type", "script"} or "script" not in spec:
            raise RuntimeFieldError(f"bad runtime mapping {spec!r}")
        rt[name] = compile_runtime_script(spec["script"])
    q = body.get("query")
    qc = None
    if q is not None:
        kind, m = _one_key(q, "query")
        if kind == "term":
            (fld, val), = m.items()
            vt, vs = _rt_value(f"'{val}'" if isinstance(val, str) else str(val))

            def qthunk(fld=fld, vt=vt):
                return F.col(fld) == vt()

            qc = (qthunk, f"{fld} = {vs}")
        elif kind == "range":
            (fld, bounds), = m.items()
            thunks, conds_s = [], []
            for bop, sop in (("gte", ">="), ("lte", "<="),
                             ("gt", ">"), ("lt", "<")):
                if bop in bounds:
                    vt, vs = _rt_value(str(bounds[bop]))
                    thunks.append((_RT_CMP_FNS[sop], fld, vt))
                    conds_s.append(f"{fld} {sop} {vs}")
            if not thunks:
                raise RuntimeFieldError(f"empty range bounds {bounds!r}")

            def qthunk(thunks=thunks):
                cc = None
                for cmp_fn, fld, vt in thunks:
                    c = cmp_fn(F.col(fld), vt())
                    cc = c if cc is None else (cc & c)
                return cc

            qc = (qthunk, " AND ".join(conds_s))
        else:
            raise RuntimeFieldError(f"unsupported runtime query {kind!r}")
    name, field, size, subs = _compile_aggs(body["aggs"])
    return rt, qc, (field, size, subs)


def runtime_search(df: DataFrame, body: dict) -> DataFrame:
    """Execute a _search body with runtime_mappings over any table: project
    the runtime columns (row-local), apply the query filter, run the terms
    agg (count desc, key asc — ES bucket order). Metric doubles round to 6
    (group-sum order is engine-specific below that). Columns:
    (key, doc_count, <sub-aggs...>)."""
    rt, qc, (field, size, subs) = _rt_parts(body)
    for fname, (colt, _sql) in sorted(rt.items()):
        df = df.withColumn(fname, colt())
    if qc is not None:
        df = df.filter(qc[0]())
    aggs = [F.count(F.lit(1)).cast("long").alias("doc_count")]
    for sub_name, kind, sub_field in subs:
        c = {"avg": F.avg, "sum": F.sum, "min": F.min, "max": F.max,
             "value_count": F.count}[kind](F.col(sub_field))
        if kind == "value_count":
            c = c.cast("long")
        elif kind in ("avg", "sum"):
            c = F.round(c, 6)
        aggs.append(c.alias(sub_name))
    out = (df.groupBy(F.col(field).alias("key")).agg(*aggs)
           .orderBy(F.col("doc_count").desc(), F.col("key").asc())
           .limit(size))
    return out


def runtime_search_sql(body: dict, table: str) -> str:
    """DuckDB mirror rendered from the SAME compiled AST as
    runtime_search — runtime scripts can never diverge across engines."""
    rt, qc, (field, size, subs) = _rt_parts(body)
    proj = ", ".join([f"{table}.*"] + [f"{sql} AS {n}" for n, (_t, sql) in
                                       sorted(rt.items())])
    where = f"WHERE {qc[1]}" if qc is not None else ""
    cols = [f"CAST(count(*) AS BIGINT) AS doc_count"]
    for sub_name, kind, sub_field in subs:
        if kind == "value_count":
            cols.append(f"CAST(count({sub_field}) AS BIGINT) AS {sub_name}")
        elif kind in ("avg", "sum"):
            cols.append(f"round({kind}({sub_field}), 6) AS {sub_name}")
        else:
            cols.append(f"{kind}({sub_field}) AS {sub_name}")
    return f"""
WITH rtv AS (SELECT {proj} FROM {table})
SELECT {field} AS key, {", ".join(cols)}
FROM rtv {where}
GROUP BY {field}
ORDER BY doc_count DESC, key ASC
LIMIT {size}
"""


_SM_COMBINES = ("sum", "min", "max", "avg", "count")


def _scripted_metric_parts(map_script: str, combine: str):
    if combine not in _SM_COMBINES:
        raise RuntimeFieldError(
            f"scripted_metric combine must be associative ({_SM_COMBINES}), "
            f"got {combine!r} — arbitrary combine/reduce scripts need a "
            "driver-side state merge and do not distribute")
    return compile_runtime_script(map_script)


def scripted_metric(df: DataFrame, group_field: str, map_script: str,
                    combine: str, name: str = "value") -> DataFrame:
    """ES scripted_metric aggregation, restricted to the associative form
    (ref: ES search-aggregations-metrics-scripted-metric). The map_script
    runs row-local through the closed runtime-script grammar (ONE AST
    renders the Spark Column AND the SQL mirror — the runtime_fields
    rule), and combine_script/reduce_script collapse to a single
    associative operator (sum/min/max/avg/count): Spark's map-side partial
    aggregation IS the combine phase and the shuffle-side merge IS the
    reduce phase, so the agg distributes with no driver-side state —
    the only scripted_metric shape that survives 100 TB. Output:
    (key, <name>) sorted by key."""
    mt, _msql = _scripted_metric_parts(map_script, combine)
    mapped = df.select(F.col(group_field).alias("key"), mt().alias("__m"))
    if combine == "count":
        agg = F.count("__m").cast("long")
    else:
        agg = {"sum": F.sum, "min": F.min, "max": F.max, "avg": F.avg}[
            combine](F.col("__m"))
        if combine in ("sum", "avg"):
            agg = F.round(agg, 6)
    return (mapped.groupBy("key").agg(agg.alias(name))
            .orderBy(F.col("key").asc()))


def scripted_metric_sql(table: str, group_field: str, map_script: str,
                        combine: str, name: str = "value") -> str:
    """DuckDB mirror rendered from the SAME compiled map AST."""
    _mt, msql = _scripted_metric_parts(map_script, combine)
    if combine == "count":
        expr = f"CAST(count(__m) AS BIGINT)"
    elif combine in ("sum", "avg"):
        expr = f"round({combine}(__m), 6)"
    else:
        expr = f"{combine}(__m)"
    return f"""
WITH mapped AS (SELECT {group_field} AS key, {msql} AS __m FROM {table})
SELECT key, {expr} AS {name} FROM mapped GROUP BY key ORDER BY key ASC
"""
