"""ANSI-SQL (DuckDB) oracles mirroring the Spark pipelines.

The reference pins query behavior with golden assertions against a live
Elasticsearch (/root/reference tests/tests.rs:208-228,
tests/openmaptiles2mimir/mod.rs:361-368). Our oracle is DuckDB running the
same math on the same parquet: every formula below is written in the same
operand order as the Spark side so float64 results agree bit-for-bit except
for the final per-doc sum, which both sides round to 6 decimals.

Tokenization parity: Spark `split(text, ' ')` + drop '' ==
DuckDB `string_split(text, ' ')` + WHERE tok <> ''.
"""

from __future__ import annotations

from . import B, K1

# shared CTE prefix: tokens → tf → dl → corpus stats, over the driver's
# pre-registered `documents` view (doc_id, text, lang, source, n_chars).
# ``text_expr`` parameterizes the analyzed text (e.g. the token-bag form
# concat(text, ' source:', source) for field-scoped indexed queries).


def _tf_ctes(text_expr: str = "text", docs_where: str = "") -> str:
    src = (
        f"(SELECT * FROM documents WHERE {docs_where}) AS documents"
        if docs_where else "documents"
    )
    return f"""
toks AS (
  SELECT doc_id, t.tok AS term
  FROM {src}, unnest(string_split({text_expr}, ' ')) AS t(tok)
  WHERE t.tok <> ''
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl)
"""


_TF_CTES = _tf_ctes()


def _terms_in(terms: list[str]) -> str:
    quoted = ", ".join("'" + t.replace("'", "''") + "'" for t in sorted(set(terms)))
    return f"({quoted})"


def bm25_topk_sql(terms: list[str], k: int = 10, boosted: bool = False,
                  text_expr: str = "text", docs_where: str = "") -> str:
    """Top-k BM25, optionally with fafnir's doc-weight boost
    1 - 1/(1+n_chars) (poi_display_weight family, /root/reference
    tests/openmaptiles2mimir/data/functions.sql:112-126). ``text_expr``
    parameterizes the analyzed text (e.g. a CASE-modified corpus for the
    upsert-lifecycle oracle); ``docs_where`` restricts the corpus itself
    (post-compaction mass-delete oracle)."""
    boost = "* (1 - 1/(1 + d.n_chars))" if boosted else ""
    join_docs = "JOIN documents d ON d.doc_id = tf.doc_id" if boosted else ""
    return f"""
WITH {_tf_ctes(text_expr, docs_where)},
dfs AS (
  SELECT term, count(*) AS df FROM tf
  WHERE term IN {_terms_in(terms)} GROUP BY term
),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
              * (tf.tf * {K1 + 1.0}) / (tf.tf + {K1} * ({1.0 - B} + {B} * dl.dl / stats.avgdl))
            ) {boost} AS raw_score
  FROM tf
  JOIN dfs USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats
  {join_docs}
  GROUP BY tf.doc_id{", d.n_chars" if boosted else ""}
)
SELECT rank, doc_id, score FROM (
  SELECT row_number() OVER (ORDER BY round(raw_score, 6) DESC, doc_id ASC) AS rank,
         doc_id, round(raw_score, 6) AS score
  FROM scored
) WHERE rank <= {k}
ORDER BY rank
"""


def bulk_delete_sql(terms: list[str], k: int, survivors_where: str,
                    post_compact: bool) -> str:
    """Oracle for the mass-delete lifecycle.

    post_compact=False — deleted docs are tombstoned but still in the
    segments: df/avgdl/n_docs stay STALE (full corpus, ES-faithful) and
    only the result set is restricted to survivors (exclusion happens
    before the per-shard top-k, so filter-then-rank).
    post_compact=True — the drain rewrote the index: stats and scores are
    those of a fresh build over the surviving corpus."""
    if post_compact:
        return bm25_topk_sql(terms, k=k, docs_where=survivors_where)
    return f"""
WITH {_TF_CTES},
dfs AS (
  SELECT term, count(*) AS df FROM tf
  WHERE term IN {_terms_in(terms)} GROUP BY term
),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
              * (tf.tf * {K1 + 1.0}) / (tf.tf + {K1} * ({1.0 - B} + {B} * dl.dl / stats.avgdl))
            ) AS raw_score
  FROM tf
  JOIN dfs USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT rank, doc_id, score FROM (
  SELECT row_number() OVER (ORDER BY round(raw_score, 6) DESC, doc_id ASC) AS rank,
         doc_id, round(raw_score, 6) AS score
  FROM scored
  WHERE {survivors_where}
) WHERE rank <= {k}
ORDER BY rank
"""


def more_like_this_indexed_sql(like_text: str, k: int = 10, n_terms: int = 5) -> str:
    """Oracle for the indexed more_like_this(like_text) path: term selection
    (tf from the literal text, df from the corpus == the fresh index's
    dictionary, tfidf = tf·ln(n_docs/df) rounded-6, term-asc tie-break)
    followed by standard BM25 over the selected disjunction."""
    lit = like_text.replace("'", "''")
    return f"""
WITH {_TF_CTES},
qtf AS (
  SELECT t.tok AS term, count(*) AS qtf
  FROM unnest(string_split('{lit}', ' ')) AS t(tok)
  WHERE t.tok <> '' GROUP BY t.tok
),
qdfs AS (
  SELECT term, count(*) AS df FROM tf
  WHERE term IN (SELECT term FROM qtf) GROUP BY term
),
sel AS (
  SELECT qtf.term
  FROM qtf JOIN qdfs USING (term) CROSS JOIN stats
  ORDER BY round(qtf.qtf * ln(stats.n_docs / qdfs.df), 6) DESC, qtf.term ASC
  LIMIT {n_terms}
),
dfs AS (
  SELECT term, count(*) AS df FROM tf
  WHERE term IN (SELECT term FROM sel) GROUP BY term
),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
              * (tf.tf * {K1 + 1.0}) / (tf.tf + {K1} * ({1.0 - B} + {B} * dl.dl / stats.avgdl))
            ) AS raw_score
  FROM tf
  JOIN dfs USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT rank, doc_id, score FROM (
  SELECT row_number() OVER (ORDER BY round(raw_score, 6) DESC, doc_id ASC) AS rank,
         doc_id, round(raw_score, 6) AS score
  FROM scored
) WHERE rank <= {k}
ORDER BY rank
"""


def term_stats_sql(min_df: int = 1) -> str:
    """Dictionary: (term, df, cf) — the core index aggregation."""
    # CAST: DuckDB sum(BIGINT) is HUGEINT (fetched as float64); Spark emits
    # bigint — without the cast the driver's value-hash diverges on type.
    return f"""
WITH {_TF_CTES}
SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf
FROM tf GROUP BY term HAVING count(*) >= {min_df}
ORDER BY term
"""


def prefix_bm25_sql(prefix: str, k: int = 10) -> str:
    """`prefix*` → expanded-term BM25 (scoring_boolean rewrite)."""
    p = prefix.replace("'", "''")
    return f"""
WITH {_TF_CTES},
dfs AS (
  SELECT term, count(*) AS df FROM tf
  WHERE term LIKE '{p}%' GROUP BY term
),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
              * (tf.tf * {K1 + 1.0}) / (tf.tf + {K1} * ({1.0 - B} + {B} * dl.dl / stats.avgdl))
            ) AS raw_score
  FROM tf
  JOIN dfs USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT rank, doc_id, score FROM (
  SELECT row_number() OVER (ORDER BY round(raw_score, 6) DESC, doc_id ASC) AS rank,
         doc_id, round(raw_score, 6) AS score
  FROM scored
) WHERE rank <= {k}
ORDER BY rank
"""


def fielded_bm25_sql(terms: list[str], field_filters: dict[str, str], k: int = 10) -> str:
    """Field-scoped BM25: filters restrict, scoring ignores them (ES filter
    context). Field tokens are column equality since they are generated
    from those columns (query_ext.with_field_tokens)."""
    preds = " AND ".join(
        f"{f} = '{v.replace(chr(39), chr(39) * 2)}'" for f, v in sorted(field_filters.items())
    )
    return f"""
WITH {_TF_CTES},
dfs AS (
  SELECT term, count(*) AS df FROM tf
  WHERE term IN {_terms_in(terms)} GROUP BY term
),
eligible AS (SELECT doc_id FROM documents WHERE {preds}),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
              * (tf.tf * {K1 + 1.0}) / (tf.tf + {K1} * ({1.0 - B} + {B} * dl.dl / stats.avgdl))
            ) AS raw_score
  FROM tf
  JOIN dfs USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT rank, doc_id, score FROM (
  SELECT row_number() OVER (ORDER BY round(raw_score, 6) DESC, scored.doc_id ASC) AS rank,
         scored.doc_id, round(raw_score, 6) AS score
  FROM scored JOIN eligible ON eligible.doc_id = scored.doc_id
) WHERE rank <= {k}
ORDER BY rank
"""


def bool_bm25_sql(
    must: list[str] | None = None,
    should: list[str] | None = None,
    must_not: list[str] | None = None,
    k: int = 10,
    minimum_should_match: int | None = None,
    boosts: dict[str, float] | None = None,
    filter_terms: list[str] | None = None,
    text_expr: str = "text",
    extra_filter_sql: str = "",
    from_: int = 0,
) -> str:
    """ES bool-query mirror: must (all, scored) + should (scored) −
    must_not (any excludes); optional minimum_should_match, per-term
    boosts (term^boost), and filter context (``filter_terms``: all
    required, never scored). ``text_expr`` parameterizes the analyzed
    text (token-bag fielded queries). Operand order identical to Spark."""
    must, should, must_not = must or [], should or [], must_not or []
    scored_terms = sorted(set(must + should))
    must_clause = ""
    if must:
        must_clause = f"""
  AND scored.doc_id IN (
    SELECT doc_id FROM tf WHERE term IN {_terms_in(must)}
    GROUP BY doc_id HAVING count(*) = {len(sorted(set(must)))}
  )"""
    if filter_terms:
        must_clause += f"""
  AND scored.doc_id IN (
    SELECT doc_id FROM tf WHERE term IN {_terms_in(filter_terms)}
    GROUP BY doc_id HAVING count(*) = {len(sorted(set(filter_terms)))}
  )"""
    if extra_filter_sql:
        must_clause += f"""
  AND scored.doc_id IN ({extra_filter_sql})"""
    if minimum_should_match and should:
        must_clause += f"""
  AND scored.doc_id IN (
    SELECT doc_id FROM tf WHERE term IN {_terms_in(should)}
    GROUP BY doc_id HAVING count(*) >= {minimum_should_match}
  )"""
    not_clause = ""
    if must_not:
        not_clause = f"""
  AND scored.doc_id NOT IN (
    SELECT DISTINCT doc_id FROM tf WHERE term IN {_terms_in(must_not)}
  )"""
    if boosts:
        qb_rows = ", ".join(
            f"('{t}', {float(boosts.get(t, 1.0))!r})" for t in scored_terms
        )
        qb_cte = f"qb(term, term_boost) AS (VALUES {qb_rows}),"
        qb_join = "JOIN qb ON qb.term = tf.term"
        boost_mul = " * qb.term_boost"
    else:
        qb_cte, qb_join, boost_mul = "", "", ""
    return f"""
WITH {_tf_ctes(text_expr)},
{qb_cte}
dfs AS (
  SELECT term, count(*) AS df FROM tf
  WHERE term IN {_terms_in(scored_terms)} GROUP BY term
),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
              * (tf.tf * {K1 + 1.0}) / (tf.tf + {K1} * ({1.0 - B} + {B} * dl.dl / stats.avgdl))
              {boost_mul}
            ) AS raw_score
  FROM tf
  JOIN dfs USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats
  {qb_join}
  GROUP BY tf.doc_id
)
SELECT rank, doc_id, score FROM (
  SELECT row_number() OVER (ORDER BY round(raw_score, 6) DESC, scored.doc_id ASC) AS rank,
         scored.doc_id, round(raw_score, 6) AS score
  FROM scored
  WHERE 1=1 {must_clause} {not_clause}
) WHERE rank > {from_} AND rank <= {from_ + k}
ORDER BY rank
"""


def phrase_match_sql(phrase: str) -> str:
    p = " ".join(t for t in phrase.split(" ") if t).replace("'", "''")
    return f"""
SELECT doc_id FROM documents
WHERE concat(' ', text, ' ') LIKE '% {p} %'
ORDER BY doc_id
"""


def facet_counts_sql(terms: list[str], facet_cols: list[str]) -> str:
    parts = []
    for c in facet_cols:
        parts.append(f"""
SELECT '{c}' AS facet, CAST({c} AS VARCHAR) AS value, count(*) AS n
FROM documents
WHERE doc_id IN (
  SELECT DISTINCT doc_id
  FROM documents, unnest(string_split(text, ' ')) AS t(tok)
  WHERE t.tok <> '' AND t.tok IN {_terms_in(terms)}
)
GROUP BY 2""")
    return " UNION ALL ".join(parts) + " ORDER BY facet, value"


def snippets_sql(term: str, width: int = 24) -> str:
    """Mirror of query_ext.snippet_expr over all docs containing the term."""
    t = term.replace("'", "''")
    window = width * 2 + len(term)
    return f"""
WITH padded AS (
  SELECT doc_id, concat(' ', text, ' ') AS p FROM documents
),
hit AS (
  SELECT doc_id, p, strpos(p, ' {t} ') AS pos FROM padded
)
SELECT doc_id, trim(substr(p, greatest(pos - {width}, 1), {window})) AS snippet
FROM hit WHERE pos > 0
ORDER BY doc_id
"""


def conjunctive_sql(terms: list[str]) -> str:
    n = len(sorted(set(terms)))
    return f"""
WITH {_TF_CTES}
SELECT doc_id FROM tf
WHERE term IN {_terms_in(terms)}
GROUP BY doc_id HAVING count(*) = {n}
ORDER BY doc_id
"""


def collapse_topk_sql(terms: list[str], collapse_field: str, k: int = 10) -> str:
    """Mirror of query_ext.collapse_topk (one winner per field value)."""
    return f"""
WITH {_TF_CTES},
dfs AS (
  SELECT term, count(*) AS df FROM tf
  WHERE term IN {_terms_in(terms)} GROUP BY term
),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
              * (tf.tf * {K1 + 1.0}) / (tf.tf + {K1} * ({1.0 - B} + {B} * dl.dl / stats.avgdl))
            ) AS raw_score
  FROM tf
  JOIN dfs USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
),
winners AS (
  SELECT doc_id, score, {collapse_field} FROM (
    SELECT s.doc_id, round(s.raw_score, 6) AS score, d.{collapse_field},
           row_number() OVER (PARTITION BY d.{collapse_field}
                              ORDER BY round(s.raw_score, 6) DESC, s.doc_id ASC) AS rn
    FROM scored s JOIN documents d ON d.doc_id = s.doc_id
  ) WHERE rn = 1
)
SELECT rank, doc_id, score, {collapse_field} FROM (
  SELECT row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank,
         doc_id, score, {collapse_field}
  FROM winners
) WHERE rank <= {k}
ORDER BY rank
"""


def search_text_sql(query: str, k: int = 10) -> str:
    """Composed mirror of query_ext.search_text: the SAME parse_query
    grammar drives both engines (single source of truth for parsing);
    prefixes become LIKE expansion inside dfs, phrases/filters/must gate
    eligibility, must_not excludes."""
    from .query_ext import parse_query

    spec = parse_query(query)
    plain = sorted(set(spec["must"] + spec["should"]))
    conds = []
    if plain:
        conds.append(f"term IN {_terms_in(plain)}")
    for p in sorted(set(spec["prefixes"])):
        conds.append("term LIKE '%s%%'" % p.replace("'", "''"))
    dfs_where = " OR ".join(conds) or "FALSE"
    extra = ""
    if spec["must"]:
        extra += f"""
  AND scored.doc_id IN (
    SELECT doc_id FROM tf WHERE term IN {_terms_in(spec["must"])}
    GROUP BY doc_id HAVING count(*) = {len(set(spec["must"]))}
  )"""
    for f in sorted(set(spec["filters"])):
        col, val = f.split(":", 1)
        extra += f"""
  AND scored.doc_id IN (SELECT doc_id FROM documents WHERE {col} = '{val.replace(chr(39), chr(39) * 2)}')"""
    for fld, lo, hi in spec.get("ranges", []):
        extra += f"""
  AND scored.doc_id IN (
    SELECT doc_id FROM documents WHERE {fld} >= {lo} AND {fld} <= {hi})"""
    for ph in spec["phrases"]:
        p = " ".join(ph).replace("'", "''")
        extra += f"""
  AND scored.doc_id IN (
    SELECT doc_id FROM documents WHERE concat(' ', text, ' ') LIKE '% {p} %')"""
    for ph in spec["neg_phrases"]:
        p = " ".join(ph).replace("'", "''")
        extra += f"""
  AND scored.doc_id NOT IN (
    SELECT doc_id FROM documents WHERE concat(' ', text, ' ') LIKE '% {p} %')"""
    if spec["must_not"]:
        extra += f"""
  AND scored.doc_id NOT IN (
    SELECT DISTINCT doc_id FROM tf WHERE term IN {_terms_in(spec["must_not"])})"""
    boost_case = ""
    if spec.get("boosts"):
        whens = " ".join(
            f"WHEN '{t.replace(chr(39), chr(39) * 2)}' THEN {b}"
            for t, b in sorted(spec["boosts"].items())
        )
        boost_case = f"\n              * CASE tf.term {whens} ELSE 1.0 END"
    return f"""
WITH {_TF_CTES},
dfs AS (
  SELECT term, count(*) AS df FROM tf
  WHERE {dfs_where} GROUP BY term
),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
              * (tf.tf * {K1 + 1.0}) / (tf.tf + {K1} * ({1.0 - B} + {B} * dl.dl / stats.avgdl)){boost_case}
            ) AS raw_score
  FROM tf
  JOIN dfs USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT rank, doc_id, score FROM (
  SELECT row_number() OVER (ORDER BY round(raw_score, 6) DESC, doc_id ASC) AS rank,
         doc_id, round(raw_score, 6) AS score
  FROM scored
  WHERE 1=1 {extra}
) WHERE rank <= {k}
ORDER BY rank
"""


def more_like_this_sql(doc_id: int, k: int = 10, n_terms: int = 5) -> str:
    """Mirror of query_ext.more_like_this: the term selection (rounded
    tfidf desc, term asc over the source doc) runs inside the SQL, then a
    standard BM25 over exactly those terms, source doc excluded."""
    return f"""
WITH {_TF_CTES},
dfs_all AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
mlt AS (
  SELECT term FROM (
    SELECT tf.term,
           row_number() OVER (
             ORDER BY round(tf.tf * ln(nd.n_docs / dfs_all.df), 6) DESC, tf.term ASC
           ) AS rk
    FROM tf JOIN dfs_all USING (term) CROSS JOIN nd
    WHERE tf.doc_id = {doc_id}
  ) WHERE rk <= {n_terms}
),
dfs AS (
  SELECT term, count(*) AS df FROM tf
  WHERE term IN (SELECT term FROM mlt) GROUP BY term
),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
              * (tf.tf * {K1 + 1.0}) / (tf.tf + {K1} * ({1.0 - B} + {B} * dl.dl / stats.avgdl))
            ) AS raw_score
  FROM tf
  JOIN dfs USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT rank, doc_id, score FROM (
  SELECT row_number() OVER (ORDER BY round(raw_score, 6) DESC, doc_id ASC) AS rank,
         doc_id, round(raw_score, 6) AS score
  FROM scored
  WHERE scored.doc_id <> {doc_id}
) WHERE rank <= {k}
ORDER BY rank
"""


def fuzzy_bm25_sql(qterms: list[str], k: int = 10, max_edits: int = 1) -> str:
    """Fuzzy expansion in pure SQL: vocabulary terms within levenshtein
    ``max_edits`` of any query term, then the standard disjunctive BM25.
    The Spark side reaches the same set via the deletion-neighborhood join
    + levenshtein verify (query_ext.fuzzy_expand) — identical predicate,
    so the expanded term sets agree exactly."""
    vals = ", ".join("('" + t.replace("'", "''") + "')" for t in sorted(set(qterms)))
    return f"""
WITH {_TF_CTES},
vocab AS (SELECT DISTINCT term FROM tf),
fz AS (
  SELECT DISTINCT v.term
  FROM vocab v, (VALUES {vals}) q(qt)
  WHERE levenshtein(v.term, q.qt) <= {max_edits}
),
dfs AS (
  SELECT term, count(*) AS df FROM tf
  WHERE term IN (SELECT term FROM fz) GROUP BY term
),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
              * (tf.tf * {K1 + 1.0}) / (tf.tf + {K1} * ({1.0 - B} + {B} * dl.dl / stats.avgdl))
            ) AS raw_score
  FROM tf
  JOIN dfs USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT rank, doc_id, score FROM (
  SELECT row_number() OVER (ORDER BY round(raw_score, 6) DESC, doc_id ASC) AS rank,
         doc_id, round(raw_score, 6) AS score
  FROM scored
) WHERE rank <= {k}
ORDER BY rank
"""


def search_after_sql(terms: list[str], k: int = 10, page: int = 2) -> str:
    """Oracle for keyset pagination: under one total order, the page after
    the (page-1)·k-th cursor IS ranks (page-1)·k+1 .. page·k renumbered —
    so the oracle ranks once and windows, while the Spark side runs the
    true cursor-predicate plan (filter before top-k)."""
    lo = (page - 1) * k
    return f"""
WITH {_TF_CTES},
dfs AS (
  SELECT term, count(*) AS df FROM tf
  WHERE term IN {_terms_in(terms)} GROUP BY term
),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
              * (tf.tf * {K1 + 1.0}) / (tf.tf + {K1} * ({1.0 - B} + {B} * dl.dl / stats.avgdl))
            ) AS raw_score
  FROM tf
  JOIN dfs USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT rank - {lo} AS rank, doc_id, score FROM (
  SELECT row_number() OVER (ORDER BY round(raw_score, 6) DESC, doc_id ASC) AS rank,
         doc_id, round(raw_score, 6) AS score
  FROM scored
) WHERE rank > {lo} AND rank <= {lo + k}
ORDER BY rank
"""


def suggest_sql(term: str, k: int = 5) -> str:
    """Oracle for suggest_terms / suggest_terms_indexed: the corpus
    vocabulary within levenshtein 1 of the input (input excluded), ranked
    by document frequency. Both the direct path (vocab from tf) and the
    indexed path (published dictionary) must equal this — the dictionary
    IS (term, df) over the same corpus."""
    t = term.replace("'", "''")
    return f"""
WITH {_TF_CTES},
dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
cand AS (
  SELECT term, df FROM dfs
  WHERE levenshtein(term, '{t}') <= 1 AND term <> '{t}'
)
SELECT rk, term, df FROM (
  SELECT row_number() OVER (ORDER BY df DESC, term ASC) AS rk, term, df
  FROM cand
) WHERE rk <= {k}
ORDER BY rk
"""


def significant_terms_sql(query_terms: list[str], k: int = 10) -> str:
    """JLH significant-terms oracle; operand order mirrors
    query_ext.significant_terms exactly."""
    tin = _terms_in(query_terms)
    return f"""
WITH {_TF_CTES},
fgdocs AS (SELECT DISTINCT doc_id FROM tf WHERE term IN {tin}),
fgn AS (SELECT count(*) AS fg_n FROM fgdocs),
bgn AS (SELECT count(*) AS n_docs FROM documents),
fg AS (
  SELECT term, CAST(count(*) AS BIGINT) AS fg_df FROM tf
  WHERE doc_id IN (SELECT doc_id FROM fgdocs) GROUP BY term
),
bg AS (SELECT term, CAST(count(*) AS BIGINT) AS bg_df FROM tf GROUP BY term),
scored AS (
  SELECT fg.term, fg_df, bg_df,
         round(((fg_df / fg_n) - (bg_df / n_docs))
               * ((fg_df / fg_n) / (bg_df / n_docs)), 6) AS jlh
  FROM fg JOIN bg USING (term)
  CROSS JOIN fgn CROSS JOIN bgn
  WHERE fg.term NOT IN {tin}
)
SELECT rk, term, fg_df, bg_df, jlh FROM (
  SELECT row_number() OVER (ORDER BY jlh DESC, term ASC) AS rk,
         term, fg_df, bg_df, jlh
  FROM scored
) WHERE rk <= {k}
ORDER BY rk
"""


def top_hits_grouped_sql(terms: list[str], group_col: str = "source",
                         per_group: int = 3) -> str:
    """Per-group BM25 top-n (ES top_hits inside a terms aggregation);
    ranking on the 6-decimal-rounded score, doc_id tie-break."""
    return f"""
WITH {_TF_CTES},
dfs AS (
  SELECT term, count(*) AS df FROM tf
  WHERE term IN {_terms_in(terms)} GROUP BY term
),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
              * (tf.tf * {K1 + 1.0}) / (tf.tf + {K1} * ({1.0 - B} + {B} * dl.dl / stats.avgdl))
            ) AS raw_score
  FROM tf
  JOIN dfs USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
),
g AS (
  SELECT d.{group_col}, s.doc_id, round(s.raw_score, 6) AS score
  FROM scored s JOIN documents d USING (doc_id)
)
SELECT {group_col}, rk, doc_id, score FROM (
  SELECT {group_col}, doc_id, score,
         row_number() OVER (
           PARTITION BY {group_col} ORDER BY score DESC, doc_id ASC
         ) AS rk
  FROM g
) WHERE rk <= {per_group}
ORDER BY {group_col}, rk
"""


def index_stats_sql() -> str:
    """Corpus-derived dual of the index's stats surface: doc count, vocab
    size, posting count (= Σdf), token count (= Σcf)."""
    return f"""
WITH {_TF_CTES}
SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
       CAST(count(DISTINCT term) AS BIGINT) AS n_terms,
       CAST(count(*) AS BIGINT) AS n_postings,
       CAST(sum(tf) AS BIGINT) AS n_tokens
FROM tf
"""


def explain_sql(terms: list[str], doc_id: int) -> str:
    """Per-term BM25 breakdown for one doc (ES _explain). Same formula
    pieces and operand order as the scoring oracles."""
    return f"""
WITH {_TF_CTES},
dfs AS (
  SELECT term, count(*) AS df FROM tf
  WHERE term IN {_terms_in(terms)} GROUP BY term
)
SELECT tf.term,
       CAST(tf.tf AS BIGINT) AS tf,
       CAST(dfs.df AS BIGINT) AS df,
       CAST(dl.dl AS BIGINT) AS dl,
       round(ln(1 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5)), 6) AS idf,
       round((tf.tf * {K1 + 1.0}) / (tf.tf + {K1} * ({1.0 - B} + {B} * dl.dl / stats.avgdl)), 6) AS tfn,
       round(ln(1 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
             * (tf.tf * {K1 + 1.0}) / (tf.tf + {K1} * ({1.0 - B} + {B} * dl.dl / stats.avgdl)), 6)
         AS part_score
FROM tf
JOIN dfs USING (term)
JOIN dl ON dl.doc_id = tf.doc_id
CROSS JOIN stats
WHERE tf.doc_id = {doc_id}
ORDER BY tf.term
"""


def term_vectors_sql(doc_id: int) -> str:
    """One doc's terms with in-doc tf and corpus df/cf (ES _termvectors)."""
    return f"""
WITH {_TF_CTES},
dfs AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS cf
  FROM tf GROUP BY term
)
SELECT tf.term, CAST(tf.tf AS BIGINT) AS tf, dfs.df, dfs.cf
FROM tf JOIN dfs USING (term)
WHERE tf.doc_id = {doc_id}
ORDER BY tf.term
"""


def proximity_rescore_sql(terms: list[str], k: int = 10,
                          rescore_n: int = 50) -> str:
    """Rescore-window oracle: BM25 top-rescore_n + first-occurrence
    proximity bonus 1/(1+|p1-p2|) when both anchor terms are present."""
    t1 = terms[0].replace("'", "''")
    t2 = terms[1].replace("'", "''")
    return f"""
WITH {_TF_CTES},
dfs AS (
  SELECT term, count(*) AS df FROM tf
  WHERE term IN {_terms_in(terms)} GROUP BY term
),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
              * (tf.tf * {K1 + 1.0}) / (tf.tf + {K1} * ({1.0 - B} + {B} * dl.dl / stats.avgdl))
            ) AS raw_score
  FROM tf
  JOIN dfs USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
),
initial AS (
  SELECT doc_id, round(raw_score, 6) AS score
  FROM scored
  ORDER BY round(raw_score, 6) DESC, doc_id ASC
  LIMIT {rescore_n}
),
tkl AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
  FROM documents
),
rescored AS (
  SELECT i.doc_id,
         round(i.score +
           CASE WHEN list_position(tk, '{t1}') IS NOT NULL
                     AND list_position(tk, '{t2}') IS NOT NULL
                THEN 1.0 / (1.0 + abs(list_position(tk, '{t1}')
                                      - list_position(tk, '{t2}')))
                ELSE 0.0 END, 6) AS score
  FROM initial i JOIN tkl USING (doc_id)
)
SELECT rank, doc_id, score FROM (
  SELECT row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank,
         doc_id, score
  FROM rescored
) WHERE rank <= {k}
ORDER BY rank
"""


def match_phrase_prefix_sql(stem: list[str], prefix: str, k: int = 10) -> str:
    """Eligibility = any vocabulary completion of ``prefix`` forms an exact
    phrase after ``stem``; scoring = stem + completions BM25 disjunction."""
    p = prefix.replace("'", "''")
    stem_lit = (" ".join(stem) + " ").replace("'", "''")
    stem_in = _terms_in(stem)
    return f"""
WITH {_TF_CTES},
comp AS (SELECT DISTINCT term FROM tf WHERE term LIKE '{p}%'),
dfs AS (
  SELECT term, count(*) AS df FROM tf
  WHERE term IN {stem_in} OR term IN (SELECT term FROM comp)
  GROUP BY term
),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
              * (tf.tf * {K1 + 1.0}) / (tf.tf + {K1} * ({1.0 - B} + {B} * dl.dl / stats.avgdl))
            ) AS raw_score
  FROM tf
  JOIN dfs USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
),
eligible AS (
  SELECT DISTINCT d.doc_id
  FROM documents d JOIN comp c
    ON concat(' ', d.text, ' ') LIKE concat('% ', '{stem_lit}', c.term, ' %')
)
SELECT rank, doc_id, score FROM (
  SELECT row_number() OVER (ORDER BY round(raw_score, 6) DESC, doc_id ASC) AS rank,
         doc_id, round(raw_score, 6) AS score
  FROM scored
  WHERE scored.doc_id IN (SELECT doc_id FROM eligible)
) WHERE rank <= {k}
ORDER BY rank
"""


def sort_by_field_sql(terms: list[str], sort_col: str, k: int = 10,
                      ascending: bool = False) -> str:
    """Match-any-term then order by a metadata column (ES field sort)."""
    direction = "ASC" if ascending else "DESC"
    return f"""
WITH {_TF_CTES},
matched AS (
  SELECT DISTINCT doc_id FROM tf WHERE term IN {_terms_in(terms)}
)
SELECT rank, doc_id, {sort_col} FROM (
  SELECT row_number() OVER (ORDER BY {sort_col} {direction}, doc_id ASC) AS rank,
         doc_id, {sort_col}
  FROM documents WHERE doc_id IN (SELECT doc_id FROM matched)
) WHERE rank <= {k}
ORDER BY rank
"""


def phrase_slop_sql(t1: str, t2: str, slop: int = 1) -> str:
    """Ordered within-slop co-occurrence: ∃ i<j, tok[i]=t1, tok[j]=t2,
    j-i-1 <= slop (the documented simplified match_phrase-slop contract)."""
    a = t1.replace("'", "''")
    b = t2.replace("'", "''")
    return f"""
WITH tkl AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
  FROM documents
),
pos AS (
  SELECT doc_id,
         list_filter(range(1, len(tk) + 1), i -> tk[i] = '{a}') AS p1,
         list_filter(range(1, len(tk) + 1), i -> tk[i] = '{b}') AS p2
  FROM tkl
)
SELECT doc_id FROM pos
WHERE len(list_filter(p1,
        i -> len(list_filter(p2, j -> j > i AND j - i - 1 <= {slop})) > 0
      )) > 0
ORDER BY doc_id
"""


def complete_prefix_sql(prefix: str, k: int = 5) -> str:
    """Autocomplete: prefix-matching vocabulary ranked by df."""
    p = prefix.replace("'", "''")
    return f"""
WITH {_TF_CTES},
dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term)
SELECT rk, term, df FROM (
  SELECT row_number() OVER (ORDER BY df DESC, term ASC) AS rk, term, df
  FROM dfs WHERE term LIKE '{p}%'
) WHERE rk <= {k}
ORDER BY rk
"""


def terms_agg_partition_sql(partition: int, num_partitions: int,
                            size: int = 10) -> str:
    """Mirror of query_ext.terms_agg_partition: same portable 60-bit hash
    slice (hash60_sql), same pmod idiom, df over distinct doc-term."""
    from .portable import hash60_sql

    h = hash60_sql("term")
    m = int(num_partitions)
    return f"""
WITH dt AS (
  SELECT DISTINCT doc_id, t.tok AS term
  FROM documents, unnest(string_split(text, ' ')) AS t(tok)
  WHERE t.tok <> ''
),
sliced AS (
  SELECT term FROM dt
  WHERE ((({h}) % {m}) + {m}) % {m} = {int(partition)}
),
dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM sliced GROUP BY term)
SELECT rk, term, df FROM (
  SELECT row_number() OVER (ORDER BY df DESC, term ASC) AS rk, term, df
  FROM dfs
) WHERE rk <= {int(size)}
ORDER BY rk
"""


def suggest_context_sql(prefix: str, contexts: dict[str, float],
                        context_col: str = "lang", k: int = 5) -> str:
    """Mirror of query_ext.suggest_context: distinct doc-term pairs under
    the same context-isin + prefix filters, df-within-context × CASE
    boost, max-dedup per term."""
    p = prefix.replace("'", "''")
    ctxs = sorted(contexts)
    inlist = ", ".join("'" + c.replace("'", "''") + "'" for c in ctxs)
    case = " ".join(
        f"WHEN '{c}' THEN {float(contexts[c])!r}" for c in ctxs)
    return f"""
WITH dt AS (
  SELECT DISTINCT doc_id, {context_col} AS ctx, t.tok AS term
  FROM documents, unnest(string_split(text, ' ')) AS t(tok)
  WHERE t.tok <> '' AND t.tok LIKE '{p}%' AND {context_col} IN ({inlist})
),
dfc AS (SELECT term, ctx, count(*) AS dfc FROM dt GROUP BY term, ctx),
sc AS (
  SELECT term, max(dfc * (CASE ctx {case} END)) AS score
  FROM dfc GROUP BY term
)
SELECT rk, term, score FROM (
  SELECT row_number() OVER (ORDER BY score DESC, term ASC) AS rk, term, score
  FROM sc
) WHERE rk <= {k}
ORDER BY rk
"""


def complete_fuzzy_sql(prefix: str, k: int = 5, fuzziness: int = 1) -> str:
    """Mirror of query_ext.complete_fuzzy: same substring-prefix
    levenshtein gate (Spark levenshtein == DuckDB levenshtein), same
    exact-first ordering."""
    p = prefix.replace("'", "''")
    return f"""
WITH {_TF_CTES},
dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
cand AS (
  SELECT term, df,
         levenshtein(substr(term, 1, {len(prefix)}), '{p}') = 0 AS exact
  FROM dfs
  WHERE levenshtein(substr(term, 1, {len(prefix)}), '{p}') <= {int(fuzziness)}
)
SELECT rk, term, df, exact FROM (
  SELECT row_number() OVER (ORDER BY exact DESC, df DESC, term ASC) AS rk,
         term, df, exact
  FROM cand
) WHERE rk <= {int(k)}
ORDER BY rk
"""


def wildcard_bm25_sql(pattern: str, k: int = 10) -> str:
    """Wildcard expansion in SQL: the same glob→LIKE mapping as
    query_ext._wildcard_to_like, then the standard expanded-term BM25."""
    like = pattern.replace("*", "%").replace("?", "_").replace("'", "''")
    return f"""
WITH {_TF_CTES},
dfs AS (
  SELECT term, count(*) AS df FROM tf
  WHERE term LIKE '{like}' GROUP BY term
),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
              * (tf.tf * {K1 + 1.0}) / (tf.tf + {K1} * ({1.0 - B} + {B} * dl.dl / stats.avgdl))
            ) AS raw_score
  FROM tf
  JOIN dfs USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT rank, doc_id, score FROM (
  SELECT row_number() OVER (ORDER BY round(raw_score, 6) DESC, doc_id ASC) AS rank,
         doc_id, round(raw_score, 6) AS score
  FROM scored
) WHERE rank <= {k}
ORDER BY rank
"""


def percolate_sql(queries: dict[str, dict]) -> str:
    """Reverse-search oracle: per (doc, query) coverage counts from the
    same clause relation, same match predicate as query_ext.percolate."""
    rows = []
    for qid, spec in sorted(queries.items()):
        for t in sorted(set(spec.get("must") or [])):
            rows.append((qid, t, "m"))
        for t in sorted(set(spec.get("should") or [])):
            rows.append((qid, t, "s"))
        for t in sorted(set(spec.get("must_not") or [])):
            rows.append((qid, t, "n"))
    vals = ", ".join(
        f"('{q}', '{t.replace(chr(39), chr(39) * 2)}', '{c}')" for q, t, c in rows
    )
    nm = ", ".join(
        f"('{qid}', {len(set(spec.get('must') or []))}, "
        f"{1 if spec.get('should') else 0})"
        for qid, spec in sorted(queries.items())
    )
    return f"""
WITH {_TF_CTES},
q(qid, term, clause) AS (VALUES {vals}),
nm(qid, n_must, has_should) AS (VALUES {nm}),
cov AS (
  SELECT tf.doc_id, q.qid,
         count(DISTINCT CASE WHEN q.clause = 'm' THEN q.term END) AS m,
         count(DISTINCT CASE WHEN q.clause = 's' THEN q.term END) AS s,
         count(DISTINCT CASE WHEN q.clause = 'n' THEN q.term END) AS n
  FROM tf JOIN q USING (term)
  GROUP BY tf.doc_id, q.qid
)
SELECT doc_id, cov.qid AS qid
FROM cov JOIN nm ON nm.qid = cov.qid
WHERE m = n_must AND (has_should = 0 OR s > 0) AND n = 0
ORDER BY doc_id, cov.qid
"""


def rank_eval_sql(queries: dict[str, list[str]], k: int = 10) -> str:
    """_rank_eval oracle: per-qid BM25 top-k (same rank-identity order),
    conjunctive-relevance judgments, precision@k / MRR / NDCG@k with the
    SAME ln(1+rank)/ln2 discount text as the Spark side."""
    import math

    ln2 = float(math.log(2.0))
    ranked_blocks, rel_blocks = [], []
    for qid, terms in sorted(queries.items()):
        tin = _terms_in(terms)
        nt = len(set(terms))
        ranked_blocks.append(f"""
  SELECT '{qid}' AS qid, rank, doc_id FROM (
    SELECT row_number() OVER (ORDER BY round(raw_score, 6) DESC, doc_id ASC) AS rank,
           doc_id
    FROM (
      SELECT tf.doc_id,
             sum( ln(1 + (stats.n_docs - d.df + 0.5) / (d.df + 0.5))
                  * (tf.tf * {K1 + 1.0}) / (tf.tf + {K1} * ({1.0 - B} + {B} * dl.dl / stats.avgdl))
                ) AS raw_score
      FROM tf
      JOIN (SELECT term, count(*) AS df FROM tf WHERE term IN {tin} GROUP BY term) d
        USING (term)
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats
      GROUP BY tf.doc_id
    )
  ) WHERE rank <= {k}""")
        rel_blocks.append(f"""
  SELECT '{qid}' AS qid, doc_id FROM tf
  WHERE term IN {tin} GROUP BY doc_id HAVING count(*) = {nt}""")
    ranked = "\n  UNION ALL".join(ranked_blocks)
    rel = "\n  UNION ALL".join(rel_blocks)
    return f"""
WITH {_TF_CTES},
ranked AS ({ranked}),
rel AS ({rel}),
nrel AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_rel FROM rel GROUP BY qid),
pr AS (
  SELECT ranked.qid AS qid, ranked.rank AS rank,
         CASE WHEN rel.doc_id IS NOT NULL THEN 1 ELSE 0 END AS r
  FROM ranked LEFT JOIN rel
    ON rel.qid = ranked.qid AND rel.doc_id = ranked.doc_id
),
agg AS (
  SELECT qid,
         sum(r) / {float(k)} AS p,
         max(CASE WHEN r = 1 THEN 1.0 / rank ELSE 0.0 END) AS mrr,
         sum(r / (ln(1.0 + rank) / {ln2})) AS dcg
  FROM pr GROUP BY qid
)
SELECT agg.qid AS qid, n_rel,
       round(p, 6) AS precision_k,
       round(mrr, 6) AS mrr,
       round(dcg / list_sum(list_transform(
         range(1, least(n_rel, {k}) + 1),
         rr -> 1.0 / (ln(1.0 + rr) / {ln2}))), 6) AS ndcg_k
FROM agg JOIN nrel USING (qid)
ORDER BY qid
"""


def _field_scored_sql(terms: list[str], text_expr: str) -> str:
    """Per-field BM25 scored relation (doc_id, s) — the field analyzed
    independently, score rounded to 6 BEFORE the boost multiply (same
    order as query_ext.multi_match_bm25)."""
    return f"""WITH {_tf_ctes(text_expr)},
dfs AS (
  SELECT term, count(*) AS df FROM tf
  WHERE term IN {_terms_in(terms)} GROUP BY term
),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
              * (tf.tf * {K1 + 1.0}) / (tf.tf + {K1} * ({1.0 - B} + {B} * dl.dl / stats.avgdl))
            ) AS raw_score
  FROM tf
  JOIN dfs USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT doc_id, round(raw_score, 6) AS s FROM scored"""


def multi_match_sql(
    terms: list[str],
    fields: dict[str, float],
    k: int = 10,
    mode: str = "best_fields",
    tie_breaker: float = 0.0,
) -> str:
    """ES multi_match oracle. ``fields``: {sql_text_expr: boost} — the
    field expressions are templated from the SAME definitions the Spark
    query derives its field columns from."""
    branches = ", ".join(
        f"f{i} AS ({_field_scored_sql(terms, expr)})"
        for i, expr in enumerate(sorted(fields))
    )
    union = " UNION ALL ".join(
        f"SELECT doc_id, s * {float(fields[expr])} AS s FROM f{i}"
        for i, expr in enumerate(sorted(fields))
    )
    comb = (
        f"smax + {float(tie_breaker)} * (ssum - smax)"
        if mode == "best_fields" else "ssum"
    )
    return f"""
WITH {branches},
u AS ({union}),
agg AS (SELECT doc_id, sum(s) AS ssum, max(s) AS smax FROM u GROUP BY doc_id)
SELECT rank, doc_id, score FROM (
  SELECT row_number() OVER (ORDER BY round({comb}, 6) DESC, doc_id ASC) AS rank,
         doc_id, round({comb}, 6) AS score
  FROM agg
) WHERE rank <= {k}
ORDER BY rank
"""


def snapshot_diff_sql(split_id: int = 400, removed: tuple = (0, 1, 2, 3, 4)) -> str:
    """Oracle for the snapshot_diff lifecycle: base = docs below
    ``split_id``, then append the rest and delete ``removed`` — the diff
    from the base snapshot to current is exactly those sets."""
    rm = ", ".join(str(int(i)) for i in removed)
    return f"""
SELECT change, doc_id FROM (
  SELECT 'added' AS change, doc_id FROM documents WHERE doc_id >= {split_id}
  UNION ALL
  SELECT 'removed' AS change, doc_id FROM documents
  WHERE doc_id < {split_id} AND doc_id IN ({rm})
) ORDER BY change, doc_id
"""


# ---- function_score / compound-query family (scoring.py) -----------------

def _ranked_topk(inner: str, k: int) -> str:
    return f"""
SELECT rank, doc_id, score FROM (
  SELECT row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank,
         doc_id, score
  FROM ({inner})
) WHERE rank <= {k}
ORDER BY rank
"""


def _scored_cte(terms: list[str]) -> str:
    """The standard raw-BM25 scored relation over _TF_CTES for a term set
    — shared by every function_score oracle below."""
    return f"""
dfs AS (
  SELECT term, count(*) AS df FROM tf
  WHERE term IN {_terms_in(terms)} GROUP BY term
),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
              * (tf.tf * {K1 + 1.0}) / (tf.tf + {K1} * ({1.0 - B} + {B} * dl.dl / stats.avgdl))
            ) AS raw_score
  FROM tf
  JOIN dfs USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
)"""


def function_score_gauss_sql(terms: list[str], origin: float, scale: float,
                             decay: float = 0.5, k: int = 10,
                             field: str = "n_chars") -> str:
    """Gauss-decay function_score: score = round(bm25 * exp(lam*d*d), 6),
    lam = ln(decay)/scale^2 — the SAME driver-side literal as
    scoring.function_score_gauss, identical operand order."""
    import math
    lam = math.log(decay) / (scale * scale)
    d = f"abs(CAST(d.{field} AS DOUBLE) - {float(origin)!r})"
    inner = f"""
WITH {_TF_CTES},
{_scored_cte(terms)}
SELECT s.doc_id,
       round(round(s.raw_score, 6) * exp({lam!r} * {d} * {d}), 6) AS score
FROM scored s JOIN documents d ON d.doc_id = s.doc_id
"""
    return _ranked_topk(inner, k)


def dis_max_sql(subqueries: list[list[str]], tie_breaker: float = 0.3,
                k: int = 10) -> str:
    """dis_max: best + tie_breaker * (total - best) over per-subquery
    rounded BM25 sums; the (term, sub) routing relation is the same VALUES
    list scoring.dis_max broadcasts."""
    all_terms = sorted({t for sq in subqueries for t in sq})
    vals = ", ".join(
        f"('{t.replace(chr(39), chr(39) * 2)}', {i})"
        for i, sq in enumerate(subqueries) for t in sorted(set(sq))
    )
    inner = f"""
WITH {_TF_CTES},
q(term, sub) AS (VALUES {vals}),
dfs AS (
  SELECT term, count(*) AS df FROM tf
  WHERE term IN {_terms_in(all_terms)} GROUP BY term
),
per_sub AS (
  SELECT tf.doc_id, q.sub,
         round(sum( ln(1 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
              * (tf.tf * {K1 + 1.0}) / (tf.tf + {K1} * ({1.0 - B} + {B} * dl.dl / stats.avgdl))
            ), 6) AS sub_score
  FROM tf
  JOIN dfs USING (term)
  JOIN q ON q.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id, q.sub
)
SELECT doc_id,
       round(max(sub_score) + {float(tie_breaker)!r} * (sum(sub_score) - max(sub_score)), 6) AS score
FROM per_sub GROUP BY doc_id
"""
    return _ranked_topk(inner, k)


def boosting_query_sql(positive: list[str], negative: str,
                       negative_boost: float = 0.5, k: int = 10) -> str:
    """Boosting query: positive BM25, demoted (never excluded) by
    negative_boost when the doc also contains the negative term."""
    neg = negative.replace("'", "''")
    inner = f"""
WITH {_TF_CTES},
{_scored_cte(positive)},
neg AS (SELECT DISTINCT doc_id FROM tf WHERE term = '{neg}')
SELECT s.doc_id,
       round(round(s.raw_score, 6)
             * (CASE WHEN n.doc_id IS NOT NULL THEN {float(negative_boost)!r} ELSE 1.0 END), 6) AS score
FROM scored s LEFT JOIN neg n ON n.doc_id = s.doc_id
"""
    return _ranked_topk(inner, k)


def random_score_sql(seed: str, k: int = 10) -> str:
    """Seeded random_score: portable hash60("doc_id:seed") scaled to
    [0, 1) — hash60 is non-negative so plain % == pmod here."""
    from .portable import hash60_sql
    s = seed.replace("'", "''")
    h = hash60_sql(f"concat(CAST(doc_id AS VARCHAR), ':', '{s}')")
    inner = f"""
SELECT doc_id,
       round(CAST(({h} % 1000000) AS DOUBLE) / 1000000.0, 6) AS score
FROM documents
"""
    return _ranked_topk(inner, k)


def regexp_bm25_sql(pattern: str, k: int = 10) -> str:
    """Regexp-query oracle: full-term regexp expansion in SQL
    (regexp_full_match == Spark's anchored rlike for the RE2 subset), then
    the standard expanded-term BM25 — same shape as wildcard_bm25_sql."""
    p = pattern.replace("'", "''")
    inner = f"""
WITH {_TF_CTES},
dfs AS (
  SELECT term, count(*) AS df FROM tf
  WHERE regexp_full_match(term, '{p}') GROUP BY term
),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
              * (tf.tf * {K1 + 1.0}) / (tf.tf + {K1} * ({1.0 - B} + {B} * dl.dl / stats.avgdl))
            ) AS raw_score
  FROM tf
  JOIN dfs USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT doc_id, round(raw_score, 6) AS score FROM scored
"""
    return _ranked_topk(inner, k)


def multi_match_cross_fields_sql(terms: list[str], fields: dict[str, float],
                                 k: int = 10) -> str:
    """cross_fields oracle: ONE blended token relation (each field's tokens
    tagged with its weight), weighted tf/dl, df over the union — the same
    combined-field statistics query_ext.multi_match_cross_fields computes.
    ``fields``: {sql_text_expr: weight}, templated from the same
    definitions as the Spark field columns."""
    names = sorted(fields)
    branches = "\n  UNION ALL ".join(
        f"SELECT doc_id, t.tok AS term, {float(fields[e])!r} AS w"
        f" FROM documents, unnest(string_split({e}, ' ')) AS t(tok)"
        f" WHERE t.tok <> ''" for e in names
    )
    dl_sum = " + ".join(
        f"{float(fields[e])!r} * CAST(len(list_filter(string_split({e}, ' '),"
        f" x -> x <> '')) AS DOUBLE)" for e in names
    )
    return f"""
WITH cbase AS (SELECT doc_id, {dl_sum} AS dl FROM documents),
ctoks AS ({branches}),
ctf AS (
  SELECT doc_id, term, sum(w) AS tf FROM ctoks
  WHERE term IN {_terms_in(terms)} GROUP BY doc_id, term
),
cstats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM cbase WHERE dl > 0),
cdfs AS (SELECT term, count(*) AS df FROM ctf GROUP BY term),
scored AS (
  SELECT ctf.doc_id,
         sum( ln(1 + (cstats.n_docs - cdfs.df + 0.5) / (cdfs.df + 0.5))
              * (ctf.tf * {K1 + 1.0}) / (ctf.tf + {K1} * ({1.0 - B} + {B} * cbase.dl / cstats.avgdl))
            ) AS raw_score
  FROM ctf
  JOIN cdfs USING (term)
  JOIN cbase USING (doc_id)
  CROSS JOIN cstats
  GROUP BY ctf.doc_id
)
SELECT rank, doc_id, score FROM (
  SELECT row_number() OVER (ORDER BY round(raw_score, 6) DESC, doc_id ASC) AS rank,
         doc_id, round(raw_score, 6) AS score
  FROM scored
) WHERE rank <= {k}
ORDER BY rank
"""


def span_first_sql(term: str, end: int) -> str:
    """span_first mirror: list_position (0 when absent) == Spark
    array_position."""
    t = term.replace("'", "''")
    return f"""
SELECT doc_id, first_pos FROM (
  SELECT doc_id,
         CAST(list_position(list_filter(string_split(text, ' '), x -> x <> ''),
                            '{t}') AS BIGINT) AS first_pos
  FROM documents
) WHERE first_pos >= 1 AND first_pos <= {end}
ORDER BY doc_id
"""


def stop_analyzed_expr(stopwords: list[str]) -> str:
    """The SQL twin of query_ext.analyzed_text_col — pass as
    bm25_topk_sql(text_expr=...)."""
    stops = ", ".join("'" + s.replace("'", "''") + "'" for s in sorted(set(stopwords)))
    return (f"array_to_string(list_filter(string_split(text, ' '), "
            f"x -> x <> '' AND x NOT IN ({stops})), ' ')")


def stemmed_expr(stopwords: tuple[str, ...] = ()) -> str:
    """SQL twin of query_ext.stemmed_text_col, templated from the SAME
    STEM_RULES list (never hand-copied): tokens → optional stop filter →
    per-token CASE chain of anchored regexp_replace rules → re-joined."""
    from .query_ext import STEM_RULES

    case = "y"
    for suffix, repl, min_stem, excl in reversed(STEM_RULES):
        conds = [f"regexp_matches(y, '{suffix}$')",
                 f"length(y) >= {len(suffix) + min_stem}"]
        conds += [f"NOT regexp_matches(y, '{e}$')" for e in excl]
        case = (f"CASE WHEN {' AND '.join(conds)} "
                f"THEN regexp_replace(y, '{suffix}$', '{repl}') ELSE {case} END")
    keep = "x <> ''"
    if stopwords:
        stops = ", ".join("'" + s.replace("'", "''") + "'"
                          for s in sorted(set(stopwords)))
        keep += f" AND x NOT IN ({stops})"
    filt = f"list_filter(string_split(text, ' '), x -> {keep})"
    return f"array_to_string(list_transform({filt}, y -> {case}), ' ')"


def htmlified_expr() -> str:
    """SQL twin of query_ext.htmlify_docs — constants templated from
    HTML_NOISE (double-quoted HTML attrs keep this single-quote-safe)."""
    from .query_ext import HTML_NOISE

    n = HTML_NOISE
    e = n["every"]
    pmod = f"((doc_id % {e}) + {e}) % {e}"
    return (f"CASE WHEN {pmod} = 0 THEN '{n['pre']}' || text || "
            f"'{n['mid']}' || '{n['post']}' ELSE text END")


def html_strip_expr(inner: str = "text") -> str:
    """SQL twin of query_ext.html_strip_col (global replace — Spark's
    regexp_replace is global by default, DuckDB needs the 'g' flag)."""
    return f"regexp_replace({inner}, '<[^>]*>', ' ', 'g')"


def msearch_sql(queries: dict[str, list[str]], k: int = 10) -> str:
    """Batched multi-search oracle: per-qid top-k BM25 (each the standard
    single-query form) tagged and unioned — the batch path must equal
    query-at-a-time results exactly (LazyEs msearch semantics)."""
    per = [
        f"SELECT '{qid}' AS qid, rank, doc_id, score FROM ({bm25_topk_sql(terms, k=k)})"
        for qid, terms in sorted(queries.items())
    ]
    u = "\nUNION ALL\n".join(per)
    return f"SELECT qid, rank, doc_id, score FROM ({u}) ORDER BY qid, rank"


def phrase_suggest_sql(t1: str, t2: str, k: int = 3) -> str:
    """Phrase-suggester mirror: DuckDB levenshtein == Spark levenshtein
    (classic edit distance), same unigram-LM formula order."""
    a = t1.replace("'", "''")
    b = t2.replace("'", "''")
    return f"""
WITH {_TF_CTES},
cf AS (SELECT term, sum(tf) AS cf FROM tf GROUP BY term),
tot AS (SELECT sum(cf) AS total FROM cf),
c1 AS (SELECT term AS w1, cf AS cf1 FROM cf WHERE levenshtein(term, '{a}') <= 1),
c2 AS (SELECT term AS w2, cf AS cf2 FROM cf WHERE levenshtein(term, '{b}') <= 1),
scored AS (
  SELECT concat(w1, ' ', w2) AS phrase,
         round(ln(cf1 / total) + ln(cf2 / total), 6) AS score
  FROM c1 CROSS JOIN c2 CROSS JOIN tot
)
SELECT rank, phrase, score FROM (
  SELECT row_number() OVER (ORDER BY score DESC, phrase ASC) AS rank, phrase, score
  FROM scored
) WHERE rank <= {k}
ORDER BY rank
"""


def rank_feature_sql(terms: list[str], pivot: float = 200.0, boost: float = 2.0,
                     k: int = 10, field: str = "n_chars",
                     function: str = "saturation") -> str:
    """rank_feature: score = round(bm25_rounded + contrib, 6) — same
    operand order and function flavor as scoring.rank_feature_bm25
    (saturation | log | sigmoid-with-exponent-2)."""
    v = f"CAST(d.{field} AS DOUBLE)"
    b, pv = float(boost), float(pivot)
    contrib = {
        "saturation": f"{b!r} * {v} / ({v} + {pv!r})",
        "log": f"{b!r} * ln(1.0 + {v} / {pv!r})",
        "sigmoid": f"{b!r} * ({v} * {v}) / ({v} * {v} + {pv!r} * {pv!r})",
    }[function]
    inner = f"""
WITH {_TF_CTES},
{_scored_cte(terms)}
SELECT s.doc_id,
       round(round(s.raw_score, 6)
             + {contrib}, 6) AS score
FROM scored s JOIN documents d ON d.doc_id = s.doc_id
"""
    return _ranked_topk(inner, k)


def field_value_factor_sql(terms: list[str], factor: float = 0.1,
                           k: int = 10, field: str = "n_chars") -> str:
    """field_value_factor log1p: score = round(bm25_rounded * ln(1 + factor*v), 6)."""
    v = f"CAST(d.{field} AS DOUBLE)"
    inner = f"""
WITH {_TF_CTES},
{_scored_cte(terms)}
SELECT s.doc_id,
       round(round(s.raw_score, 6) * ln(1.0 + {float(factor)!r} * {v}), 6) AS score
FROM scored s JOIN documents d ON d.doc_id = s.doc_id
"""
    return _ranked_topk(inner, k)


def span_near_unordered_sql(t1: str, t2: str, slop: int = 2) -> str:
    """Unordered within-slop co-occurrence: ∃ i∈p1, j∈p2, |j-i|-1 <= slop
    — mirror of query_ext.span_near_unordered."""
    a = t1.replace("'", "''")
    b = t2.replace("'", "''")
    return f"""
WITH tkl AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
  FROM documents
),
pos AS (
  SELECT doc_id,
         list_filter(range(1, len(tk) + 1), i -> tk[i] = '{a}') AS p1,
         list_filter(range(1, len(tk) + 1), i -> tk[i] = '{b}') AS p2
  FROM tkl
)
SELECT doc_id FROM pos
WHERE len(list_filter(p1,
        i -> len(list_filter(p2, j -> abs(j - i) - 1 <= {slop})) > 0
      )) > 0
ORDER BY doc_id
"""


def span_not_sql(include: str, exclude: str, slop: int = 0) -> str:
    """∃ i∈pos(include) with no pos(exclude) within slop — mirror of
    query_ext.span_not."""
    a = include.replace("'", "''")
    b = exclude.replace("'", "''")
    return f"""
WITH tkl AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
  FROM documents
),
pos AS (
  SELECT doc_id,
         list_filter(range(1, len(tk) + 1), i -> tk[i] = '{a}') AS p1,
         list_filter(range(1, len(tk) + 1), i -> tk[i] = '{b}') AS p2
  FROM tkl
)
SELECT doc_id FROM pos
WHERE len(p1) > 0
  AND len(list_filter(p1,
        i -> len(list_filter(p2, j -> abs(j - i) - 1 <= {slop})) = 0
      )) > 0
ORDER BY doc_id
"""


def constant_score_bool_sql(terms: list[str], flt_where: str,
                            boost: float = 1.5, k: int = 10) -> str:
    """Mirror of scoring.constant_score_bool: BM25 arm rounded to 6 per
    doc, constant arm = boost for filter matches, union summed (≤2 rows
    per doc — order-independent), re-rounded, rank-identity finish."""
    return f"""
WITH {_TF_CTES},
dfs AS (
  SELECT term, count(*) AS df FROM tf
  WHERE term IN {_terms_in(terms)} GROUP BY term
),
bm AS (
  SELECT tf.doc_id,
         round(sum( ln(1 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
              * (tf.tf * {K1 + 1.0}) / (tf.tf + {K1} * ({1.0 - B} + {B} * dl.dl / stats.avgdl))
            ), 6) AS score
  FROM tf
  JOIN dfs USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
),
cs AS (
  SELECT doc_id, {float(boost)!r} AS score FROM documents WHERE {flt_where}
),
total AS (
  SELECT doc_id, round(sum(score), 6) AS score
  FROM (SELECT doc_id, score FROM bm UNION ALL SELECT doc_id, score FROM cs)
  GROUP BY doc_id
)
SELECT rank, doc_id, score FROM (
  SELECT row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank, doc_id, score
  FROM total
) WHERE rank <= {k}
ORDER BY rank
"""


def span_or_near_sql(alts: list[str], then: str, slop: int = 0) -> str:
    """Mirror of query_ext.span_or_near: the or-clause position set is the
    union (any alt at position i), then the ordered slop test against
    pos(then)."""
    alist = ", ".join("'" + a.replace("'", "''") + "'" for a in sorted(set(alts)))
    b = then.replace("'", "''")
    return f"""
WITH tkl AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
  FROM documents
),
pos AS (
  SELECT doc_id,
         list_filter(range(1, len(tk) + 1), i -> list_contains([{alist}], tk[i])) AS por,
         list_filter(range(1, len(tk) + 1), i -> tk[i] = '{b}') AS p2
  FROM tkl
)
SELECT doc_id FROM pos
WHERE len(list_filter(por,
        i -> len(list_filter(p2, j -> j > i AND j - i - 1 <= {slop})) > 0
      )) > 0
ORDER BY doc_id
"""


def scripted_similarity_sql(terms: list[str], script: str, k: int = 10) -> str:
    """Mirror of scoring.scripted_similarity_topk: the SQL side of the
    SAME parsed AST (parse_similarity_script renders both engines), over
    the standard tf/dfs/dl/stats CTE chain."""
    from .scoring import parse_similarity_script

    _thunk, part = parse_similarity_script(script, {
        "tf": "tf.tf", "df": "dfs.df", "dl": "dl.dl",
        "avgdl": "stats.avgdl", "n_docs": "stats.n_docs",
    })
    inner = f"""
WITH {_TF_CTES},
dfs AS (
  SELECT term, count(*) AS df FROM tf
  WHERE term IN {_terms_in(terms)} GROUP BY term
)
SELECT tf.doc_id, round(sum({part}), 6) AS score
FROM tf
JOIN dfs USING (term)
JOIN dl ON dl.doc_id = tf.doc_id
CROSS JOIN stats
GROUP BY tf.doc_id
"""
    return _ranked_topk(inner, k)


def span_multi_prefix_sql(prefix: str, then: str, slop: int = 0) -> str:
    """Mirror of query_ext.span_multi_prefix: the multi-term clause is a
    LIKE-prefix predicate on the token (never an expanded term list), then
    the shared ordered slop test."""
    p = prefix.replace("'", "''")
    b = then.replace("'", "''")
    return f"""
WITH tkl AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
  FROM documents
),
pos AS (
  SELECT doc_id,
         list_filter(range(1, len(tk) + 1), i -> tk[i] LIKE '{p}%') AS ppre,
         list_filter(range(1, len(tk) + 1), i -> tk[i] = '{b}') AS p2
  FROM tkl
)
SELECT doc_id FROM pos
WHERE len(list_filter(ppre,
        i -> len(list_filter(p2, j -> j > i AND j - i - 1 <= {slop})) > 0
      )) > 0
ORDER BY doc_id
"""


def sparse_vector_topk_sql(query_weights: dict[str, float], k: int = 10) -> str:
    """Mirror of scoring.sparse_vector_topk: same CASE weight lookup,
    same w·tf operand order, rank-identity finish."""
    terms = sorted(query_weights)
    inlist = ", ".join(f"'{t}'" for t in terms)
    case = " ".join(
        f"WHEN term = '{t}' THEN {float(query_weights[t])!r}" for t in terms
    )
    return f"""
WITH tf AS (
  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
  FROM (
    SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
    FROM documents
  ) WHERE term IN ({inlist})
  GROUP BY doc_id, term
),
scored AS (
  SELECT doc_id, round(sum((CASE {case} END) * tf), 6) AS score
  FROM tf GROUP BY doc_id
)
SELECT rank, doc_id, score FROM (
  SELECT row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank, doc_id, score
  FROM scored
) WHERE rank <= {k} ORDER BY rank
"""


def sparse_vector_pruned_sql(query_weights: dict[str, float],
                             freq_ratio_threshold: float = 1.0,
                             weight_threshold: float = 0.5,
                             k: int = 10) -> str:
    """Mirror of scoring.sparse_vector_pruned: same integer-exact prune
    compare (cf·|vocab| > thr·total AND w < wthr·max_w), same CASE weight
    lookup, same w·tf scoring over the kept set."""
    terms = sorted(query_weights)
    max_w = max(float(w) for w in query_weights.values())
    inlist = ", ".join(f"'{t}'" for t in terms)
    case = " ".join(
        f"WHEN term = '{t}' THEN {float(query_weights[t])!r}" for t in terms
    )
    return f"""
WITH ex AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
  FROM documents
),
vocab AS (
  SELECT CAST(count(DISTINCT term) AS BIGINT) AS n_vocab,
         CAST(count(*) AS BIGINT) AS total_tokens
  FROM ex
),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
  FROM ex WHERE term IN ({inlist})
  GROUP BY doc_id, term
),
cfs AS (
  SELECT term, CAST(sum(tf) AS BIGINT) AS cf FROM tf GROUP BY term
),
kept AS (
  SELECT term, (CASE {case} END) AS w
  FROM cfs CROSS JOIN vocab
  WHERE NOT (cf * n_vocab > {float(freq_ratio_threshold)!r} * total_tokens
             AND (CASE {case} END) < {weight_threshold * max_w!r})
),
scored AS (
  SELECT tf.doc_id, round(sum(kept.w * tf.tf), 6) AS score
  FROM tf JOIN kept USING (term)
  GROUP BY tf.doc_id
)
SELECT rank, doc_id, score FROM (
  SELECT row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank, doc_id, score
  FROM scored
) WHERE rank <= {k} ORDER BY rank
"""


def intervals_ordered_sql(terms: list[str], max_gaps: int = 2) -> str:
    """Mirror of query_ext.intervals_ordered: nested list_filter over the
    per-term position arrays, ES gap semantics last-first-(n-1)."""
    n = len(terms)
    esc = [t.replace("'", "''") for t in terms]
    pos_cols = ",\n         ".join(
        f"list_filter(range(1, len(tk) + 1), i -> tk[i] = '{t}') AS p{d}"
        for d, t in enumerate(esc)
    )
    expr = (
        f"len(list_filter(p{n-1}, i{n-1} -> i{n-1} > i{n-2}"
        f" AND i{n-1} - i0 - {n-1} <= {max_gaps})) > 0"
    )
    for d in range(n - 2, 0, -1):
        expr = f"len(list_filter(p{d}, i{d} -> i{d} > i{d-1} AND ({expr}))) > 0"
    conj = " AND ".join(f"len(p{d}) > 0" for d in range(n))
    return f"""
WITH tkl AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
  FROM documents
),
pos AS (
  SELECT doc_id,
         {pos_cols}
  FROM tkl
)
SELECT doc_id FROM pos
WHERE {conj}
  AND len(list_filter(p0, i0 -> {expr})) > 0
ORDER BY doc_id
"""


def span_containing_sql(t1: str, t2: str, little: str, slop: int = 3) -> str:
    """Mirror of query_ext.span_containing."""
    a, b, c = (t.replace("'", "''") for t in (t1, t2, little))
    return f"""
WITH tkl AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
  FROM documents
),
pos AS (
  SELECT doc_id,
         list_filter(range(1, len(tk) + 1), i -> tk[i] = '{a}') AS p1,
         list_filter(range(1, len(tk) + 1), i -> tk[i] = '{b}') AS p2,
         list_filter(range(1, len(tk) + 1), i -> tk[i] = '{c}') AS pl
  FROM tkl
)
SELECT doc_id FROM pos
WHERE len(p1) > 0 AND len(p2) > 0 AND len(pl) > 0
  AND len(list_filter(p1, i -> len(list_filter(p2,
        j -> j > i AND j - i - 1 <= {slop}
             AND len(list_filter(pl, k -> k >= i AND k <= j)) > 0
      )) > 0)) > 0
ORDER BY doc_id
"""


def span_within_sql(t1: str, t2: str, little: str, slop: int = 3) -> str:
    """Mirror of query_ext.span_within: count little positions enclosed by
    some ordered big span — same nested list_filter algebra as
    span_containing_sql, aggregated instead of existence-tested."""
    a, b, c = (t.replace("'", "''") for t in (t1, t2, little))
    n_within = (
        f"len(list_filter(pl, k -> len(list_filter(p1, i -> "
        f"len(list_filter(p2, j -> j > i AND j - i - 1 <= {slop} "
        f"AND k >= i AND k <= j)) > 0)) > 0))"
    )
    return f"""
WITH tkl AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
  FROM documents
),
pos AS (
  SELECT doc_id,
         list_filter(range(1, len(tk) + 1), i -> tk[i] = '{a}') AS p1,
         list_filter(range(1, len(tk) + 1), i -> tk[i] = '{b}') AS p2,
         list_filter(range(1, len(tk) + 1), i -> tk[i] = '{c}') AS pl
  FROM tkl
  WHERE len(list_filter(range(1, len(tk) + 1), i -> tk[i] = '{a}')) > 0
)
SELECT doc_id, CAST({n_within} AS BIGINT) AS n_within
FROM pos
WHERE {n_within} > 0
ORDER BY doc_id
"""


def terms_set_sql(terms: list[str], msm_expr: str) -> str:
    """Mirror of query_ext.terms_set_match — ``msm_expr`` is the SQL twin
    of the per-doc threshold column (use pmod form for negative ids)."""
    esc = [t.replace("'", "''") for t in terms]
    hits = " + ".join(
        f"(CASE WHEN list_contains(tk, '{t}') THEN 1 ELSE 0 END)" for t in esc
    )
    return f"""
WITH feat AS (
  SELECT doc_id,
         CAST({hits} AS BIGINT) AS n_matched,
         CAST(least({msm_expr}, {len(terms)}) AS BIGINT) AS msm
  FROM (
    SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
    FROM documents
  )
)
SELECT doc_id, n_matched, msm FROM feat
WHERE n_matched >= msm
ORDER BY doc_id
"""


def lm_topk_sql(terms: list[str], k: int = 10, smoothing: str = "dirichlet",
                mu: float = 2000.0, lam: float = 0.1) -> str:
    """LM Dirichlet / Jelinek-Mercer similarity (scoring.lm_topk): same
    Zhai & Lafferty formulas, cf from the same filtered tf relation, C as
    the exact-integer token total — operand order pinned to the Spark
    side."""
    part = (
        f"greatest(ln(1 + tf.tf / ({float(mu)!r} * (cfs.cf / totc.total_c)))"
        f" + ln({float(mu)!r} / (dl.dl + {float(mu)!r})), 0.0)"
        if smoothing == "dirichlet"
        else f"ln(1 + (({1.0 - float(lam)!r} * tf.tf) / dl.dl)"
             f" / ({float(lam)!r} * (cfs.cf / totc.total_c)))"
    )
    inner = f"""
WITH {_TF_CTES},
cfs AS (
  SELECT term, CAST(sum(tf) AS BIGINT) AS cf FROM tf
  WHERE term IN {_terms_in(terms)} GROUP BY term
),
totc AS (SELECT CAST(sum(dl) AS DOUBLE) AS total_c FROM dl),
scored AS (
  SELECT tf.doc_id, round(sum({part}), 6) AS score
  FROM tf
  JOIN cfs USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN totc
  GROUP BY tf.doc_id
)
SELECT doc_id, score FROM scored
"""
    return _ranked_topk(inner, k)


def distance_feature_sql(terms: list[str], origin: float, pivot: float = 50.0,
                         boost: float = 2.0, k: int = 10,
                         field: str = "n_chars") -> str:
    """distance_feature (scoring.distance_feature_topk): additive
    closeness-to-origin contribution over the rounded BM25 score."""
    contrib = (
        f"{float(boost)!r} * {float(pivot)!r} / ({float(pivot)!r} + "
        f"abs(CAST(d.{field} AS DOUBLE) - {float(origin)!r}))"
    )
    inner = f"""
WITH {_TF_CTES},
{_scored_cte(terms)}
SELECT s.doc_id, round(round(s.raw_score, 6) + {contrib}, 6) AS score
FROM scored s JOIN documents d ON d.doc_id = s.doc_id
"""
    return _ranked_topk(inner, k)


def pinned_sql(terms: list[str], pinned_ids: list[int], k: int = 10) -> str:
    """Pinned query (scoring.pinned_topk): pinned ids first in promotion
    order (descending PIN_BASE - position constants, existence-checked
    against the corpus), then organic BM25 with the pins excluded."""
    from .scoring import PIN_BASE
    vals = ", ".join(
        f"({int(d)}, {PIN_BASE - i!r})" for i, d in enumerate(pinned_ids)
    )
    inner = f"""
WITH {_TF_CTES},
{_scored_cte(terms)},
pins AS (SELECT * FROM (VALUES {vals}) AS p(doc_id, pin_score)),
pinned AS (
  SELECT d.doc_id, round(p.pin_score, 6) AS score
  FROM pins p JOIN documents d USING (doc_id)
),
organic AS (
  SELECT doc_id, round(raw_score, 6) AS score FROM scored
  WHERE doc_id NOT IN (SELECT doc_id FROM pins)
)
SELECT doc_id, score FROM pinned
UNION ALL
SELECT doc_id, score FROM organic
"""
    return _ranked_topk(inner, k)


def match_bool_prefix_sql(terms: list[str], k: int = 10) -> str:
    """match_bool_prefix (scoring.match_bool_prefix): bool-should BM25
    over all terms but the last + constant-score 1.0 prefix match on the
    last term (the ES constant_score multi-term rewrite)."""
    full, prefix = terms[:-1], terms[-1].replace("'", "''")
    inner = f"""
WITH {_TF_CTES},
{_scored_cte(full)},
pref AS (
  SELECT doc_id, 1.0 AS part FROM documents
  WHERE len(list_filter(string_split(text, ' '),
            t -> t <> '' AND t LIKE '{prefix}%')) > 0
),
parts AS (
  SELECT doc_id, round(raw_score, 6) AS part FROM scored
  UNION ALL
  SELECT doc_id, part FROM pref
)
SELECT doc_id, round(sum(part), 6) AS score FROM parts GROUP BY doc_id
"""
    return _ranked_topk(inner, k)


def search_as_you_type_sql(terms: list[str], k: int = 10) -> str:
    """Mirror of scoring.search_as_you_type: base-field BM25 over the
    complete terms + constant 1.0 prefix arm + 2-gram-subfield BM25 over
    the adjacent shingles (subfield statistics from its OWN tf/dl/stats
    CTE chain). Branch scores rounded to 6, fused with LEFT joins from
    the id union and summed in the literal order base+prefix+gram."""
    full, prefix = terms[:-1], terms[-1].replace("'", "''")
    grams = ["_".join(p) for p in zip(full, full[1:])]
    return f"""
WITH {_TF_CTES},
{_scored_cte(full)},
base AS (SELECT doc_id, round(raw_score, 6) AS s_base FROM scored),
pref AS (
  SELECT doc_id, 1.0 AS s_pref FROM documents
  WHERE len(list_filter(string_split(text, ' '),
            t -> t <> '' AND t LIKE '{prefix}%')) > 0
),
sdocs AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
  FROM documents
),
stoks AS (
  SELECT doc_id, tk[i] || '_' || tk[i + 1] AS term
  FROM sdocs, unnest(range(1, len(tk))) AS r(i)
),
stf AS (SELECT doc_id, term, count(*) AS tf FROM stoks GROUP BY doc_id, term),
sdl AS (SELECT doc_id, sum(tf) AS dl FROM stf GROUP BY doc_id),
sstats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM sdl),
sdfs AS (
  SELECT term, count(*) AS df FROM stf
  WHERE term IN {_terms_in(grams)} GROUP BY term
),
gram AS (
  SELECT stf.doc_id,
         round(sum( ln(1 + (sstats.n_docs - sdfs.df + 0.5) / (sdfs.df + 0.5))
              * (stf.tf * {K1 + 1.0}) / (stf.tf + {K1} * ({1.0 - B} + {B} * sdl.dl / sstats.avgdl))
            ), 6) AS s_gram
  FROM stf
  JOIN sdfs USING (term)
  JOIN sdl ON sdl.doc_id = stf.doc_id
  CROSS JOIN sstats
  GROUP BY stf.doc_id
),
ids AS (
  SELECT doc_id FROM base UNION
  SELECT doc_id FROM pref UNION
  SELECT doc_id FROM gram
),
total AS (
  SELECT ids.doc_id,
         round(coalesce(s_base, 0.0) + coalesce(s_pref, 0.0)
               + coalesce(s_gram, 0.0), 6) AS score
  FROM ids
  LEFT JOIN base ON base.doc_id = ids.doc_id
  LEFT JOIN pref ON pref.doc_id = ids.doc_id
  LEFT JOIN gram ON gram.doc_id = ids.doc_id
)
{_ranked_topk("SELECT doc_id, score FROM total", k)}
"""


def terms_lookup_sql(lookup_doc_id: int, k: int = 10) -> str:
    """terms-lookup query (query_ext.terms_lookup_topk): term set from one
    document, distinct-match count ranking."""
    return f"""
WITH lk AS (
  SELECT DISTINCT t.tok AS term
  FROM documents, unnest(string_split(text, ' ')) AS t(tok)
  WHERE doc_id = {int(lookup_doc_id)} AND t.tok <> ''
),
dt AS (
  SELECT DISTINCT doc_id, t.tok AS term
  FROM documents, unnest(string_split(text, ' ')) AS t(tok)
  WHERE t.tok <> ''
),
m AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matched
  FROM dt JOIN lk USING (term) GROUP BY doc_id
)
SELECT rank, doc_id, n_matched FROM (
  SELECT row_number() OVER (ORDER BY n_matched DESC, doc_id ASC) AS rank,
         doc_id, n_matched
  FROM m
) WHERE rank <= {int(k)} ORDER BY rank
"""


def sliced_scroll_sql(slice_id: int, max_slices: int, k: int = 50) -> str:
    """Sliced scroll (query_ext.sliced_scroll): same portable seeded hash,
    same pmod slice predicate, keyset page order."""
    from .portable import seeded_sql
    h = seeded_sql("CAST(doc_id AS VARCHAR)", "'slice'")
    m = int(max_slices)
    return f"""
SELECT rank, doc_id, slice_id FROM (
  SELECT row_number() OVER (ORDER BY doc_id ASC) AS rank,
         doc_id, {int(slice_id)} AS slice_id
  FROM documents
  WHERE ((({h}) % {m}) + {m}) % {m} = {int(slice_id)}
) WHERE rank <= {int(k)} ORDER BY rank
"""


def tfidf_classic_sql(terms: list[str], k: int = 10) -> str:
    """Classic TF-IDF (scoring.tfidf_classic_topk): same formula, same
    operand order, coord from the per-doc matched-term count."""
    nq = float(len(sorted(set(terms))))
    return _ranked_topk(f"""
WITH {_TF_CTES},
dfs AS (
  SELECT term, count(*) AS df FROM tf
  WHERE term IN {_terms_in(terms)} GROUP BY term
),
nd AS (SELECT count(*) AS n_docs FROM dl),
scored AS (
  SELECT tf.doc_id,
         round((count(*) / {nq!r}) * sum(
           sqrt(tf.tf) * (1.0 + ln(nd.n_docs / (dfs.df + 1.0)))
                       * (1.0 + ln(nd.n_docs / (dfs.df + 1.0)))
           / sqrt(dl.dl)
         ), 6) AS score
  FROM tf
  JOIN dfs USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN nd
  GROUP BY tf.doc_id
)
SELECT doc_id, score FROM scored
""", k)


def _cos_sql(vec_expr: str, qv_expr: str, dim: int = 64) -> str:
    """Cosine in the exact operand order of dedup.cosine_expr (sequential
    fold: dot / (sqrt(na) * sqrt(nb))) — shared by the vector-scoring
    oracles."""
    r = f"range(1, {dim + 1})"
    dot = f"list_sum(list_transform({r}, i -> {vec_expr}[i]::DOUBLE * {qv_expr}[i]))"
    na = f"sqrt(list_sum(list_transform({r}, i -> {vec_expr}[i]::DOUBLE * {vec_expr}[i]::DOUBLE)))"
    nb = f"sqrt(list_sum(list_transform({r}, i -> {qv_expr}[i] * {qv_expr}[i])))"
    return f"{dot} / ({na} * {nb})"


def script_score_cosine_sql(terms: list[str], query_vec: list[float],
                            k: int = 10) -> str:
    """Mirror of scoring.script_score_cosine: round(bm25_rounded ·
    (cos_rounded + 1.0), 6) over the BM25-matched docs joined to their
    vectors."""
    lit = "[" + ", ".join(f"{float(x)!r}::DOUBLE" for x in query_vec) + "]"
    cos = _cos_sql("e.embedding", "q.qv", len(query_vec))
    inner = f"""
WITH {_TF_CTES},
{_scored_cte(terms)},
q AS (SELECT {lit} AS qv)
SELECT s.doc_id,
       round(round(s.raw_score, 6) * (round({cos}, 6) + 1.0), 6) AS score
FROM scored s
JOIN embeddings e ON e.vec_id = s.doc_id
CROSS JOIN q
"""
    return _ranked_topk(inner, k)


def graph_explore_sql(seeds: list[str], k: int = 5, min_cooc: int = 2) -> str:
    """Mirror of query_ext.graph_explore at hops=2 — per hop the same JLH
    vertex scoring ((fg_rate - bg_rate)·(fg_rate/bg_rate), rounded before
    ordering), the same co-occurrence edge pick (co_docs desc, src asc),
    the same seen-set exclusion; the hop-2 frontier is hop-1's top-k CTE."""
    seed_in = "(" + ", ".join("'" + s.replace("'", "''") + "'" for s in sorted(set(seeds))) + ")"

    def hop(n: int, frontier_pred: str, seen_pred: str) -> str:
        return f"""
m{n} AS (SELECT tf.doc_id, tf.term AS src FROM tf WHERE {frontier_pred}),
fgd{n} AS (SELECT DISTINCT doc_id FROM m{n}),
fgn{n} AS (SELECT CAST(count(*) AS BIGINT) AS fg_n FROM fgd{n}),
c{n} AS (
  SELECT tf.doc_id, tf.term FROM tf JOIN fgd{n} USING (doc_id)
  WHERE {seen_pred}
),
fgdf{n} AS (
  SELECT term, CAST(count(*) AS BIGINT) AS fg_df FROM c{n}
  GROUP BY term HAVING count(*) >= {min_cooc}
),
bgdf{n} AS (
  SELECT tf.term, CAST(count(*) AS BIGINT) AS bg_df FROM tf
  WHERE tf.term IN (SELECT term FROM fgdf{n}) GROUP BY tf.term
),
sc{n} AS (
  SELECT f.term AS dst,
         round((f.fg_df::DOUBLE / fg_n - b.bg_df::DOUBLE / n_docs)
               * ((f.fg_df::DOUBLE / fg_n) / (b.bg_df::DOUBLE / n_docs)), 6) AS jlh
  FROM fgdf{n} f JOIN bgdf{n} b ON b.term = f.term
  CROSS JOIN fgn{n} CROSS JOIN nd
),
top{n} AS (
  SELECT dst, jlh FROM (
    SELECT dst, jlh, row_number() OVER (ORDER BY jlh DESC, dst ASC) AS rn FROM sc{n}
  ) WHERE rn <= {k}
),
p{n} AS (
  SELECT m{n}.src, c{n}.term AS dst, CAST(count(*) AS BIGINT) AS co_docs
  FROM m{n} JOIN c{n} USING (doc_id) GROUP BY 1, 2
),
b{n} AS (
  SELECT src, dst, co_docs FROM (
    SELECT src, dst, co_docs,
           row_number() OVER (PARTITION BY dst ORDER BY co_docs DESC, src ASC) AS rn
    FROM p{n}
  ) WHERE rn = 1
),
e{n} AS (
  SELECT CAST({n} AS BIGINT) AS hop, b{n}.src, t.dst, b{n}.co_docs, t.jlh
  FROM top{n} t JOIN b{n} ON b{n}.dst = t.dst
)"""

    h1 = hop(1, f"tf.term IN {seed_in}", f"tf.term NOT IN {seed_in}")
    h2 = hop(
        2,
        "tf.term IN (SELECT dst FROM top1)",
        f"tf.term NOT IN {seed_in} AND tf.term NOT IN (SELECT dst FROM top1)",
    )
    return f"""
WITH tkl AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
  FROM documents
),
tf AS (SELECT DISTINCT doc_id, unnest(tk) AS term FROM tkl),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
{h1},
{h2}
SELECT * FROM (SELECT * FROM e1 UNION ALL SELECT * FROM e2)
ORDER BY hop, jlh DESC, dst
"""


def significant_terms_chi2_sql(query_terms: list[str], k: int = 10) -> str:
    """chi_square significant-terms oracle; contingency algebra and
    operand order mirror query_ext.significant_terms_chi2 exactly."""
    tin = _terms_in(query_terms)
    d = ("(fg_df::DOUBLE * (n_docs::DOUBLE - fg_n::DOUBLE - bg_df::DOUBLE + fg_df::DOUBLE)"
         " - (fg_n::DOUBLE - fg_df::DOUBLE) * (bg_df::DOUBLE - fg_df::DOUBLE))")
    chi2 = (f"n_docs::DOUBLE * {d} * {d}"
            " / (fg_n::DOUBLE * bg_df::DOUBLE"
            " * (n_docs::DOUBLE - fg_n::DOUBLE) * (n_docs::DOUBLE - bg_df::DOUBLE))")
    return f"""
WITH {_TF_CTES},
fgdocs AS (SELECT DISTINCT doc_id FROM tf WHERE term IN {tin}),
fgn AS (SELECT count(*) AS fg_n FROM fgdocs),
bgn AS (SELECT count(*) AS n_docs FROM documents),
fg AS (
  SELECT term, CAST(count(*) AS BIGINT) AS fg_df FROM tf
  WHERE doc_id IN (SELECT doc_id FROM fgdocs) GROUP BY term
),
bg AS (SELECT term, CAST(count(*) AS BIGINT) AS bg_df FROM tf GROUP BY term),
scored AS (
  SELECT fg.term, fg_df, bg_df,
         round(CASE WHEN fg_df::DOUBLE / fg_n::DOUBLE >= bg_df::DOUBLE / n_docs::DOUBLE
                    THEN {chi2} ELSE -({chi2}) END, 6) AS chi2
  FROM fg JOIN bg USING (term)
  CROSS JOIN fgn CROSS JOIN bgn
  WHERE fg.term NOT IN {tin}
)
SELECT rk, term, fg_df, bg_df, chi2 FROM (
  SELECT row_number() OVER (ORDER BY chi2 DESC, term ASC) AS rk,
         term, fg_df, bg_df, chi2
  FROM scored
) WHERE rk <= {k}
ORDER BY rk
"""


def significant_text_sql(query_terms: list[str], k: int = 10) -> str:
    """Mirror of query_ext.significant_text over the planted-boilerplate
    derivation (every 11th doc gains a SAME-TEXT twin at doc_id + 2000000):
    foreground deduped by md5(text) keep-min-id, background corpus-wide."""
    tin = _terms_in(query_terms)
    return f"""
WITH both_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, text
  FROM documents WHERE ((doc_id % 11) + 11) % 11 = 0
),
toks AS (
  SELECT doc_id, t.tok AS term
  FROM both_docs, unnest(string_split(text, ' ')) AS t(tok)
  WHERE t.tok <> ''
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
mdocs AS (SELECT DISTINCT doc_id FROM tf WHERE term IN {tin}),
fgdocs AS (
  SELECT min(doc_id) AS doc_id
  FROM both_docs WHERE doc_id IN (SELECT doc_id FROM mdocs)
  GROUP BY md5(text)
),
fgn AS (SELECT count(*) AS fg_n FROM fgdocs),
bgn AS (SELECT count(*) AS n_docs FROM both_docs),
fg AS (
  SELECT term, CAST(count(*) AS BIGINT) AS fg_df FROM tf
  WHERE doc_id IN (SELECT doc_id FROM fgdocs) GROUP BY term
),
bg AS (SELECT term, CAST(count(*) AS BIGINT) AS bg_df FROM tf GROUP BY term),
scored AS (
  SELECT fg.term, fg_df, bg_df,
         round(((fg_df / fg_n) - (bg_df / n_docs))
               * ((fg_df / fg_n) / (bg_df / n_docs)), 6) AS jlh
  FROM fg JOIN bg USING (term)
  CROSS JOIN fgn CROSS JOIN bgn
  WHERE fg.term NOT IN {tin}
)
SELECT rk, term, fg_df, bg_df, jlh FROM (
  SELECT row_number() OVER (ORDER BY jlh DESC, term ASC) AS rk,
         term, fg_df, bg_df, jlh
  FROM scored
) WHERE rk <= {k}
ORDER BY rk
"""


def ltr_rescore_sql(terms: list[str], weights=(1.0, 0.25, 2.0, 0.125),
                    k: int = 10, window: int = 50,
                    field: str = "n_chars") -> str:
    """LTR linear-rescore oracle: BM25 top-``window`` → linear model over
    (rounded bm25, ln(1+dl), coverage, ln(1+field)) in the exact operand
    order of scoring.ltr_rescore."""
    w_bm, w_dl, w_cov, w_f = (float(w) for w in weights)
    qset = sorted(set(terms))
    terms_list = "[" + ", ".join("'" + t.replace("'", "''") + "'" for t in qset) + "]"
    return f"""
WITH {_TF_CTES},
dfs AS (
  SELECT term, count(*) AS df FROM tf
  WHERE term IN {_terms_in(terms)} GROUP BY term
),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
              * (tf.tf * {K1 + 1.0}) / (tf.tf + {K1} * ({1.0 - B} + {B} * dl.dl / stats.avgdl))
            ) AS raw_score
  FROM tf
  JOIN dfs USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
),
initial AS (
  SELECT doc_id, round(raw_score, 6) AS score
  FROM scored
  ORDER BY round(raw_score, 6) DESC, doc_id ASC
  LIMIT {window}
),
feats AS (
  SELECT doc_id,
         ln(1.0 + len(list_filter(string_split(text, ' '), x -> x <> ''))) AS f_dl,
         len(list_intersect(list_distinct(list_filter(string_split(text, ' '), x -> x <> '')),
                            {terms_list})) / {float(len(qset))!r} AS f_cov,
         ln(1.0 + {field}) AS f_field
  FROM documents
),
rescored AS (
  SELECT i.doc_id,
         round({w_bm!r} * i.score + {w_dl!r} * f.f_dl
               + {w_cov!r} * f.f_cov + {w_f!r} * f.f_field, 6) AS score
  FROM initial i JOIN feats f USING (doc_id)
)
SELECT rank, doc_id, score FROM (
  SELECT row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank,
         doc_id, score
  FROM rescored
) WHERE rank <= {k}
ORDER BY rank
"""


def rescore_chain_sql(terms: list[str], weights=(1.0, 0.25, 2.0, 0.125),
                      k: int = 10, w1: int = 50, w2: int = 20,
                      field: str = "n_chars") -> str:
    """Sequential-rescorer oracle: BM25 top-w1 → proximity bonus re-rank,
    keep w2 → linear LTR model → final top-k. Stage formulas and operand
    order mirror query_ext.proximity_rescore then scoring.ltr_model_rerank."""
    w_bm, w_dl, w_cov, w_f = (float(w) for w in weights)
    qset = sorted(set(terms))
    t1 = terms[0].replace("'", "''")
    t2 = terms[1].replace("'", "''")
    terms_list = "[" + ", ".join("'" + t.replace("'", "''") + "'" for t in qset) + "]"
    return f"""
WITH {_TF_CTES},
dfs AS (
  SELECT term, count(*) AS df FROM tf
  WHERE term IN {_terms_in(terms)} GROUP BY term
),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
              * (tf.tf * {K1 + 1.0}) / (tf.tf + {K1} * ({1.0 - B} + {B} * dl.dl / stats.avgdl))
            ) AS raw_score
  FROM tf
  JOIN dfs USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
),
initial AS (
  SELECT doc_id, round(raw_score, 6) AS score
  FROM scored
  ORDER BY round(raw_score, 6) DESC, doc_id ASC
  LIMIT {w1}
),
tkl AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
  FROM documents
),
stage1 AS (
  SELECT doc_id, score FROM (
    SELECT i.doc_id,
           round(i.score +
             CASE WHEN list_position(tk, '{t1}') IS NOT NULL
                       AND list_position(tk, '{t2}') IS NOT NULL
                  THEN 1.0 / (1.0 + abs(list_position(tk, '{t1}')
                                        - list_position(tk, '{t2}')))
                  ELSE 0.0 END, 6) AS score
    FROM initial i JOIN tkl USING (doc_id)
  )
  ORDER BY score DESC, doc_id ASC
  LIMIT {w2}
),
feats AS (
  SELECT doc_id,
         ln(1.0 + len(tk)) AS f_dl,
         len(list_intersect(list_distinct(tk), {terms_list})) / {float(len(qset))!r} AS f_cov,
         ln(1.0 + {field}) AS f_field
  FROM tkl JOIN documents USING (doc_id)
),
rescored AS (
  SELECT s.doc_id,
         round({w_bm!r} * s.score + {w_dl!r} * f.f_dl
               + {w_cov!r} * f.f_cov + {w_f!r} * f.f_field, 6) AS score
  FROM stage1 s JOIN feats f USING (doc_id)
)
SELECT rank, doc_id, score FROM (
  SELECT row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank,
         doc_id, score
  FROM rescored
) WHERE rank <= {k}
ORDER BY rank
"""


def percolate_range_sql(queries: dict[str, dict],
                        range_col: str = "n_chars") -> str:
    """percolate_sql's coverage pass plus the numeric range gate: the
    bounds relation left-joins the term-matched pairs; range-less queries
    pass via the NULL branch — same predicate as query_ext.percolate_range."""
    term_specs = {qid: {kk: vv for kk, vv in spec.items() if kk != "range"}
                  for qid, spec in queries.items()}
    inner = percolate_sql(term_specs).strip()
    rr = [(qid, float(spec["range"][0]), float(spec["range"][1]))
          for qid, spec in sorted(queries.items()) if spec.get("range")]
    vals = ", ".join(f"('{q}', {lo!r}, {hi!r})" for q, lo, hi in rr)
    return f"""
WITH matched AS ({inner}),
bounds(qid, lo, hi) AS (VALUES {vals})
SELECT m.doc_id, m.qid
FROM matched m
JOIN documents d ON d.doc_id = m.doc_id
LEFT JOIN bounds b ON b.qid = m.qid
WHERE b.lo IS NULL
   OR (d.{range_col}::DOUBLE >= b.lo AND d.{range_col}::DOUBLE <= b.hi)
ORDER BY m.doc_id, m.qid
"""


def simple_query_string_sql(groups: list[dict], k: int = 10) -> str:
    """Mirror of query_ext.simple_query_string_bm25: OR-of-AND groups,
    score = Σ over matched groups of the group's positive-term BM25
    partials, added in group order (the Spark when-chain order)."""
    all_terms = sorted({t for g in groups for t in g["pos"] + g["neg"]})
    aggs, conds, sums = [], [], []
    for i, g in enumerate(groups):
        aggs.append(
            f"count(CASE WHEN term IN {_terms_in(g['pos'])} THEN 1 END) AS p{i}")
        aggs.append(
            f"sum(CASE WHEN term IN {_terms_in(g['pos'])} THEN part END) AS s{i}")
        m = f"p{i} = {len(g['pos'])}"
        if g["neg"]:
            aggs.append(
                f"count(CASE WHEN term IN {_terms_in(g['neg'])} THEN 1 END) AS n{i}")
            m += f" AND n{i} = 0"
        conds.append(f"({m})")
        sums.append(f"CASE WHEN {m} THEN s{i} ELSE 0.0 END")
    return f"""
WITH {_TF_CTES},
dfs AS (
  SELECT term, count(*) AS df FROM tf
  WHERE term IN {_terms_in(all_terms)} GROUP BY term
),
per AS (
  SELECT tf.doc_id, tf.term,
         ln(1 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
         * (tf.tf * {K1 + 1.0}) / (tf.tf + {K1} * ({1.0 - B} + {B} * dl.dl / stats.avgdl)) AS part
  FROM tf
  JOIN dfs USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats
),
byd AS (SELECT doc_id, {", ".join(aggs)} FROM per GROUP BY doc_id),
scored AS (
  SELECT doc_id, round({" + ".join(sums)}, 6) AS score
  FROM byd WHERE {" OR ".join(conds)}
)
SELECT rank, doc_id, score FROM (
  SELECT row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank,
         doc_id, score
  FROM scored
) WHERE rank <= {k}
ORDER BY rank
"""


def analyze_sql(text: str, analyzer: str = "whitespace",
                stopwords: tuple[str, ...] = ()) -> str:
    """Mirror of query_ext.analyze_api — the same templated analyzer
    expressions (html_strip_expr / stemmed_expr) over a VALUES literal;
    positions via range+index (DuckDB has no WITH ORDINALITY)."""
    lit = "'" + str(text).replace("'", "''") + "'"
    if analyzer == "whitespace":
        src, t = lit, "text"
    elif analyzer == "html_strip":
        src, t = lit, html_strip_expr("text")
    elif analyzer == "stop":
        stops = ", ".join("'" + s.replace("'", "''") + "'"
                          for s in sorted(set(stopwords)))
        src = lit
        t = (f"array_to_string(list_filter(string_split(text, ' '), "
             f"x -> x <> '' AND x NOT IN ({stops})), ' ')")
    elif analyzer == "english_chain":
        src = html_strip_expr(lit)
        t = stemmed_expr(tuple(stopwords))
    else:
        raise ValueError(f"unknown analyzer {analyzer!r}")
    return f"""
WITH one AS (SELECT {src} AS text),
an AS (SELECT {t} AS t FROM one),
tk AS (SELECT list_filter(string_split(t, ' '), x -> x <> '') AS tk FROM an)
SELECT CAST(i - 1 AS BIGINT) AS pos, tk[i] AS token
FROM tk, unnest(range(1, len(tk) + 1)) AS r(i)
ORDER BY pos
"""


def hard_negatives_sql(specs: dict[str, tuple[list[str], int]], k: int = 5) -> str:
    """Hard-negative mining oracle: full-corpus BM25 scores (the shared
    formula, identical operand order), the labeled positive excluded
    BEFORE the rank window, top-k per query, queries UNION ALL'd."""
    all_terms = sorted({t for terms, _ in specs.values() for t in terms})
    branches = []
    for qid in sorted(specs):
        terms, pos = specs[qid]
        branches.append(f"""
SELECT '{qid}' AS qid, rank, doc_id, score FROM (
  SELECT row_number() OVER (ORDER BY round(raw_score, 6) DESC, doc_id ASC) AS rank,
         doc_id, round(raw_score, 6) AS score
  FROM (
    SELECT tf.doc_id,
           sum( ln(1 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
                * (tf.tf * {K1 + 1.0}) / (tf.tf + {K1} * ({1.0 - B} + {B} * dl.dl / stats.avgdl))
              ) AS raw_score
    FROM tf
    JOIN dfs USING (term)
    JOIN dl ON dl.doc_id = tf.doc_id
    CROSS JOIN stats
    WHERE tf.term IN {_terms_in(terms)}
    GROUP BY tf.doc_id
  )
  WHERE doc_id <> {int(pos)}
) WHERE rank <= {k}""")
    body = "\nUNION ALL\n".join(branches)
    return f"""
WITH {_TF_CTES},
dfs AS (
  SELECT term, count(*) AS df FROM tf
  WHERE term IN {_terms_in(all_terms)} GROUP BY term
)
{body}
ORDER BY qid, rank
"""


def bm25_plus_sql(terms: list[str], k: int = 10, delta: float = 1.0) -> str:
    """BM25+ (scoring.bm25_plus_topk): lower-bounded tf normalization,
    idf = ln((N+1)/df) — operand order pinned to the Spark side."""
    inner = f"""
WITH {_TF_CTES},
dfs AS (
  SELECT term, count(*) AS df FROM tf
  WHERE term IN {_terms_in(terms)} GROUP BY term
),
scored AS (
  SELECT tf.doc_id,
         sum( ln((stats.n_docs + 1.0) / dfs.df)
              * ((tf.tf * {K1 + 1.0}) / (tf.tf + {K1} * ({1.0 - B} + {B} * dl.dl / stats.avgdl)) + {float(delta)!r})
            ) AS raw_score
  FROM tf
  JOIN dfs USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT doc_id, round(raw_score, 6) AS score FROM scored
"""
    return _ranked_topk(inner, k)


def accentified_expr(inner: str = "text") -> str:
    """SQL twin of query_ext.accentify_docs — constants templated from
    ACCENT_SRC/ACCENT_DST/ACCENT_EVERY."""
    from .query_ext import ACCENT_DST, ACCENT_EVERY, ACCENT_SRC

    e = ACCENT_EVERY
    pmod = f"((doc_id % {e}) + {e}) % {e}"
    return (f"CASE WHEN {pmod} = 0 THEN "
            f"translate({inner}, '{ACCENT_SRC}', '{ACCENT_DST}') "
            f"ELSE {inner} END")


def asciifold_expr(inner: str = "text") -> str:
    """SQL twin of query_ext.asciifold_col."""
    from .query_ext import ACCENT_DST, ACCENT_SRC

    return f"translate({inner}, '{ACCENT_DST}', '{ACCENT_SRC}')"


def prf_bm25_sql(terms: list[str], k: int = 10, fb_k: int = 5,
                 n_exp: int = 3, exp_weight: float = 0.5) -> str:
    """Pseudo-relevance feedback (query_ext.prf_bm25): same feedback
    top-k, same rounded relevance-model expansion weights, same dyadic
    boost multiply — one statement chaining the two passes."""
    inner0 = f"""
WITH {_TF_CTES},
{_scored_cte(terms)},
ranked AS (
  SELECT row_number() OVER (ORDER BY round(raw_score, 6) DESC, doc_id ASC)
           AS rk, doc_id
  FROM scored
),
fb AS (SELECT doc_id FROM ranked WHERE rk <= {int(fb_k)}),
exp AS (
  SELECT tf.term, round(sum(tf.tf / CAST(dl.dl AS DOUBLE)), 6) AS w
  FROM tf JOIN dl ON dl.doc_id = tf.doc_id
  WHERE tf.doc_id IN (SELECT doc_id FROM fb)
    AND tf.term NOT IN {_terms_in(terms)}
  GROUP BY tf.term
  ORDER BY w DESC, tf.term ASC
  LIMIT {int(n_exp)}
),
qset AS (
  SELECT t.term, 1.0 AS tw
  FROM (SELECT unnest({[*sorted(set(terms))]!r}) AS term) t
  UNION ALL
  SELECT term, {float(exp_weight)!r} AS tw FROM exp
),
dfs2 AS (
  SELECT tf.term, count(*) AS df FROM tf
  WHERE tf.term IN (SELECT term FROM qset) GROUP BY tf.term
),
scored2 AS (
  SELECT tf.doc_id,
         sum( ln(1 + (stats.n_docs - dfs2.df + 0.5) / (dfs2.df + 0.5))
              * (tf.tf * {K1 + 1.0}) / (tf.tf + {K1} * ({1.0 - B} + {B} * dl.dl / stats.avgdl))
              * qset.tw
            ) AS raw_score
  FROM tf
  JOIN qset ON qset.term = tf.term
  JOIN dfs2 ON dfs2.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT doc_id, round(raw_score, 6) AS score FROM scored2
"""
    return _ranked_topk(inner0, k)


def mmr_rerank_sql(terms: list[str], k: int = 5, pool: int = 20,
                   lam: float = 0.5, dim: int = 64) -> str:
    """MMR diversification (scoring.mmr_rerank): candidate pool = rounded
    BM25 top-``pool`` joined to vectors, pairwise cosines rounded 6, then
    ``k`` unrolled greedy argmax CTEs — identical rounded inputs, same
    λ·rel − (1−λ)·maxcos arithmetic, same (mmr desc, doc_id asc) pick."""
    lam = float(lam)
    cos = _cos_sql("a.embedding", "b.embedding", dim)
    ctes = [f"""ranked AS (
  SELECT row_number() OVER (ORDER BY round(raw_score, 6) DESC, doc_id ASC)
           AS rk, doc_id, round(raw_score, 6) AS rel
  FROM scored
)""",
            # MATERIALIZED: the greedy CTE chain references cand/pairs in
            # k correlated subqueries — inlined re-evaluation is O(k·pool²)
            # cosine recomputes (measured 24s → 0.2s at pool=20)
            f"""cand AS MATERIALIZED (
  SELECT r.doc_id, r.rel, e.embedding
  FROM ranked r JOIN embeddings e ON e.vec_id = r.doc_id
  WHERE r.rk <= {int(pool)}
)""",
            f"""pairs AS MATERIALIZED (
  SELECT a.doc_id AS ia, b.doc_id AS ib, round({cos}, 6) AS c
  FROM cand a JOIN cand b ON a.doc_id <> b.doc_id
)""",
            "pick1 AS (SELECT doc_id, rel FROM cand "
            "ORDER BY rel DESC, doc_id ASC LIMIT 1)",
            "sel1 AS (SELECT doc_id FROM pick1)"]
    for i in range(2, int(k) + 1):
        ctes.append(f"""m{i} AS (
  SELECT c.doc_id, c.rel,
         {lam!r} * c.rel - {1.0 - lam!r} * (
           SELECT max(p.c) FROM pairs p
           WHERE p.ia = c.doc_id
             AND p.ib IN (SELECT doc_id FROM sel{i-1})
         ) AS mmr
  FROM cand c
  WHERE c.doc_id NOT IN (SELECT doc_id FROM sel{i-1})
)""")
        ctes.append(f"pick{i} AS (SELECT doc_id, rel FROM m{i} "
                    f"ORDER BY mmr DESC, doc_id ASC LIMIT 1)")
        ctes.append(f"sel{i} AS (SELECT doc_id FROM sel{i-1} "
                    f"UNION ALL SELECT doc_id FROM pick{i})")
    sels = " UNION ALL ".join(
        f"SELECT {i} AS pick, doc_id, rel FROM pick{i}"
        for i in range(1, int(k) + 1))
    return f"""
WITH {_TF_CTES},
{_scored_cte(terms)},
{", ".join(ctes)}
SELECT pick, doc_id, rel FROM ({sels}) ORDER BY pick
"""


def synonym_graph_bm25_sql(lexemes: list[list[tuple]], k: int = 10) -> str:
    """Mirror of query_ext.synonym_graph_bm25: row-local variant counts
    (list_filter for single tokens, adjacent-index list_filter for
    two-token phrases), per-lexeme df, plain-token-count dl, same BM25
    operand order."""
    def esc(s: str) -> str:
        return s.replace("'", "''")

    def vcount(variant: tuple) -> str:
        if len(variant) == 1:
            return f"len(list_filter(tk, t -> t = '{esc(str(variant[0]))}'))"
        a, b = esc(str(variant[0])), esc(str(variant[1]))
        return (f"len(list_filter(range(1, len(tk)), "
                f"i -> tk[i] = '{a}' AND tk[i+1] = '{b}'))")

    tf_cols = [
        " + ".join(vcount(v) for v in variants) + f" AS tf_{i}"
        for i, variants in enumerate(lexemes)
    ]
    unions = " UNION ALL ".join(
        f"SELECT doc_id, dl, {i} AS lex, CAST(tf_{i} AS BIGINT) AS tf "
        f"FROM m WHERE tf_{i} > 0"
        for i in range(len(lexemes))
    )
    inner = f"""
WITH tl AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
  FROM documents
),
m AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl, {", ".join(tf_cols)} FROM tl),
matched AS ({unions}),
dfs AS (SELECT lex, count(*) AS df FROM matched GROUP BY lex),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM m WHERE dl > 0)
SELECT matched.doc_id,
       round(sum( ln(1 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
              * (matched.tf * {K1 + 1.0}) / (matched.tf + {K1} * ({1.0 - B} + {B} * matched.dl / stats.avgdl))
            ), 6) AS score
FROM matched
JOIN dfs USING (lex)
CROSS JOIN stats
GROUP BY matched.doc_id
"""
    return _ranked_topk(inner, k)


def function_score_decay_linear_sql(terms: list[str], origin: float,
                                    scale: float, decay: float = 0.5,
                                    offset: float = 0.0, k: int = 10,
                                    field: str = "n_chars") -> str:
    """Linear-decay function_score: score = round(bm25 * max(0,(s-d)/s), 6)
    with d = max(0, |v-origin|-offset), s = scale/(1-decay) — the SAME
    driver-side literal as scoring.function_score_decay_linear, identical
    operand order."""
    sig = float(scale) / (1.0 - float(decay))
    d = (f"greatest(0.0, abs(CAST(d.{field} AS DOUBLE) - {float(origin)!r})"
         f" - {float(offset)!r})")
    inner = f"""
WITH {_TF_CTES},
{_scored_cte(terms)}
SELECT s.doc_id,
       round(round(s.raw_score, 6)
             * greatest(0.0, ({sig!r} - {d}) / {sig!r}), 6) AS score
FROM scored s JOIN documents d ON d.doc_id = s.doc_id
"""
    return _ranked_topk(inner, k)
