"""Extended query shapes pinned by the reference's tests.

/root/reference tests exercise three query forms beyond plain BM25
(tests/tests.rs:208-228, tests/openmaptiles2mimir/mod.rs:361-368):

  `name:Ocean*`                 → prefix (multi-term) query
  `poi_type.name:(subclass_cafe)` → field-scoped term query over the
                                  synthetic token bag (P7's word-analyzer
                                  trick: fields become namespaced tokens)
  golden label/format checks    → exact phrase containment

Engine semantics (documented contract, mirrored by the oracles):
  * prefix_bm25: expand prefix against the dictionary, score the union of
    matching terms with standard BM25 (ES's scoring_boolean rewrite).
  * fielded tokens: `with_field_tokens` appends `field:value` tokens to the
    text — exactly fafnir's build_poi_type_text move (pois.rs:248-274) —
    so field predicates are just conjunctive terms in the same index.
  * phrase_match: conjunctive candidates + exact containment recheck of
    ' phrase ' in ' text ' (positional recheck strategy; positions are not
    stored in blocks — documented tradeoff: recheck touches only
    conjunctive-candidate rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .query import conjunctive_match

# ES bounds every multi-term rewrite (indices.query.bool.max_clause_count;
# fuzzy/prefix max_expansions) — the driver-side term collect is only safe
# because of this envelope. Exceeding it raises instead of silently
# materializing an unbounded vocabulary slice on the driver.
MAX_EXPANSIONS = 1024


def _collect_expansion(terms_df: DataFrame, what: str,
                       max_expansions: int | None = None) -> list[str]:
    """Bounded driver-side term-expansion collect: limit(max+1), raise on
    overflow (ES too_many_clauses parity). All wildcard/regexp/prefix/fuzzy
    expansions funnel through here."""
    if max_expansions is None:
        max_expansions = MAX_EXPANSIONS  # read at call time (patchable)
    rows = terms_df.select("term").limit(max_expansions + 1).collect()
    if len(rows) > max_expansions:
        raise ValueError(
            f"{what}: expansion exceeds max_expansions={max_expansions} "
            "terms (ES too_many_clauses). Narrow the pattern or raise "
            "max_expansions explicitly."
        )
    return sorted(r["term"] for r in rows)


def facet_counts(
    docs: DataFrame,
    terms: list[str],
    facet_cols: list[str],
    text_col: str = "text",
) -> DataFrame:
    """ES-style facet aggregation: per facet column, value counts over the
    disjunctive match set of ``terms``. (facet, value, n)."""
    matched = docs.join(_any_match(docs, terms, text_col), "doc_id")
    out = None
    for c in facet_cols:
        f = matched.groupBy(F.col(c).cast("string").alias("value")).agg(
            F.count(F.lit(1)).alias("n")
        ).select(F.lit(c).alias("facet"), "value", "n")
        out = f if out is None else out.unionByName(f)
    return out.orderBy("facet", "value")


def terms_agg_partition(docs: DataFrame, partition: int, num_partitions: int,
                        size: int = 10, text_col: str = "text") -> DataFrame:
    """ES terms aggregation with ``include: {partition, num_partitions}``
    — THE mechanism for exporting a huge-cardinality terms agg: the
    vocabulary is hash-split into ``num_partitions`` disjoint slices and
    each request ranks only its slice, so m independent (parallelizable,
    resumable) queries cover every term without one giant response.

    Scale shape: the slice predicate pmod(hash60(term), m) == p is
    applied to the exploded tokens BELOW the df groupBy, so each slice
    query shuffles and aggregates only ~1/m of the token stream (not a
    post-agg filter over the full vocabulary); the finish is
    TakeOrderedAndProject. Slices are disjoint and exhaustive by
    construction (same portable hash both engines). (rk, term, df)."""
    from pyspark.sql.window import Window

    from .portable import hash60
    from .tokenizer import tokens_expr

    toks = (
        docs.select("doc_id", F.explode(tokens_expr(text_col)).alias("term"))
        .filter(F.pmod(hash60(F.col("term")), F.lit(num_partitions))
                == F.lit(partition))
    )
    dfs = (
        toks.distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
    )
    top = dfs.orderBy(F.col("df").desc(), F.col("term").asc()).limit(size)
    w = F.row_number().over(Window.orderBy(F.col("df").desc(), F.col("term").asc()))
    return top.withColumn("rk", w).select("rk", "term", "df").orderBy("rk")


def _any_match(docs: DataFrame, terms: list[str], text_col: str) -> DataFrame:
    from .query import doc_term_freqs

    spark = docs.sparkSession
    q = spark.createDataFrame([(t,) for t in sorted(set(terms))], "term string")
    tf = doc_term_freqs(docs.selectExpr("doc_id", f"{text_col} as __text"), "doc_id", "__text")
    return tf.join(F.broadcast(q), "term").select("doc_id").distinct()


def snippet_expr(text_col: str, term: str, width: int = 24) -> F.Column:
    """Result highlighting: a ±width-char window around the first whole-token
    occurrence of ``term`` (fafnir P15 substring ops, /root/reference
    src/sources/tripadvisor/parse.rs:69-71). Empty string when absent."""
    padded = F.concat(F.lit(" "), F.col(text_col), F.lit(" "))
    pos = F.instr(padded, f" {term} ")  # 1-based, 0 if absent
    start = F.greatest(pos - width, F.lit(1))
    return F.when(pos > 0, F.trim(F.substring(padded, start, width * 2 + len(term)))).otherwise(
        F.lit("")
    )


def paginate(ranked: DataFrame, page: int, page_size: int) -> DataFrame:
    """Search pagination over a ranked result (rank column, 1-based pages)."""
    lo = (page - 1) * page_size
    return ranked.filter((F.col("rank") > lo) & (F.col("rank") <= lo + page_size))


def with_field_tokens(docs: DataFrame, fields: list[str], text_col: str = "text") -> DataFrame:
    """Append `field:value` tokens to the text — the token-bag trick."""
    parts = [F.col(text_col)]
    for f in fields:
        parts.append(F.concat(F.lit(f + ":"), F.col(f)))
    return docs.withColumn(text_col, F.concat_ws(" ", *parts))


def expand_prefix(docs: DataFrame, prefix: str, text_col: str = "text",
                  max_expansions: int | None = None) -> list[str]:
    """Dictionary prefix scan → matching terms (driver-side; bounded by
    ``max_expansions``, raising on overflow — ES too_many_clauses)."""
    from .query import doc_term_freqs

    tf = doc_term_freqs(docs, "doc_id", text_col)
    return _collect_expansion(
        tf.select("term").distinct().filter(F.col("term").startswith(prefix)),
        f"prefix {prefix!r}", max_expansions,
    )


def prefix_bm25(docs: DataFrame, prefix: str, k: int = 10, text_col: str = "text") -> DataFrame:
    """`prefix*` → expanded-term disjunctive BM25 top-k (rank, doc_id, score).

    Single-query path → bm25_topk (TakeOrderedAndProject), not the batch
    form whose per-qid window would put one query's matches through one
    reducer."""
    from .query import bm25_topk

    terms = expand_prefix(docs, prefix, text_col)
    if not terms:
        return docs.sparkSession.createDataFrame([], "rank int, doc_id long, score double")
    return bm25_topk(docs, terms, k=k, text_col=text_col)


def fielded_bm25(
    docs: DataFrame,
    terms: list[str],
    field_filters: dict[str, str],
    k: int = 10,
    text_col: str = "text",
) -> DataFrame:
    """BM25 over `terms`, restricted to docs whose namespaced field tokens
    match (conjunctive field predicates). Field tokens do not contribute to
    the score — they are filters, like ES filter context."""
    from .query import bm25_topk

    tagged = with_field_tokens(docs, sorted(field_filters), text_col)
    ftoks = [f"{f}:{v}" for f, v in sorted(field_filters.items())]
    eligible = conjunctive_match(tagged, ftoks, text_col=text_col)
    # eligibility filters BEFORE scoring (only eligible docs are aggregated)
    # and the top-k is TakeOrderedAndProject, not a global window
    return bm25_topk(docs, terms, k=k, text_col=text_col, eligible=eligible)


def bool_bm25(
    docs: DataFrame,
    must: list[str] | None = None,
    should: list[str] | None = None,
    must_not: list[str] | None = None,
    k: int = 10,
    text_col: str = "text",
    minimum_should_match: int | None = None,
    boosts: dict[str, float] | None = None,
    filter_terms: list[str] | None = None,
    eligible_extra: DataFrame | None = None,
) -> DataFrame:
    """ES bool-query semantics over BM25 (the query DSL fafnir's backend
    exposes): ``must`` terms all required and scored; ``should`` terms
    optional and scored; ``must_not`` terms exclude. With no must clause,
    at least one should term must match. ``minimum_should_match`` requires
    >= m distinct should terms per doc; ``boosts`` multiplies a term's
    score contribution (term^boost); ``filter_terms`` are required but
    NEVER scored — ES filter context. ``eligible_extra`` (doc_id rows)
    joins additional unscored eligibility in — the search_api seam for
    range/keyword filter clauses. (rank, doc_id, score)."""
    from .query import bm25_topk, doc_term_freqs

    spark = docs.sparkSession
    must, should, must_not = must or [], should or [], must_not or []
    eligible = conjunctive_match(docs, must, text_col=text_col) if must else None
    if eligible_extra is not None:
        ee = eligible_extra.select("doc_id")
        eligible = ee if eligible is None else eligible.join(ee, "doc_id")
    if filter_terms:
        fe = conjunctive_match(docs, filter_terms, text_col=text_col)
        eligible = fe if eligible is None else eligible.join(fe, "doc_id")
    if minimum_should_match and should:
        sh = spark.createDataFrame([(t,) for t in sorted(set(should))], "term string")
        sh_ok = (
            doc_term_freqs(docs.selectExpr("doc_id", f"{text_col} as __text"), "doc_id", "__text")
            .join(F.broadcast(sh), "term")
            .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
            .filter(F.col("n_sh") >= minimum_should_match)
            .select("doc_id")
        )
        eligible = sh_ok if eligible is None else eligible.join(sh_ok, "doc_id")
    excluded = None
    if must_not:
        # exclusion is per-term (any must_not term disqualifies)
        mn = spark.createDataFrame([(t,) for t in sorted(set(must_not))], "term string")
        excluded = (
            doc_term_freqs(docs.selectExpr("doc_id", f"{text_col} as __text"), "doc_id", "__text")
            .join(F.broadcast(mn), "term").select("doc_id").distinct()
        )
    # must/msm/must_not all filter BEFORE scoring; top-k is TakeOrderedAndProject
    return bm25_topk(
        docs, sorted(set(must + should)), k=k, text_col=text_col,
        eligible=eligible, excluded_docs=excluded, term_boosts=boosts,
    )


def phrase_match(docs: DataFrame, phrase: str, text_col: str = "text") -> DataFrame:
    """Doc ids containing the exact token phrase — conjunctive candidates
    then containment recheck on the padded text."""
    toks = [t for t in phrase.split(" ") if t]
    cand = conjunctive_match(docs, toks, text_col=text_col)
    padded = F.concat(F.lit(" "), F.col(text_col), F.lit(" "))
    hits = docs.join(cand, "doc_id").filter(
        padded.contains(" " + " ".join(toks) + " ")
    )
    return hits.select("doc_id").orderBy("doc_id")


def collapse_topk(
    docs: DataFrame,
    terms: list[str],
    collapse_field: str,
    k: int = 10,
    text_col: str = "text",
) -> DataFrame:
    """ES field collapsing: BM25 top-k with at most ONE result per value of
    ``collapse_field`` (result diversity). The per-group winner comes from
    a sort-free groupBy + max_by (map-side partial agg collapses each
    group per scan partition — a skewed group never funnels its matches
    through one reducer's sort), then the k winners are merged with
    orderBy().limit(k). (rank, doc_id, score, <collapse_field>)."""
    from pyspark.sql.window import Window

    from .query import bm25_scores

    scores = bm25_scores(docs, terms, text_col=text_col)
    joined = scores.join(docs.select("doc_id", collapse_field), "doc_id")
    winners = joined.groupBy(collapse_field).agg(
        F.max_by(
            F.struct(F.col("doc_id"), F.col("score")),
            F.struct(F.col("score"), (-F.col("doc_id")).alias("__nd")),
        ).alias("__w")
    ).select(
        collapse_field,
        F.col("__w.doc_id").alias("doc_id"),
        F.col("__w.score").alias("score"),
    )
    top = winners.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select("rank", "doc_id", "score", collapse_field)
        .orderBy("rank")
    )


def parse_query(q: str) -> dict:
    """ES query_string mini-grammar — the reference's user-facing search
    syntax (tests/tests.rs:208-228 sends QueryString queries):

      bare term      → should (scored, optional)
      +term          → must (required, scored)
      -term          → must_not (excludes)
      "a b c"        → exact phrase (required, eligibility only;
                       a leading + is the same as no sign)
      -"a b c"       → negated phrase (excludes matching docs)
      prefi*         → prefix (expanded against the vocabulary, scored)
      field:value    → filter context (required, never scored)
      field:[a TO b] → inclusive numeric range, filter context (a sign
                       prefix is ignored — ranges only gate eligibility)
      term^2.5       → per-term score boost (must/should terms only; the
                       boost multiplies the term's score contribution)

    Returns {must, should, must_not, phrases, neg_phrases, prefixes,
    filters, ranges, boosts} with terms lowercased the way the whitespace
    analyzer sees them; ranges are (field, lo, hi) float triples, boosts a
    {term: float} map."""
    import re as _re

    out: dict = {"must": [], "should": [], "must_not": [],
                 "phrases": [], "neg_phrases": [], "prefixes": [],
                 "filters": [], "ranges": [], "boosts": {}}
    for part in _re.findall(r'[+\-]?"[^"]*"|\S+:\[[^\]]*\]|\S+', q):
        sign = part[0] if part[0] in "+-" else ""
        body = part[1:] if sign else part
        rng = _re.match(r"^([A-Za-z_][A-Za-z0-9_]*):\[(\S+) TO (\S+)\]$", body)
        boost = None
        bst = _re.match(r"^(.+)\^([0-9]+(?:\.[0-9]+)?)$", body)
        if bst and not rng and ":" not in body and not body.startswith('"'):
            body, boost = bst.group(1), float(bst.group(2))
        if rng:
            out["ranges"].append(
                (rng.group(1), float(rng.group(2)), float(rng.group(3)))
            )
        elif body.startswith('"') and body.endswith('"') and len(body) >= 2:
            toks = [t for t in body[1:-1].split(" ") if t]
            if toks:
                out["neg_phrases" if sign == "-" else "phrases"].append(toks)
        elif body.endswith("*") and len(body) > 1:
            out["prefixes"].append(body[:-1])
        elif ":" in body[1:].replace("\\:", ""):
            # ES escaping: `\:` inside a value is a literal colon, not a
            # field separator (the reference queries
            # poi_type.name:(cuisine\:coffee_shop), mod.rs:366)
            out["filters"].append(body.replace("\\:", ":"))
        elif "\\:" in body:
            out["should" if sign == "" else
                ("must" if sign == "+" else "must_not")].append(
                body.replace("\\:", ":"))
        elif sign == "+":
            out["must"].append(body)
        elif sign == "-":
            out["must_not"].append(body)
        elif body:
            out["should"].append(body)
        if boost is not None and sign != "-" and body:
            out["boosts"][body] = boost
    return out


def search_text(docs: DataFrame, query: str, k: int = 10, text_col: str = "text") -> DataFrame:
    """Execute a query_string query (parse_query grammar) over the corpus:
    prefixes expand against the vocabulary, phrases and field filters gate
    eligibility (never scored), must/should/expansions are BM25-scored,
    must_not excludes. (rank, doc_id, score)."""
    from .query import bm25_topk

    spec = parse_query(query)
    scored = sorted(set(spec["must"] + spec["should"]))
    for p in spec["prefixes"]:
        scored = sorted(set(scored) | set(expand_prefix(docs, p, text_col)))
    if not scored:
        return docs.sparkSession.createDataFrame([], "rank int, doc_id long, score double")
    eligible = None

    def _and(base, extra):
        return extra if base is None else base.join(extra, "doc_id")

    if spec["must"]:
        eligible = _and(eligible, conjunctive_match(docs, spec["must"], text_col=text_col))
    for ph in spec["phrases"]:
        eligible = _and(eligible, phrase_match(docs, " ".join(ph), text_col=text_col))
    if spec["filters"]:
        fields = sorted({f.split(":", 1)[0] for f in spec["filters"]})
        tagged = with_field_tokens(docs, fields, text_col)
        eligible = _and(eligible, conjunctive_match(tagged, spec["filters"], text_col=text_col))
    for fld, lo, hi in spec["ranges"]:
        # inclusive numeric range, filter context: a plain pushdown-able
        # predicate on the metadata column (never touches scoring stats)
        rng = docs.filter(
            (F.col(fld) >= F.lit(lo)) & (F.col(fld) <= F.lit(hi))
        ).select("doc_id")
        eligible = _and(eligible, rng)
    excluded = None
    if spec["must_not"]:
        from .query import doc_term_freqs

        mn = docs.sparkSession.createDataFrame(
            [(t,) for t in sorted(set(spec["must_not"]))], "term string")
        excluded = (
            doc_term_freqs(docs.selectExpr("doc_id", f"{text_col} as __text"), "doc_id", "__text")
            .join(F.broadcast(mn), "term").select("doc_id").distinct()
        )
    for ph in spec["neg_phrases"]:
        pm = phrase_match(docs, " ".join(ph), text_col=text_col).select("doc_id")
        excluded = pm if excluded is None else excluded.unionByName(pm).distinct()
    return bm25_topk(docs, scored, k=k, text_col=text_col,
                     eligible=eligible, excluded_docs=excluded,
                     term_boosts=spec["boosts"] or None)


def mlt_source_terms(docs: DataFrame, doc_id: int, text_col: str = "text") -> DataFrame:
    """(term, tf, tfidf) of ONE source document — the more_like_this term
    extraction. tf comes from the single filtered row (point predicate,
    pushed to the scan); df is aggregated only over the source doc's terms
    (semi-join restriction before the groupBy)."""
    from .query import _corpus_stats, doc_term_freqs

    base = docs.select(F.col("doc_id"), F.col(text_col).alias("__text"))
    src_tf = doc_term_freqs(base.filter(F.col("doc_id") == doc_id), "doc_id", "__text")
    corpus_tf = doc_term_freqs(base, "doc_id", "__text")
    dfs = (
        corpus_tf.join(F.broadcast(src_tf.select("term")), "term", "left_semi")
        .groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    )
    return (
        src_tf.join(dfs, "term")
        .crossJoin(F.broadcast(_corpus_stats(base)))
        .withColumn("tfidf", F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6))
        .select("term", "tf", "tfidf")
    )


def more_like_this(docs: DataFrame, doc_id: int, k: int = 10, n_terms: int = 5,
                   text_col: str = "text") -> DataFrame:
    """ES more_like_this: the source doc's top-``n_terms`` TF-IDF terms
    become a disjunctive BM25 query; the source doc itself is excluded.
    Term selection shares the rank-identity contract (rounded tfidf desc,
    term asc), so the DuckDB oracle picks the identical term set.
    (rank, doc_id, score).

    Scale shape: tf comes from the ONE filtered source row (pushed-down
    point predicate), and df is aggregated only for that doc's terms (the
    corpus tf relation is semi-joined against the source vocabulary before
    the groupBy) — no per-doc windows over the whole corpus, no full-vocab
    aggregation. The one remaining corpus scan is the df count, inherent
    to corpus-stat TF-IDF on the direct path; more_like_this_indexed
    serves df from the index dictionary instead."""
    from .query import bm25_topk

    scored = mlt_source_terms(docs, doc_id, text_col)
    terms = [
        r["term"]
        for r in scored.orderBy(F.col("tfidf").desc(), F.col("term").asc())
        .limit(n_terms).collect()
    ]
    if not terms:
        return docs.sparkSession.createDataFrame([], "rank int, doc_id long, score double")
    src = docs.sparkSession.createDataFrame([(int(doc_id),)], "doc_id long")
    return bm25_topk(docs, terms, k=k, text_col=text_col, excluded_docs=src)


def more_like_this_indexed(
    spark,
    index_root: str,
    like_text: str,
    k: int = 10,
    n_terms: int = 5,
    tokenizer: str = "whitespace",
    snapshot_id: str | None = None,
) -> DataFrame:
    """ES more_like_this with like-text, served FROM the index: tf comes
    from the supplied text (analyzed with the index's tokenizer), df from a
    DICTIONARY point lookup (term-pushed parquet scan), n_docs from the
    published stats — NO corpus pass before the final scored disjunction.
    Selected terms (rounded tfidf desc, term asc — the rank-identity
    contract) feed the standard indexed BM25 path. (qid, rank, doc_id,
    score)."""
    import pandas as pd

    from .catalog import Catalog
    from .tokenizer import TOKENIZERS
    from .wand import run_queries

    cat = Catalog(index_root)
    manifest = cat.manifest_at(snapshot_id)
    stats = (manifest.get("meta") or {}).get("stats") or cat.read_json("stats")
    terms_l, tfs_l, _dl, _pos = TOKENIZERS[tokenizer](pd.Series([like_text]))[0]
    empty = "qid string, rank int, doc_id long, score double"
    if not terms_l:
        return spark.createDataFrame([], empty)
    tf_df = spark.createDataFrame(
        [(t, int(c)) for t, c in zip(terms_l, tfs_l)], "term string, tf int"
    )
    d = cat.read_dictionary(spark, snapshot=manifest).filter(
        F.col("term").isin(sorted(terms_l))
    )
    scored = tf_df.join(d, "term").withColumn(
        "tfidf",
        F.round(F.col("tf") * F.log(F.lit(float(stats["n_docs"])) / F.col("df")), 6),
    )
    sel = [
        r["term"]
        for r in scored.orderBy(F.col("tfidf").desc(), F.col("term").asc())
        .limit(n_terms).collect()
    ]
    if not sel:
        return spark.createDataFrame([], empty)
    return run_queries(spark, index_root, {"mlt": sel}, k=k, snapshot_id=snapshot_id)


def _delete_variants_py(term: str) -> list[str]:
    """term + every single-character deletion (driver-side, query terms)."""
    return sorted({term} | {term[:i] + term[i + 1:] for i in range(len(term))})


def _delete_variants_expr(col: F.Column) -> F.Column:
    """Column form of the same neighborhood (vocabulary side)."""
    def drop_at(i: F.Column) -> F.Column:
        return F.concat(col.substr(F.lit(1), i - 1),
                        col.substr(i + 1, F.length(col)))

    return F.array_union(
        F.array(col),
        F.transform(F.sequence(F.lit(1), F.length(col)), drop_at),
    )


def fuzzy_expand(vocab: DataFrame, qterms: list[str], max_edits: int = 1) -> list[str]:
    """SymSpell-style fuzzy term expansion: vocabulary terms within edit
    distance ``max_edits`` (=1) of any query term.

    Scale shape: both sides emit their single-deletion neighborhoods (a
    term of length L emits L+1 variants), candidates come from ONE
    equi-join on the variant key — never a vocab × query Levenshtein scan
    — then exact `levenshtein` verifies (the deletion join has false
    positives like ab/ba but, for distance 1, no false negatives). The
    query side is a literal handful of rows, broadcast by AQE.

    ``vocab``: DataFrame with a `term` column (corpus-derived distinct
    terms, or the index dictionary for the indexed path). Returns the
    matched terms (driver-side list — term expansion is bounded the same
    way ES bounds fuzzy rewrites)."""
    assert max_edits == 1, "deletion-neighborhood join covers max_edits=1"
    spark = vocab.sparkSession
    qv = [(v, q) for q in sorted(set(qterms)) for v in _delete_variants_py(q)]
    qdf = spark.createDataFrame(qv, "variant string, qterm string")
    cand = (
        vocab.select("term")
        .withColumn("variant", F.explode(_delete_variants_expr(F.col("term"))))
        .join(qdf, "variant")
        .select("term", "qterm")
        .distinct()
        .filter(F.levenshtein(F.col("term"), F.col("qterm")) <= max_edits)
    )
    # bounded driver-side collect (term expansion only — the same envelope
    # class as expand_prefix; ES term rewrites are coordinator-side too)
    return _collect_expansion(cand.select("term").distinct(),
                              f"fuzzy {sorted(set(qterms))!r}")


def fuzzy_bm25(docs: DataFrame, qterms: list[str], k: int = 10,
               max_edits: int = 1, text_col: str = "text") -> DataFrame:
    """ES `term~1` fuzzy query, direct path: expand each query term against
    the corpus vocabulary (deletion-neighborhood join + Levenshtein
    verify), then disjunctive BM25 over the union of matched terms — each
    expansion scored with its own idf, the scoring_boolean rewrite, same as
    prefix_bm25. (rank, doc_id, score)."""
    from .query import bm25_topk, doc_term_freqs

    vocab = doc_term_freqs(docs, text_col=text_col).select("term").distinct()
    terms = fuzzy_expand(vocab, qterms, max_edits)
    if not terms:
        return docs.sparkSession.createDataFrame([], "rank int, doc_id long, score double")
    return bm25_topk(docs, terms, k=k, text_col=text_col)


def fuzzy_bm25_indexed(spark, index_root: str, qterms: list[str], k: int = 10,
                       max_edits: int = 1, snapshot_id: str | None = None) -> DataFrame:
    """Fuzzy query served FROM the index: the expansion runs against the
    term DICTIONARY (vocabulary-sized relation, no corpus scan at query
    time), then block-max WAND scores the expanded disjunction.
    (rank, doc_id, score)."""
    from .catalog import Catalog
    from .wand import run_queries

    cat = Catalog(index_root)
    manifest = cat.manifest_at(snapshot_id)
    vocab = cat.read_dictionary(spark, snapshot=manifest).select("term")
    terms = fuzzy_expand(vocab, qterms, max_edits)
    if not terms:
        return spark.createDataFrame([], "rank int, doc_id long, score double")
    res = run_queries(spark, index_root, {"fz": terms}, k=k, snapshot_id=snapshot_id)
    return res.select("rank", "doc_id", "score")


def bm25_search_after(docs: DataFrame, terms: list[str],
                      cursor: tuple[float, int], k: int = 10,
                      text_col: str = "text") -> DataFrame:
    """Keyset pagination (ES search_after): the page of ``k`` results
    strictly after ``cursor`` = (score, doc_id) in the rank order
    (score desc, doc_id asc). Unlike offset pagination, deep pages stay
    O(k): the cursor predicate filters BEFORE the top-k selection, so the
    plan is filter → TakeOrderedAndProject, never rank-everything-and-skip.
    (rank, doc_id, score) with rank 1..k within the page."""
    from .query import _topk_ranked, bm25_scores

    cs, cd = float(cursor[0]), int(cursor[1])
    scores = bm25_scores(docs, terms, text_col=text_col)
    after = scores.filter(
        (F.col("score") < F.lit(cs))
        | ((F.col("score") == F.lit(cs)) & (F.col("doc_id") > F.lit(cd)))
    )
    return _topk_ranked(after, k)


def suggest_terms(docs: DataFrame, term: str, k: int = 5,
                  text_col: str = "text") -> DataFrame:
    """ES term-suggester ("did you mean"): vocabulary terms within edit
    distance 1 of ``term`` (SymSpell deletion join + Levenshtein verify),
    ranked by corpus document frequency — the popularity prior real
    spell-correctors use. The input term itself is excluded (ES
    suggest_mode=missing analog). (rk, term, df).

    Plan: the candidate set is bounded by the deletion-neighborhood join,
    then orderBy().limit(k) merges it (TakeOrderedAndProject) — no
    unpartitioned window over more than k rows."""
    from pyspark.sql.window import Window

    from .query import doc_term_freqs, term_dfs

    dfs = term_dfs(doc_term_freqs(docs, text_col=text_col)).select("term", "df")
    cands = [t for t in fuzzy_expand(dfs.select("term"), [term]) if t != term]
    if not cands:
        return docs.sparkSession.createDataFrame([], "rk int, term string, df long")
    top = (
        dfs.filter(F.col("term").isin(cands))
        .orderBy(F.col("df").desc(), F.col("term").asc())
        .limit(k)
    )
    w = F.row_number().over(Window.orderBy(F.col("df").desc(), F.col("term").asc()))
    return top.withColumn("rk", w).select("rk", "term", "df").orderBy("rk")


def suggest_terms_indexed(spark, index_root: str, term: str, k: int = 5,
                          snapshot_id: str | None = None) -> DataFrame:
    """Suggester served FROM the index dictionary — no corpus access at
    query time; df comes straight from the published (term, df) rows."""
    from pyspark.sql.window import Window

    from .catalog import Catalog

    cat = Catalog(index_root)
    manifest = cat.manifest_at(snapshot_id)
    d = cat.read_dictionary(spark, snapshot=manifest).select("term", "df")
    cands = [t for t in fuzzy_expand(d.select("term"), [term]) if t != term]
    if not cands:
        return spark.createDataFrame([], "rk int, term string, df long")
    top = (
        d.filter(F.col("term").isin(cands))
        .orderBy(F.col("df").desc(), F.col("term").asc())
        .limit(k)
    )
    w = F.row_number().over(Window.orderBy(F.col("df").desc(), F.col("term").asc()))
    return top.withColumn("rk", w).select("rk", "term", "df").orderBy("rk")


def terms_enum(docs: DataFrame, prefix: str, size: int = 10,
               text_col: str = "text") -> DataFrame:
    """ES terms_enum API: vocabulary terms matching a prefix, sorted
    ascending, first ``size`` (the index-metadata autocomplete — distinct
    from the suggesters, which rank by popularity/likelihood). Plan: the
    prefix filter sits BELOW the distinct's exchange (only matching
    tokens shuffle), the ordered limit is a TakeOrderedAndProject.
    (term)."""
    from .query import doc_term_freqs

    tf = doc_term_freqs(docs, "doc_id", text_col)
    return (tf.filter(F.col("term").startswith(prefix))
            .select("term").distinct()
            .orderBy(F.col("term").asc()).limit(size))


def terms_enum_indexed(spark, index_root: str, prefix: str, size: int = 10,
                       snapshot_id: str | None = None) -> DataFrame:
    """terms_enum served FROM the published dictionary — the true ES
    shape (ES walks the terms index, never the docs): no corpus access,
    one pruned scan of the (term, df, cf) table."""
    from .catalog import Catalog

    cat = Catalog(index_root)
    manifest = cat.manifest_at(snapshot_id)
    d = cat.read_dictionary(spark, snapshot=manifest)
    # the merged dictionary is unique per term already — no distinct
    return (d.filter(F.col("term").startswith(prefix)).select("term")
            .orderBy(F.col("term").asc()).limit(size))


def significant_text(docs: DataFrame, query_terms: list[str], k: int = 10,
                     text_col: str = "text") -> DataFrame:
    """ES significant_text aggregation: JLH like significant_terms, but
    with ``filter_duplicate_text`` semantics — the FOREGROUND is deduped
    by exact text (md5, keep min doc_id) before counting, so one piece of
    boilerplate repeated across matching docs can't fabricate
    significance. Background stats stay corpus-wide (duplicates and all),
    exactly as ES computes them. Plan adds ONE md5 groupBy over the
    matched slice (bounded by matches); everything else is the
    significant_terms shape. (rk, term, fg_df, bg_df, jlh)."""
    from pyspark.sql.window import Window

    from .query import doc_term_freqs, term_dfs

    qterms = sorted(set(query_terms))
    q = docs.sparkSession.createDataFrame([(t,) for t in qterms], "term string")
    base = docs.select(F.col("doc_id"), F.col(text_col).alias("__text"))
    tf = doc_term_freqs(base, "doc_id", "__text")
    matched = tf.join(F.broadcast(q), "term").select("doc_id").distinct()
    fg_docs = (
        base.join(matched, "doc_id", "left_semi")
        .groupBy(F.md5("__text").alias("__h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    fg_n = fg_docs.agg(F.count(F.lit(1)).alias("fg_n"))
    bg_n = base.agg(F.count(F.lit(1)).alias("n_docs"))
    fg_df = (
        tf.join(fg_docs, "doc_id", "left_semi")
        .groupBy("term").agg(F.count(F.lit(1)).alias("fg_df"))
    )
    bg_df = term_dfs(tf).select("term", F.col("df").alias("bg_df"))
    scored = (
        fg_df.join(bg_df, "term")
        .crossJoin(F.broadcast(fg_n))
        .crossJoin(F.broadcast(bg_n))
        .filter(~F.col("term").isin(qterms))
        .withColumn("__fg_rate", F.col("fg_df") / F.col("fg_n"))
        .withColumn("__bg_rate", F.col("bg_df") / F.col("n_docs"))
        .withColumn(
            "jlh",
            F.round(
                (F.col("__fg_rate") - F.col("__bg_rate"))
                * (F.col("__fg_rate") / F.col("__bg_rate")),
                6,
            ),
        )
    )
    top = scored.orderBy(F.col("jlh").desc(), F.col("term").asc()).limit(k)
    w = Window.orderBy(F.col("jlh").desc(), F.col("term").asc())
    return top.withColumn("rk", F.row_number().over(w)).select(
        "rk", "term", "fg_df", "bg_df", "jlh"
    ).orderBy("rk")


def significant_terms(docs: DataFrame, query_terms: list[str], k: int = 10,
                      text_col: str = "text") -> DataFrame:
    """ES significant-terms aggregation: terms overrepresented in the
    foreground (docs matching ``query_terms``, disjunctive) relative to the
    corpus background, scored with the JLH heuristic
        jlh = (fg_rate - bg_rate) * (fg_rate / bg_rate)
    where fg_rate = fg_df/fg_n and bg_rate = df/n_docs. Query terms are
    excluded from the output. (rk, term, fg_df, bg_df, jlh).

    Plan: one tf relation feeds both sides — the foreground restriction is
    a semi-join on the matched-doc set, the background df is the standard
    dictionary aggregation; scalar fg_n/n_docs ride along as broadcast
    1-row relations. Top-k via orderBy().limit(k)."""
    from pyspark.sql.window import Window

    from .query import doc_term_freqs, term_dfs

    qterms = sorted(set(query_terms))
    q = docs.sparkSession.createDataFrame([(t,) for t in qterms], "term string")
    base = docs.select(F.col("doc_id"), F.col(text_col).alias("__text"))
    tf = doc_term_freqs(base, "doc_id", "__text")
    matched = tf.join(F.broadcast(q), "term").select("doc_id").distinct()
    fg_n = matched.agg(F.count(F.lit(1)).alias("fg_n"))
    bg_n = base.agg(F.count(F.lit(1)).alias("n_docs"))
    fg_df = (
        tf.join(matched, "doc_id", "left_semi")
        .groupBy("term").agg(F.count(F.lit(1)).alias("fg_df"))
    )
    bg_df = term_dfs(tf).select("term", F.col("df").alias("bg_df"))
    scored = (
        fg_df.join(bg_df, "term")
        .crossJoin(F.broadcast(fg_n))
        .crossJoin(F.broadcast(bg_n))
        .filter(~F.col("term").isin(qterms))
        .withColumn("__fg_rate", F.col("fg_df") / F.col("fg_n"))
        .withColumn("__bg_rate", F.col("bg_df") / F.col("n_docs"))
        .withColumn(
            "jlh",
            F.round(
                (F.col("__fg_rate") - F.col("__bg_rate"))
                * (F.col("__fg_rate") / F.col("__bg_rate")),
                6,
            ),
        )
    )
    top = scored.orderBy(F.col("jlh").desc(), F.col("term").asc()).limit(k)
    w = F.row_number().over(Window.orderBy(F.col("jlh").desc(), F.col("term").asc()))
    return (
        top.withColumn("rk", w)
        .select("rk", "term", "fg_df", "bg_df", "jlh")
        .orderBy("rk")
    )


def top_hits_grouped(docs: DataFrame, terms: list[str], group_col: str,
                     per_group: int = 3, text_col: str = "text") -> DataFrame:
    """ES top_hits-inside-terms aggregation: the best ``per_group`` docs by
    BM25 within every value of ``group_col`` — the shared two-level top-k
    (topk.topk_per_group: per-partition streaming head-k, then the rank
    window over ≤ k×n_parts candidates), so a skewed group never sorts its
    whole match set through one reducer. The grouped complement of
    collapse_topk's one-per-group. (<group_col>, rk, doc_id, score)."""
    from .query import bm25_scores
    from .topk import topk_per_group

    scores = bm25_scores(docs, terms, text_col=text_col)
    joined = scores.join(docs.select("doc_id", group_col), "doc_id")
    return (
        topk_per_group(
            joined.select(group_col, "doc_id", "score"), per_group,
            group_col=group_col, id_col="doc_id", val_col="score",
        )
        .select(group_col, F.col("rank").alias("rk"), "doc_id", "score")
        .orderBy(group_col, "rk")
    )


def explain_score(docs: DataFrame, terms: list[str], doc_id: int,
                  text_col: str = "text") -> DataFrame:
    """ES _explain analog: the per-term BM25 breakdown for ONE document —
    (term, tf, df, dl, idf, tfn, part_score), part_score = idf·tfn. The
    same formula pieces as bm25_scores in the same operand order, so
    sum(part_score) over the rows equals the doc's query score. Corpus
    stats stay corpus-wide; only the final projection filters to the doc
    (Catalyst pushes the doc_id filter into the tf branch, not the stats
    branches)."""
    from .query import _bm25_parts, _corpus_stats, doc_term_freqs, term_dfs
    from .tokenizer import tokens_expr

    qterms = sorted(set(terms))
    q = docs.sparkSession.createDataFrame([(t,) for t in qterms], "term string")
    base = docs.select(F.col("doc_id"), F.col(text_col).alias("__text"))
    tf = doc_term_freqs(base, "doc_id", "__text")
    # every doc with a tf row has dl > 0, so this join needs no dl filter
    dl = base.select("doc_id", F.size(tokens_expr("__text")).cast("long").alias("dl"))
    dfs = term_dfs(tf).select("term", "df")
    idf, tfn = _bm25_parts()
    return (
        tf.filter(F.col("doc_id") == doc_id)
        .join(F.broadcast(q), "term")
        .join(F.broadcast(dfs.join(F.broadcast(q), "term")), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(_corpus_stats(base)))
        .withColumn("idf", F.round(idf, 6))
        .withColumn("tfn", F.round(tfn, 6))
        .withColumn("part_score", F.round(idf * tfn, 6))
        .select("term", "tf", "df", "dl", "idf", "tfn", "part_score")
        .orderBy("term")
    )


def term_vectors(docs: DataFrame, doc_id: int, text_col: str = "text") -> DataFrame:
    """ES _termvectors analog: every term of ONE document with its
    in-doc tf and corpus df/cf. (term, tf, df, cf), term-ordered."""
    from .query import doc_term_freqs, term_dfs

    base = docs.select(F.col("doc_id"), F.col(text_col).alias("__text"))
    tf = doc_term_freqs(base, "doc_id", "__text")
    dfs = term_dfs(tf)
    return (
        tf.filter(F.col("doc_id") == doc_id)
        .join(dfs, "term")
        .select("term", "tf", "df", "cf")
        .orderBy("term")
    )


def proximity_rescore(docs: DataFrame, terms: list[str], k: int = 10,
                      rescore_n: int = 50, text_col: str = "text") -> DataFrame:
    """ES rescore-window analog: take the BM25 top-``rescore_n``, add a
    first-occurrence proximity bonus 1/(1+|pos(t1)-pos(t2)|) when both of
    the first two query terms are present, then re-rank the window to the
    final top-k. The expensive positional computation touches only
    rescore_n docs — the ES rescorer contract. (rank, doc_id, score)."""
    from .query import _topk_ranked, bm25_topk
    from .tokenizer import tokens_expr

    assert len(terms) >= 2, "proximity rescore needs two anchor terms"
    t1, t2 = terms[0], terms[1]
    initial = bm25_topk(docs, terms, k=rescore_n, text_col=text_col)
    toks = docs.select(
        "doc_id",
        F.array_position(tokens_expr(text_col), t1).alias("__p1"),
        F.array_position(tokens_expr(text_col), t2).alias("__p2"),
    )
    bonus = F.when(
        (F.col("__p1") > 0) & (F.col("__p2") > 0),
        F.lit(1.0) / (F.lit(1.0) + F.abs(F.col("__p1") - F.col("__p2"))),
    ).otherwise(F.lit(0.0))
    rescored = (
        initial.join(toks, "doc_id")
        .withColumn("score", F.round(F.col("score") + bonus, 6))
        .select("doc_id", "score")
    )
    return _topk_ranked(rescored, k)


def match_phrase_prefix(docs: DataFrame, stem: list[str], prefix: str,
                        k: int = 10, text_col: str = "text") -> DataFrame:
    """ES match_phrase_prefix: an exact phrase whose LAST position is a
    prefix — "slow que" matches "slow query", "slow queue", ... Contract
    (documented, mirrored by the oracle): eligibility = the union over
    completions c of exact-phrase(stem + [c]); scored terms = stem +
    completions as a BM25 disjunction (the scoring_boolean rewrite, same
    as prefix_bm25). (rank, doc_id, score).

    Scale shape: completions come from the vocabulary (dictionary-sized),
    each completion's phrase check is the conjunctive-candidates +
    containment recheck of phrase_match — never a corpus regex scan."""
    from .query import bm25_topk

    completions = expand_prefix(docs, prefix, text_col)
    if not completions:
        return docs.sparkSession.createDataFrame([], "rank int, doc_id long, score double")
    eligible = None
    for c in completions:
        pm = phrase_match(docs, " ".join(stem + [c]), text_col=text_col).select("doc_id")
        eligible = pm if eligible is None else eligible.unionByName(pm)
    eligible = eligible.distinct()
    scored = sorted(set(stem) | set(completions))
    return bm25_topk(docs, scored, k=k, text_col=text_col, eligible=eligible)


def sort_by_field(docs: DataFrame, terms: list[str], sort_col: str,
                  k: int = 10, ascending: bool = False,
                  text_col: str = "text") -> DataFrame:
    """ES sort-by-field search: docs matching ANY of ``terms`` ordered by a
    metadata column instead of relevance (browse/recency queries). Ties
    break by doc_id asc. orderBy().limit(k) → TakeOrderedAndProject.
    (rank, doc_id, <sort_col>)."""
    from pyspark.sql.window import Window

    matched = docs.join(_any_match(docs, terms, text_col), "doc_id")
    key = F.col(sort_col).asc() if ascending else F.col(sort_col).desc()
    top = matched.select("doc_id", sort_col).orderBy(key, F.col("doc_id").asc()).limit(k)
    w = F.row_number().over(Window.orderBy(key, F.col("doc_id").asc()))
    return top.withColumn("rank", w).select("rank", "doc_id", sort_col).orderBy("rank")


def phrase_slop(docs: DataFrame, t1: str, t2: str, slop: int = 1,
                text_col: str = "text") -> DataFrame:
    """ES match_phrase-with-slop (simplified ordered contract, documented):
    a doc matches iff tokens t1, t2 occur IN ORDER with at most ``slop``
    tokens between them — ∃ i<j: tok[i]=t1, tok[j]=t2, j-i-1 <= slop.
    slop=0 degenerates to exact adjacency. Returns (doc_id), ordered.

    Pure higher-order expressions over the token array (positions of each
    term, one EXISTS over the pair cross) — no shuffle beyond the match
    semi-join; per-doc cost O(occ(t1)·occ(t2))."""
    from .tokenizer import tokens_expr

    cand = conjunctive_match(docs, [t1, t2], text_col=text_col)
    toks = tokens_expr(text_col)

    def body(s: F.Column) -> F.Column:
        return F.exists(s["p1"], _slop_pred(s["p2"], slop))

    hit = _span_let(
        {"p1": _positions_of(toks, _eq_pred(t1)),
         "p2": _positions_of(toks, _eq_pred(t2))},
        body,
    )
    return (
        docs.join(cand, "doc_id")
        .filter(hit)
        .select("doc_id")
        .orderBy("doc_id")
    )


def _positions_of(toks: F.Column, pred) -> F.Column:
    """1-based positions i with pred(tok[i]), built in ONE transform-with-
    index pass over the token array. Never F.filter(F.sequence(1, size),
    get(toks, i-1)-pred): that re-evaluates the tokenization expression per
    index (CollapseProject inlines it into every element access) — measured
    quadratic-per-doc on the span family."""
    def tag(t: F.Column, i: F.Column) -> F.Column:
        return F.when(pred(t), i + F.lit(1)).otherwise(F.lit(-1))

    def kept(p: F.Column) -> F.Column:
        return p > 0

    return F.filter(F.transform(toks, tag), kept)


def _eq_pred(term: str):
    def pred(t: F.Column) -> F.Column:
        return t == F.lit(term)

    return pred


def _span_let(bound: dict[str, F.Column], body) -> F.Column:
    """Bind several heavy per-row arrays ONCE (the winnow lambda-let,
    struct form): each value in ``bound`` is evaluated exactly once per
    row and ``body`` receives the struct lambda variable. Without this,
    a position array referenced inside a nested F.exists is re-built per
    outer element (the 25x winnow lesson, cubic on span_multi_prefix)."""
    def f(s: F.Column) -> F.Column:
        return body(s)

    return F.element_at(
        F.transform(F.array(F.struct(*[c.alias(k) for k, c in bound.items()])), f),
        1,
    )


def _slop_pred(p2: F.Column, slop: int):
    def pred(i: F.Column) -> F.Column:
        def inner(j: F.Column) -> F.Column:
            return (j > i) & (j - i - 1 <= F.lit(slop))

        return F.exists(p2, inner)

    return pred


def complete_prefix(docs: DataFrame, prefix: str, k: int = 5,
                    text_col: str = "text") -> DataFrame:
    """ES completion suggester (autocomplete): vocabulary terms starting
    with ``prefix``, ranked by document frequency (popularity), term asc
    tie-break. (rk, term, df)."""
    from pyspark.sql.window import Window

    from .query import doc_term_freqs, term_dfs

    dfs = term_dfs(doc_term_freqs(docs, text_col=text_col)).select("term", "df")
    top = (
        dfs.filter(F.col("term").startswith(prefix))
        .orderBy(F.col("df").desc(), F.col("term").asc())
        .limit(k)
    )
    w = F.row_number().over(Window.orderBy(F.col("df").desc(), F.col("term").asc()))
    return top.withColumn("rk", w).select("rk", "term", "df").orderBy("rk")


def suggest_context(docs: DataFrame, prefix: str, contexts: dict[str, float],
                    context_col: str = "lang", k: int = 5,
                    text_col: str = "text") -> DataFrame:
    """ES context suggester (completion with category contexts): only
    suggestions from docs carrying one of the query contexts are eligible;
    each context contributes score = doc-frequency-within-context × its
    boost, and a suggestion seen under several contexts keeps its MAX
    score (the ES dedup rule). Boosts should be dyadic so the products
    stay exact cross-engine.

    Scale shape: ONE filtered pass — the context-isin filter and the
    prefix test both run below the (term, context) df groupBy (distinct
    doc-term pairs, map-side combine); boosts apply as a CASE over
    ≤|contexts| literals; the max-dedup groups ≤|contexts| rows per term
    and the finish is TakeOrderedAndProject. (rk, term, score)."""
    from pyspark.sql.window import Window

    from .tokenizer import tokens_expr

    ctxs = sorted(contexts)
    boost = None
    for c in ctxs:
        b = F.lit(float(contexts[c]))
        boost = (F.when(F.col("ctx") == c, b) if boost is None
                 else boost.when(F.col("ctx") == c, b))
    dt = (
        docs.filter(F.col(context_col).isin(ctxs))
        .select(
            "doc_id", F.col(context_col).alias("ctx"),
            F.explode(tokens_expr(text_col)).alias("term"))
        .filter(F.col("term").startswith(prefix))
        .distinct()
    )
    dfc = dt.groupBy("term", "ctx").agg(F.count(F.lit(1)).alias("dfc"))
    sc = dfc.groupBy("term").agg(F.max(F.col("dfc") * boost).alias("score"))
    top = sc.orderBy(F.col("score").desc(), F.col("term").asc()).limit(k)
    w = F.row_number().over(Window.orderBy(F.col("score").desc(), F.col("term").asc()))
    return top.withColumn("rk", w).select("rk", "term", "score").orderBy("rk")


def complete_fuzzy(docs: DataFrame, prefix: str, k: int = 5,
                   fuzziness: int = 1, text_col: str = "text") -> DataFrame:
    """ES completion suggester with ``fuzzy``: completions whose OWN
    prefix (first len(prefix) chars) is within ``fuzziness`` edits of the
    typed prefix — 'mrge' still completes to 'merge'. Exact-prefix
    matches rank first (the ES fuzzy-suggester tie rule), then df desc,
    term asc.

    Scale shape: the edit-distance test is ROW-LOCAL on the vocabulary
    relation (|V| rows — already aggregated with map-side combine), never
    on the corpus; no deletion-variant expansion needed at |V| scale
    because levenshtein against one literal is O(len) per term. Finish is
    TakeOrderedAndProject. (rk, term, df, exact)."""
    from pyspark.sql.window import Window

    from .query import doc_term_freqs, term_dfs

    plen = len(prefix)
    dfs = term_dfs(doc_term_freqs(docs, text_col=text_col)).select("term", "df")
    tpre = F.substring(F.col("term"), 1, plen)
    cand = (
        dfs.withColumn("__d", F.levenshtein(tpre, F.lit(prefix)))
        .filter(F.col("__d") <= fuzziness)
        .withColumn("exact", (F.col("__d") == 0))
    )
    order = [F.col("exact").desc(), F.col("df").desc(), F.col("term").asc()]
    top = cand.orderBy(*order).limit(k)
    w = F.row_number().over(Window.orderBy(*order))
    return top.withColumn("rk", w).select("rk", "term", "df", "exact").orderBy("rk")


def _wildcard_to_like(pattern: str) -> str:
    """Glob → SQL LIKE: * → %, ? → _ (identical semantics in Spark's
    Column.like and DuckDB LIKE). Vocabulary terms are analyzer tokens
    (no % or _), so no escaping is needed — asserted here."""
    assert "%" not in pattern and "_" not in pattern, \
        "raw %/_ in wildcard patterns is not supported"
    return pattern.replace("*", "%").replace("?", "_")


def expand_wildcard(docs: DataFrame, pattern: str,
                    text_col: str = "text",
                    max_expansions: int | None = None) -> list[str]:
    """Vocabulary terms matching an ES wildcard pattern (* = any run,
    ? = one char). Bounded by ``max_expansions`` (raises on overflow),
    same envelope as expand_prefix."""
    from .query import doc_term_freqs

    like = _wildcard_to_like(pattern)
    tf = doc_term_freqs(docs, "doc_id", text_col)
    return _collect_expansion(
        tf.select("term").distinct().filter(F.col("term").like(like)),
        f"wildcard {pattern!r}", max_expansions,
    )


def wildcard_bm25(docs: DataFrame, pattern: str, k: int = 10,
                  text_col: str = "text") -> DataFrame:
    """ES wildcard query: pattern-matching vocabulary terms scored as a
    BM25 disjunction (scoring_boolean rewrite — each expansion keeps its
    own idf, same as prefix_bm25). (rank, doc_id, score)."""
    from .query import bm25_topk

    terms = expand_wildcard(docs, pattern, text_col)
    if not terms:
        return docs.sparkSession.createDataFrame([], "rank int, doc_id long, score double")
    return bm25_topk(docs, terms, k=k, text_col=text_col)


def expand_regexp(docs: DataFrame, pattern: str,
                  text_col: str = "text",
                  max_expansions: int | None = None) -> list[str]:
    """Vocabulary terms fully matching an ES regexp-query pattern (ES
    regexp is anchored: the WHOLE term must match). Vocabulary-sized scan,
    same envelope as expand_prefix/expand_wildcard. Keep patterns to the
    RE2-compatible subset (classes, alternation, quantifiers) so Spark's
    Java regex and DuckDB's regexp_full_match agree."""
    from .query import doc_term_freqs

    tf = doc_term_freqs(docs, "doc_id", text_col)
    return _collect_expansion(
        tf.select("term").distinct().filter(F.col("term").rlike(f"^(?:{pattern})$")),
        f"regexp {pattern!r}", max_expansions,
    )


def regexp_bm25(docs: DataFrame, pattern: str, k: int = 10,
                text_col: str = "text") -> DataFrame:
    """ES regexp query: vocabulary terms fully matching the pattern, scored
    as a BM25 disjunction (scoring_boolean rewrite, each expansion keeps
    its own idf — same as wildcard_bm25). (rank, doc_id, score)."""
    from .query import bm25_topk

    terms = expand_regexp(docs, pattern, text_col)
    if not terms:
        return docs.sparkSession.createDataFrame([], "rank int, doc_id long, score double")
    return bm25_topk(docs, terms, k=k, text_col=text_col)


def percolate(docs: DataFrame, queries: dict[str, dict],
              text_col: str = "text") -> DataFrame:
    """ES percolator (reverse search): match every document against a set
    of STORED queries — the alerting/routing primitive (saved searches fire
    on incoming docs). ``queries``: qid → {"must": [...], "should": [...],
    "must_not": [...]} (same bool dialect as bool_bm25, unscored).

    A doc matches a query iff it contains ALL must terms, ≥1 should term
    (when any are given), and NO must_not term. Returns (doc_id, qid),
    ordered.

    Scale shape: ONE pass over the doc tf relation joined against the
    broadcast (qid, term, clause) relation, then a per-(doc, qid) coverage
    aggregation — never doc × query evaluation loops; cost is
    O(matching postings), the inverted-percolation shape ES uses."""
    from .query import doc_term_freqs

    spark = docs.sparkSession
    rows = []
    n_must: dict[str, int] = {}
    for qid, spec in queries.items():
        must = sorted(set(spec.get("must") or []))
        should = sorted(set(spec.get("should") or []))
        must_not = sorted(set(spec.get("must_not") or []))
        n_must[qid] = len(must)
        rows += [(qid, t, "m") for t in must]
        rows += [(qid, t, "s") for t in should]
        rows += [(qid, t, "n") for t in must_not]
    q = spark.createDataFrame(rows, "qid string, term string, clause string")
    nm = spark.createDataFrame(
        [(qid, n, int(bool(queries[qid].get("should")))) for qid, n in n_must.items()],
        "qid string, n_must int, has_should int",
    )
    tf = doc_term_freqs(docs.selectExpr("doc_id", f"{text_col} as __text"),
                        "doc_id", "__text")
    hits = tf.join(F.broadcast(q), "term")
    cov = hits.groupBy("doc_id", "qid").agg(
        F.count_distinct(F.when(F.col("clause") == "m", F.col("term"))).alias("__m"),
        F.count_distinct(F.when(F.col("clause") == "s", F.col("term"))).alias("__s"),
        F.count_distinct(F.when(F.col("clause") == "n", F.col("term"))).alias("__n"),
    )
    return (
        cov.join(F.broadcast(nm), "qid")
        .filter(
            (F.col("__m") == F.col("n_must"))
            & ((F.col("has_should") == 0) | (F.col("__s") > 0))
            & (F.col("__n") == 0)
        )
        .select("doc_id", "qid")
        .orderBy("doc_id", "qid")
    )


def percolate_range(docs: DataFrame, queries: dict[str, dict],
                    range_col: str = "n_chars",
                    text_col: str = "text") -> DataFrame:
    """Percolator with NUMERIC RANGE clauses (ES percolator queries mix
    term and range conditions — "alert me on docs containing 'error'
    under 500 chars"): the term/bool half is `percolate`'s inverted
    coverage pass; each query may add ``"range": (lo, hi)`` (inclusive)
    on ``range_col``, applied as ONE broadcast (qid, lo, hi) join over
    the ALREADY term-matched (doc, qid) pairs — the range gate touches
    matches, never the doc × query cross product. Queries without a
    range pass unconditionally (left join, coalesced bounds).
    (doc_id, qid), ordered."""
    term_specs = {qid: {kk: vv for kk, vv in spec.items() if kk != "range"}
                  for qid, spec in queries.items()}
    matched = percolate(docs, term_specs, text_col=text_col)
    spark = docs.sparkSession
    rr = [(qid, float(spec["range"][0]), float(spec["range"][1]))
          for qid, spec in queries.items() if spec.get("range")]
    if not rr:
        return matched
    bounds = spark.createDataFrame(rr, "qid string, lo double, hi double")
    vals = docs.select("doc_id", F.col(range_col).cast("double").alias("__v"))
    return (
        matched.join(vals, "doc_id")
        .join(F.broadcast(bounds), "qid", "left")
        .filter(F.col("lo").isNull()
                | ((F.col("__v") >= F.col("lo")) & (F.col("__v") <= F.col("hi"))))
        .select("doc_id", "qid")
        .orderBy("doc_id", "qid")
    )


def rank_eval(docs: DataFrame, queries: dict[str, list[str]], k: int = 10,
              text_col: str = "text") -> DataFrame:
    """ES _rank_eval analog: precision@k, MRR and NDCG@k for each query
    against DETERMINISTIC judgments — a doc is relevant to a query iff it
    contains ALL the query's terms (the conjunctive-match relevance proxy;
    real deployments join human judgments instead — same plan, different
    judgment relation).

    (qid, n_rel, precision_k, mrr, ndcg_k) with floats rounded to 6.
    Ideal DCG uses min(n_rel, k) unit gains; log2 discounts are written as
    ln(1+rank)/ln(2) in BOTH engines (operand-order parity). A query with
    ZERO relevant docs has no defined metrics and is omitted from the
    output (inner join against the judgment counts — same in the oracle).

    Judgments are built in ONE corpus pass for the whole query set — the
    percolate shape (broadcast (qid, term) relation ⋈ tf, then a
    per-(doc, qid) coverage == n_terms gate), never one conjunctive_match
    scan per query."""
    from .query import bm25_topk_batch, doc_term_freqs

    spark = docs.sparkSession
    ranked = bm25_topk_batch(docs, queries, k=k, text_col=text_col)
    qrows = [(qid, t) for qid, ts in sorted(queries.items()) for t in sorted(set(ts))]
    q = spark.createDataFrame(qrows, "qid string, term string")
    nt = spark.createDataFrame(
        [(qid, len(set(ts))) for qid, ts in sorted(queries.items())],
        "qid string, n_terms int",
    )
    tf = doc_term_freqs(docs, "doc_id", text_col)
    rel = (
        tf.join(F.broadcast(q), "term")
        .groupBy("qid", "doc_id")
        .agg(F.count(F.lit(1)).alias("__cov"))
        .join(F.broadcast(nt), "qid")
        .filter(F.col("__cov") == F.col("n_terms"))
        .select("qid", "doc_id")
    )
    n_rel = rel.groupBy("qid").agg(F.count(F.lit(1)).alias("n_rel"))
    hits = ranked.join(rel.withColumn("__rel", F.lit(1)), ["qid", "doc_id"], "left")
    per_rank = hits.select(
        "qid", "rank", F.coalesce(F.col("__rel"), F.lit(0)).alias("rel")
    )
    ln2 = float(__import__("math").log(2.0))
    agg = per_rank.groupBy("qid").agg(
        (F.sum("rel") / F.lit(float(k))).alias("__p"),
        F.max(
            F.when(F.col("rel") == 1, F.lit(1.0) / F.col("rank")).otherwise(F.lit(0.0))
        ).alias("__mrr"),
        F.sum(
            F.col("rel") / (F.log(F.lit(1.0) + F.col("rank")) / F.lit(ln2))
        ).alias("__dcg"),
    )
    idcg = n_rel.select(
        "qid", "n_rel",
        F.expr(
            f"aggregate(sequence(1, least(n_rel, {k})), cast(0.0 as double), "
            f"(acc, r) -> acc + 1.0 / (ln(1.0 + r) / {ln2}))"
        ).alias("__idcg"),
    )
    return (
        agg.join(idcg, "qid")
        .select(
            "qid",
            "n_rel",
            F.round("__p", 6).alias("precision_k"),
            F.round("__mrr", 6).alias("mrr"),
            F.round(F.col("__dcg") / F.col("__idcg"), 6).alias("ndcg_k"),
        )
        .orderBy("qid")
    )


def multi_match_bm25(
    docs: DataFrame,
    terms: list[str],
    fields: dict[str, float],
    k: int = 10,
    mode: str = "best_fields",
    tie_breaker: float = 0.0,
    id_col: str = "doc_id",
) -> DataFrame:
    """ES multi_match: score ``terms`` against several text fields, each
    analyzed independently (its own tf/df/dl/avgdl — exactly ES's
    per-field inverted index), field boost multiplying the field score,
    combined per mode:

      best_fields (dis_max): max_f + tie_breaker · (Σ_f − max_f)
      most_fields:           Σ_f

    Scale shape: one corpus pass per field (inherent — the statistics are
    per-field), each branch the standard broadcast-query BM25; the fusion
    is a groupBy over scored docs only; the single-query top-k compiles to
    TakeOrderedAndProject. (rank, doc_id, score)."""
    from .query import _topk_ranked, bm25_scores

    if mode not in ("best_fields", "most_fields"):
        raise ValueError(f"unknown multi_match mode {mode!r}")
    u = None
    for fld in sorted(fields):
        s = bm25_scores(
            docs.select(F.col(id_col).alias("doc_id"), F.col(fld).alias("__t")),
            terms, text_col="__t",
        ).select("doc_id", (F.col("score") * F.lit(float(fields[fld]))).alias("s"))
        u = s if u is None else u.unionByName(s)
    agg = u.groupBy("doc_id").agg(F.sum("s").alias("ssum"), F.max("s").alias("smax"))
    raw = (
        F.col("smax") + F.lit(float(tie_breaker)) * (F.col("ssum") - F.col("smax"))
        if mode == "best_fields" else F.col("ssum")
    )
    return _topk_ranked(agg.select("doc_id", F.round(raw, 6).alias("score")), k)


def multi_match_cross_fields(
    docs: DataFrame,
    terms: list[str],
    fields: dict[str, float],
    k: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """ES multi_match type=cross_fields (term-centric): all fields are
    treated as ONE combined field with blended statistics — weighted tf
    (Σ_f w_f·tf_f), weighted dl, df over the union, corpus-wide avgdl of
    the combined length — then standard BM25. This is the mode for
    entity lookups split across fields ("first_name last_name"), where
    per-field scoring (best/most_fields) misses docs holding the terms in
    different fields.

    Scale shape: ONE corpus pass — per-field token arrays are concatenated
    row-local (each token tagged with its field weight), the term-isin
    filter runs below the tf groupBy, dl rides row-local, df is a
    <=|qterms|-row per-term groupBy broadcast back onto the matches (the
    query._tf_dl_df shape generalized to weighted multi-field — never a
    per-term count window, which single-reducers hot terms). Weights
    should be dyadic (1.0, 2.0, 2.5…)
    so the weighted sums stay exact across engines."""
    from .query import SCORE_DECIMALS, _bm25_parts, _corpus_stats, _term_stats, _topk_ranked
    from .tokenizer import tokens_expr

    qterms = sorted(set(terms))
    names = sorted(fields)

    def tagged(fld: str, w: float):
        def tag(t):
            return F.struct(t.alias("term"), F.lit(w).alias("w"))
        return F.transform(tokens_expr(fld), tag)

    dl_expr = None
    arrays = []
    for fld in names:
        w = float(fields[fld])
        contrib = F.lit(w) * F.size(tokens_expr(fld)).cast("double")
        dl_expr = contrib if dl_expr is None else dl_expr + contrib
        arrays.append(tagged(fld, w))
    combined = F.concat(*arrays) if len(arrays) > 1 else arrays[0]
    base = docs.select(
        F.col(id_col).alias("doc_id"), dl_expr.alias("__dl"), combined.alias("__toks")
    )
    toks = (
        base.select("doc_id", "__dl", F.explode("__toks").alias("tk"))
        .select("doc_id", "__dl", F.col("tk.term").alias("term"), F.col("tk.w").alias("w"))
        .filter(F.col("term").isin(qterms))
    )
    tf = toks.groupBy("doc_id", "term").agg(
        F.sum("w").alias("tf"), F.min("__dl").alias("dl")
    )
    # pinned df: both branches share one Exchange (scan runs once)
    matched = (
        tf.join(F.broadcast(_term_stats(tf)), "term")
        .crossJoin(F.broadcast(_corpus_stats(base, F.col("__dl"))))
    )
    idf, tfn = _bm25_parts()
    scores = (
        matched.withColumn("part_score", idf * tfn)
        .groupBy("doc_id")
        .agg(F.round(F.sum("part_score"), SCORE_DECIMALS).alias("score"))
    )
    return _topk_ranked(scores, k)


def analyzed_text_col(stopwords: list[str], text_col: str = "text") -> F.Column:
    """ES custom analyzer (stop filter): the token stream minus stopwords,
    re-joined — BM25 over it uses the analyzed dl/df/avgdl, exactly as an
    ES index with a stop analyzer would. Row-local expression; the DuckDB
    twin is array_to_string(list_filter(string_split(...), NOT IN), ' ')."""
    from .tokenizer import tokens_expr

    stops = sorted(set(stopwords))

    def keep(t):
        return ~t.isin(stops)

    return F.array_join(F.filter(tokens_expr(text_col), keep), " ")


def stop_analyzer_bm25(docs: DataFrame, terms: list[str], stopwords: list[str],
                       k: int = 10, text_col: str = "text") -> DataFrame:
    """BM25 over the stop-analyzed field: dl shrinks, stopword df vanishes,
    avgdl/idf shift — a genuinely different (and better) ranking than
    post-hoc filtering query terms. (rank, doc_id, score)."""
    from .query import bm25_topk

    analyzed = docs.withColumn("__an", analyzed_text_col(stopwords, text_col))
    return bm25_topk(analyzed, terms, k=k, text_col="__an")


# Light English suffix stripper (ES `light_english` analyzer flavour; the
# ES word-analyzer trick the reference leans on for POI name matching,
# /root/reference src/sources/openmaptiles/pois.rs:253-266). Rules are
# evaluated IN ORDER, first match wins; a rule fires only when the stem
# keeps >= min_stem chars and the token matches no excluded ending.
# This list is the single source of truth — the Spark expression
# (stem_token_col), the Python query-term stemmer (stem_py), and the
# DuckDB oracle (oracles.stemmed_expr) are ALL templated from it; never
# hand-copy a rule into SQL.
# (suffix, replacement, min_stem_chars, excluded_endings)
STEM_RULES: list[tuple[str, str, int, tuple[str, ...]]] = [
    ("sses", "ss", 2, ()),
    ("ies", "y", 2, ()),
    ("ing", "", 3, ()),
    ("ed", "", 3, ()),
    ("s", "", 3, ("ss", "us", "is")),
]


def stem_py(t: str) -> str:
    """Driver-side twin of stem_token_col — used to stem QUERY terms (ES
    analyzes the query with the index analyzer)."""
    for suffix, repl, min_stem, excl in STEM_RULES:
        if (t.endswith(suffix) and len(t) - len(suffix) >= min_stem
                and not any(t.endswith(e) for e in excl)):
            return t[: len(t) - len(suffix)] + repl
    return t


def stem_token_col(t: F.Column) -> F.Column:
    """One token → its light stem, as a pure Spark expression (anchored
    regexp_replace per rule; built outermost-first so rule order wins)."""
    out = t
    for suffix, repl, min_stem, excl in reversed(STEM_RULES):
        cond = t.rlike(suffix + "$") & (F.length(t) >= len(suffix) + min_stem)
        for e in excl:
            cond = cond & ~t.rlike(e + "$")
        out = F.when(cond, F.regexp_replace(t, suffix + "$", repl)).otherwise(out)
    return out


def stemmed_text_col(text_col: str = "text",
                     stopwords: tuple[str, ...] = ()) -> F.Column:
    """The stemmed (optionally stop-filtered) token stream re-joined —
    the analyzer-chain form of analyzed_text_col: char stream → tokens →
    stop filter → stemmer. Row-local expressions throughout."""
    from .tokenizer import tokens_expr

    toks = tokens_expr(text_col)
    if stopwords:
        stops = sorted(set(stopwords))

        def keep(t):
            return ~t.isin(stops)

        toks = F.filter(toks, keep)
    return F.array_join(F.transform(toks, stem_token_col), " ")


def stemmed_bm25(docs: DataFrame, terms: list[str], k: int = 10,
                 text_col: str = "text",
                 stopwords: tuple[str, ...] = ()) -> DataFrame:
    """BM25 over the stemmed field, query terms stemmed with the same
    analyzer (ES `english`-analyzer default behaviour): "merges" matches
    docs saying "merge", and corpus-side dl/df/avgdl are the analyzed
    statistics. (rank, doc_id, score)."""
    from .query import bm25_topk

    analyzed = docs.withColumn("__an", stemmed_text_col(text_col, stopwords))
    return bm25_topk(analyzed, sorted({stem_py(t) for t in terms}),
                     k=k, text_col="__an")


# html_strip char filter (ES analyzer chain stage 1). Noise constants are
# templated into BOTH engines (oracles.htmlified_expr) — never hand-copied.
# Double-quoted HTML attributes keep the SQL template single-quote-safe.
HTML_NOISE = {
    "every": 3,
    "pre": '<p class="x">',
    "mid": ' <a href="http://e.com/a?q=1">anchor</a>',
    "post": "</p>",
}


def htmlify_docs(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Deterministically wrap every HTML_NOISE['every']-th doc in markup
    (the webify_docs precedent — the fixture corpus carries no HTML, so
    the char-filter driver query derives its own, identically in both
    engines)."""
    n = HTML_NOISE
    t = F.when(
        F.pmod(F.col(id_col), F.lit(n["every"])) == 0,
        F.concat(F.lit(n["pre"]), F.col(text_col), F.lit(n["mid"]), F.lit(n["post"])),
    ).otherwise(F.col(text_col))
    return docs.select(F.col(id_col).alias("doc_id"), t.alias("text"))


def html_strip_col(text_col: str = "text") -> F.Column:
    """ES html_strip char filter: tags → single spaces (the tokenizer's
    empty-token drop absorbs the runs). Row-local expression."""
    return F.regexp_replace(F.col(text_col), "<[^>]*>", " ")


def html_strip_bm25(docs: DataFrame, terms: list[str], k: int = 10,
                    text_col: str = "text") -> DataFrame:
    """BM25 over the html-stripped field — char filter ahead of the
    tokenizer, so markup never becomes terms and dl/df/avgdl are the
    stripped statistics. (rank, doc_id, score)."""
    from .query import bm25_topk

    stripped = docs.withColumn("__an", html_strip_col(text_col))
    return bm25_topk(stripped, terms, k=k, text_col="__an")


def span_first(docs: DataFrame, term: str, end: int,
               text_col: str = "text") -> DataFrame:
    """ES span_first query: the term's FIRST occurrence must fall within
    the leading ``end`` token positions (title-ish boosting primitive).
    Row-local array_position — zero shuffle. (doc_id, first_pos 1-based),
    ordered by doc_id."""
    from .tokenizer import tokens_expr

    pos = F.array_position(tokens_expr(text_col), term)
    return (
        docs.select("doc_id", pos.cast("long").alias("first_pos"))
        .filter((F.col("first_pos") >= 1) & (F.col("first_pos") <= end))
        .orderBy("doc_id")
    )


def phrase_suggest(docs: DataFrame, t1: str, t2: str, k: int = 3,
                   text_col: str = "text") -> DataFrame:
    """ES phrase suggester ("did you mean", 2-term contract like
    phrase_slop): per-slot candidates are vocabulary terms within edit
    distance 1 of the input (including itself), candidate phrases ranked
    by the unigram-LM log-likelihood Σ ln(cf/total) — the whole-phrase
    correction ES builds from term suggesters + an LM rerank.

    Scale shape: the candidate relations are (vocab ⋈ 2 broadcast query
    terms) — vocabulary-sized, never corpus-sized; the phrase space is the
    bounded candidate cross product; top-k is the orderBy().limit(k)
    contract. (rank, phrase, score)."""
    from pyspark.sql.window import Window

    from .query import doc_term_freqs

    tf = doc_term_freqs(docs, "doc_id", text_col)
    cf = tf.groupBy("term").agg(F.sum("tf").alias("cf"))
    total = cf.agg(F.sum("cf").alias("total"))
    c1 = (
        cf.filter(F.levenshtein(F.col("term"), F.lit(t1)) <= 1)
        .select(F.col("term").alias("w1"), F.col("cf").alias("cf1"))
    )
    c2 = (
        cf.filter(F.levenshtein(F.col("term"), F.lit(t2)) <= 1)
        .select(F.col("term").alias("w2"), F.col("cf").alias("cf2"))
    )
    scored = (
        c1.crossJoin(c2)
        .crossJoin(F.broadcast(total))
        .select(
            F.concat_ws(" ", F.col("w1"), F.col("w2")).alias("phrase"),
            F.round(
                F.log(F.col("cf1") / F.col("total"))
                + F.log(F.col("cf2") / F.col("total")),
                6,
            ).alias("score"),
        )
    )
    top = scored.orderBy(F.col("score").desc(), F.col("phrase").asc()).limit(k)
    w = F.row_number().over(Window.orderBy(F.col("score").desc(), F.col("phrase").asc()))
    return top.withColumn("rank", w).select("rank", "phrase", "score").orderBy("rank")


SYNONYMS = {
    # shared constant table — templated into BOTH engines (the
    # LANG_MARKERS convention); the analyzer-level synonym sets ES ships
    # as synonym_graph filters, in the test corpus's vocabulary
    "fast": ["spark"],
    "slow": ["batch"],
    "merge": ["join"],
}


def synonym_bm25(docs: DataFrame, terms: list[str], k: int = 10,
                 synonyms: dict[str, list[str]] | None = None,
                 text_col: str = "text") -> DataFrame:
    """ES synonym-expanded search (synonym_graph at query time): every
    query term is expanded with its synonym set and the union scored as a
    BM25 disjunction — each expansion keeps its own idf (the
    scoring_boolean rewrite, same contract as wildcard/prefix/fuzzy).
    Expansion is a driver-side constant-table lookup; the plan is exactly
    one standard BM25. (rank, doc_id, score)."""
    from .query import bm25_topk

    syn = SYNONYMS if synonyms is None else synonyms
    expanded = sorted({t for q in terms for t in [q, *syn.get(q, [])]})
    return bm25_topk(docs, expanded, k=k, text_col=text_col)


def expand_synonyms(terms: list[str],
                    synonyms: dict[str, list[str]] | None = None) -> list[str]:
    syn = SYNONYMS if synonyms is None else synonyms
    return sorted({t for q in terms for t in [q, *syn.get(q, [])]})


def span_near_unordered(docs: DataFrame, t1: str, t2: str, slop: int = 2,
                        text_col: str = "text") -> DataFrame:
    """ES span_near with in_order=false: a doc matches iff t1 and t2 both
    occur within ``slop`` intervening tokens in EITHER order —
    ∃ i∈pos(t1), j∈pos(t2): |j-i| - 1 <= slop. The unordered dual of
    phrase_slop (same candidate semi-join, same higher-order position
    machinery; per-doc cost O(occ(t1)·occ(t2))). Returns (doc_id)."""
    from .tokenizer import tokens_expr

    cand = conjunctive_match(docs, [t1, t2], text_col=text_col)
    toks = tokens_expr(text_col)

    def body(s: F.Column) -> F.Column:
        return F.exists(s["p1"], _near_pred(s["p2"], slop))

    hit = _span_let(
        {"p1": _positions_of(toks, _eq_pred(t1)),
         "p2": _positions_of(toks, _eq_pred(t2))},
        body,
    )
    return (
        docs.join(cand, "doc_id")
        .filter(hit)
        .select("doc_id")
        .orderBy("doc_id")
    )


def _near_pred(p2: F.Column, slop: int):
    def pred(i: F.Column) -> F.Column:
        def inner(j: F.Column) -> F.Column:
            return F.abs(j - i) - 1 <= F.lit(slop)

        return F.exists(p2, inner)

    return pred


def _not_near_pred(p2: F.Column, slop: int):
    """i → no j ∈ p2 with |j-i|-1 <= slop (the span_not exclusion)."""
    def pred(i: F.Column) -> F.Column:
        def inner(j: F.Column) -> F.Column:
            return F.abs(j - i) - 1 <= F.lit(slop)

        return ~F.exists(p2, inner)

    return pred


def span_not(docs: DataFrame, include: str, exclude: str, slop: int = 0,
             text_col: str = "text") -> DataFrame:
    """ES span_not query: docs where ``include`` occurs at some position
    with NO ``exclude`` occurrence within ``slop`` intervening tokens of
    it (pre/post symmetric) — "match A except when near B". The negated
    dual of span_near_unordered: same candidate semi-join (must contain
    the include term — exclude-only docs never scan positions), same
    higher-order position machinery, per-doc cost O(occ(A)·occ(B)),
    zero extra shuffles. Returns (doc_id), ordered."""
    from .tokenizer import tokens_expr

    cand = conjunctive_match(docs, [include], text_col=text_col)
    toks = tokens_expr(text_col)

    def body(s: F.Column) -> F.Column:
        return F.exists(s["p1"], _not_near_pred(s["p2"], slop))

    hit = _span_let(
        {"p1": _positions_of(toks, _eq_pred(include)),
         "p2": _positions_of(toks, _eq_pred(exclude))},
        body,
    )
    return (
        docs.join(cand, "doc_id")
        .filter(hit)
        .select("doc_id")
        .orderBy("doc_id")
    )


def span_or_near(docs: DataFrame, alts: list[str], then: str, slop: int = 0,
                 text_col: str = "text") -> DataFrame:
    """ES span_near(in_order=true) whose first clause is a span_or over
    ``alts`` — the composed-span form ES users write as
    span_near(clauses=[span_or(a1,a2,...), term], slop, in_order):
    ∃ i ∈ ∪_a pos(a), j ∈ pos(then): j > i AND j - i - 1 <= slop.

    Scale shape: the candidate gate is ONE filtered tf pass keeping only
    docs that contain ``then`` AND at least one alternative (the
    conjunctive_match shape generalized to must + any-of — the explode is
    term-isin-filtered before the groupBy), so position arrays are built
    for candidates only; the or-positions are a row-local concat of the
    per-alternative position arrays (span_or = position-set union), and
    the near test is the shared ordered _slop_pred. Per-doc cost
    O(Σ occ(alt) · occ(then)) on candidates, zero extra shuffles.
    Returns (doc_id), ordered."""
    from .tokenizer import tokens_expr

    alts_s = sorted(set(alts))
    all_terms = sorted({*alts_s, then})
    cand = (
        docs.select("doc_id", F.explode(tokens_expr(text_col)).alias("term"))
        .filter(F.col("term").isin(all_terms))
        .groupBy("doc_id")
        .agg(
            F.max((F.col("term") == F.lit(then)).cast("int")).alias("__has_then"),
            F.max(F.col("term").isin(alts_s).cast("int")).alias("__has_alt"),
        )
        .filter((F.col("__has_then") == 1) & (F.col("__has_alt") == 1))
        .select("doc_id")
    )
    toks = tokens_expr(text_col)

    def is_alt(t: F.Column) -> F.Column:
        return t.isin(alts_s)

    def body(s: F.Column) -> F.Column:
        return F.exists(s["por"], _slop_pred(s["pthen"], slop))

    # span_or = position-set union: ONE tagged pass over the token array
    # (isin) builds the or-positions — same set as concat of per-alt arrays
    hit = _span_let(
        {"por": _positions_of(toks, is_alt),
         "pthen": _positions_of(toks, _eq_pred(then))},
        body,
    )
    return (
        docs.join(cand, "doc_id")
        .filter(hit)
        .select("doc_id")
        .orderBy("doc_id")
    )


def span_multi_prefix(docs: DataFrame, prefix: str, then: str, slop: int = 0,
                      text_col: str = "text") -> DataFrame:
    """ES span_near(clauses=[span_multi(prefix), term], slop, in_order):
    the multi-term span wrapper — ANY token starting with ``prefix``
    opens the span, ``then`` must follow within ``slop`` gaps:
    ∃ i: tok[i] startswith prefix, ∃ j ∈ pos(then): j > i AND
    j - i - 1 <= slop.

    Scale shape: unlike ES (which REWRITES span_multi into an expanded
    span_or and trips max_boolean_clauses on broad prefixes), the prefix
    clause stays a row-local PREDICATE on the token array — no vocabulary
    expansion, no driver collect, no clause limit. The candidate gate is
    the one filtered tf pass of span_or_near with the isin test replaced
    by startswith; position arrays are built for candidates only. Returns
    (doc_id), ordered."""
    from .tokenizer import tokens_expr

    def _is_pref(t):
        return t.startswith(prefix)

    cand = (
        docs.select("doc_id", F.explode(tokens_expr(text_col)).alias("term"))
        .filter((F.col("term") == F.lit(then)) | F.col("term").startswith(prefix))
        .groupBy("doc_id")
        .agg(
            F.max((F.col("term") == F.lit(then)).cast("int")).alias("__has_then"),
            F.max(F.col("term").startswith(prefix).cast("int")).alias("__has_pre"),
        )
        .filter((F.col("__has_then") == 1) & (F.col("__has_pre") == 1))
        .select("doc_id")
    )
    toks = tokens_expr(text_col)

    def body(s: F.Column) -> F.Column:
        return F.exists(s["ppre"], _slop_pred(s["pthen"], slop))

    hit = _span_let(
        {"ppre": _positions_of(toks, _is_pref),
         "pthen": _positions_of(toks, _eq_pred(then))},
        body,
    )
    return (
        docs.join(cand, "doc_id")
        .filter(hit)
        .select("doc_id")
        .orderBy("doc_id")
    )


def _after_within_pred(p_rest: list[F.Column], n_before: int, max_gaps: int):
    """Ordered-interval continuation: given the first match position i,
    recursively require each remaining term strictly after its
    predecessor, with TOTAL intervening gaps (last - first - (N-1)) within
    max_gaps. Named closures per the higher-order-lambda convention."""
    def outer(i: F.Column) -> F.Column:
        def step(prev: F.Column, first: F.Column, rest: list[F.Column],
                 depth: int) -> F.Column:
            def inner(j: F.Column) -> F.Column:
                ok = j > prev
                if len(rest) == 1:
                    ok = ok & (j - first - F.lit(depth) <= F.lit(max_gaps))
                    return ok
                return ok & step(j, first, rest[1:], depth + 1)

            return F.exists(rest[0], inner)

        return step(i, i, p_rest, n_before + 1)

    return outer


def intervals_ordered(docs: DataFrame, terms: list[str], max_gaps: int = 2,
                      text_col: str = "text") -> DataFrame:
    """ES intervals query, match/ordered with max_gaps: the terms occur
    left-to-right with at most ``max_gaps`` total intervening tokens
    (ES gap semantics: last_pos - first_pos - (n-1) <= max_gaps). The
    N-ary generalization of phrase_slop: same candidate semi-join (docs
    must contain ALL terms before any position work), nested higher-order
    exists over the per-term position arrays, per-doc cost O(Π occ(t_i))
    on the candidate set only. Returns (doc_id), ordered."""
    from .tokenizer import tokens_expr

    assert len(terms) >= 2
    cand = conjunctive_match(docs, terms, text_col=text_col)
    toks = tokens_expr(text_col)

    def body(s: F.Column) -> F.Column:
        rest = [s[f"p{i}"] for i in range(1, len(terms))]
        return F.exists(s["p0"], _after_within_pred(rest, 0, max_gaps))

    hit = _span_let(
        {f"p{i}": _positions_of(toks, _eq_pred(t)) for i, t in enumerate(terms)},
        body,
    )
    return (
        docs.join(cand, "doc_id")
        .filter(hit)
        .select("doc_id")
        .orderBy("doc_id")
    )


def _contains_pred(p_little: F.Column, p2: F.Column, slop: int):
    """i → ∃ j∈p2 (ordered big span [i,j], j-i-1<=slop) that contains a
    little position k: i <= k <= j."""
    def pred(i: F.Column) -> F.Column:
        def inner(j: F.Column) -> F.Column:
            def contains(k: F.Column) -> F.Column:
                return (k >= i) & (k <= j)

            return (j > i) & (j - i - 1 <= F.lit(slop)) & F.exists(p_little, contains)

        return F.exists(p2, inner)

    return pred


def span_containing(docs: DataFrame, t1: str, t2: str, little: str,
                    slop: int = 3, text_col: str = "text") -> DataFrame:
    """ES span_containing (and the doc-level dual span_within): a doc
    matches iff some ordered span_near(t1, t2, slop) span encloses an
    occurrence of ``little`` (i <= pos(little) <= j). Candidate semi-join
    on all three terms, then row-local position algebra — the span-family
    machinery composed one level deeper. Returns (doc_id), ordered."""
    from .tokenizer import tokens_expr

    cand = conjunctive_match(docs, [t1, t2, little], text_col=text_col)
    toks = tokens_expr(text_col)

    def body(s: F.Column) -> F.Column:
        return F.exists(s["p1"], _contains_pred(s["pl"], s["p2"], slop))

    hit = _span_let(
        {"p1": _positions_of(toks, _eq_pred(t1)),
         "p2": _positions_of(toks, _eq_pred(t2)),
         "pl": _positions_of(toks, _eq_pred(little))},
        body,
    )
    return (
        docs.join(cand, "doc_id")
        .filter(hit)
        .select("doc_id")
        .orderBy("doc_id")
    )


def span_within(docs: DataFrame, t1: str, t2: str, little: str,
                slop: int = 3, text_col: str = "text") -> DataFrame:
    """ES span_within: the dual of span_containing at SPAN granularity —
    the matching spans are the LITTLE ones, so the result counts, per
    doc, how many occurrences of ``little`` are enclosed by some ordered
    span_near(t1, t2, slop) big span (span_containing only answers the
    doc-level question). Same scale shape as the rest of the span family:
    candidate semi-join on all three terms first, then row-local position
    algebra (nested higher-order exists over per-term position arrays) —
    zero extra shuffle past the candidate join.
    Returns (doc_id, n_within), n_within > 0, ordered by doc_id."""
    from .tokenizer import tokens_expr

    cand = conjunctive_match(docs, [t1, t2, little], text_col=text_col)
    toks = tokens_expr(text_col)

    def body(s: F.Column) -> F.Column:
        def enclosed(k: F.Column) -> F.Column:
            def big_i(i: F.Column) -> F.Column:
                def big_j(j: F.Column) -> F.Column:
                    return (j > i) & (j - i - 1 <= F.lit(slop)) & (k >= i) & (k <= j)

                return F.exists(s["p2"], big_j)

            return F.exists(s["p1"], big_i)

        return F.size(F.filter(s["pl"], enclosed))

    n_within = _span_let(
        {"p1": _positions_of(toks, _eq_pred(t1)),
         "p2": _positions_of(toks, _eq_pred(t2)),
         "pl": _positions_of(toks, _eq_pred(little))},
        body,
    ).cast("long")
    return (
        docs.join(cand, "doc_id")
        .select("doc_id", n_within.alias("n_within"))
        .filter(F.col("n_within") > 0)
        .orderBy("doc_id")
    )


def terms_set_match(docs: DataFrame, terms: list[str], msm_col: F.Column,
                    text_col: str = "text") -> DataFrame:
    """ES terms_set query with minimum_should_match_field: at least
    msm(doc) of the query terms must be present, where the threshold is a
    PER-DOCUMENT value read from a field (vs bool_bm25_msm's constant).
    n_matched counts distinct query terms present (row-local
    array_contains sum — no explode, no shuffle). Effective threshold is
    least(msm, |terms|), the ES clamp. (doc_id, n_matched, msm) ordered."""
    from .tokenizer import tokens_expr

    toks = tokens_expr(text_col)
    n_matched = sum(
        (F.array_contains(toks, t).cast("long") for t in terms), F.lit(0).cast("long")
    )
    msm = F.least(msm_col.cast("long"), F.lit(len(terms)).cast("long"))
    return (
        docs.select(
            "doc_id",
            n_matched.alias("n_matched"),
            msm.alias("msm"),
        )
        .filter(F.col("n_matched") >= F.col("msm"))
        .orderBy("doc_id")
    )


def terms_lookup_topk(docs: DataFrame, lookup_doc_id: int, k: int = 10,
                      id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """ES terms-lookup query: the term set is fetched from ANOTHER
    document's field at query time (the "terms from a document" form of
    the terms query — user-follow lists, curated vocabularies). Docs
    matching >=1 looked-up term, ranked by DISTINCT matched terms
    (desc, doc_id asc — the terms query itself is constant-score; the
    match count is the natural deterministic order).

    Plan shape: the lookup side is ONE doc -> a tiny distinct-term
    relation, broadcast; the corpus side explodes DISTINCT (doc, term)
    and equi-joins that broadcast — no driver collect, no second corpus
    pass, no unbounded shuffle beyond the bounded match groupBy."""
    from pyspark.sql.window import Window

    from .tokenizer import tokens_expr

    base = docs.select(F.col(id_col).alias("doc_id"), tokens_expr(text_col).alias("__tk"))
    lk = (
        base.filter(F.col("doc_id") == int(lookup_doc_id))
        .select(F.explode("__tk").alias("term"))
        .distinct()
    )
    m = (
        base.select("doc_id", F.explode(F.array_distinct(F.col("__tk"))).alias("term"))
        .join(F.broadcast(lk), "term")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_matched"))
    )
    top = m.orderBy(F.col("n_matched").desc(), F.col("doc_id").asc()).limit(k)
    w = F.row_number().over(Window.orderBy(F.col("n_matched").desc(), F.col("doc_id").asc()))
    return top.withColumn("rank", w).select("rank", "doc_id", "n_matched").orderBy("rank")


def sliced_scroll(docs: DataFrame, slice_id: int, max_slices: int, k: int = 50,
                  id_col: str = "doc_id") -> DataFrame:
    """ES sliced scroll (the parallel-export primitive): slice i of n via
    the portable hash — n independent workers each scan THEIR hash slice
    with no coordination, no scroll context, and no global sort; within a
    slice pages are keyset-ordered (doc_id asc), so resume is
    search_after, not server state. At 100 TB this is how a full corpus
    leaves the cluster: the slice predicate is row-local (scan + filter),
    and each worker's page-k finish is its own TakeOrderedAndProject.

    Returns the slice's first page: (rank, doc_id, slice_id)."""
    from pyspark.sql.window import Window

    from .portable import seeded

    sl = docs.select(F.col(id_col).alias("doc_id")).filter(
        F.pmod(seeded(F.col(id_col).cast("string"), F.lit("slice")), F.lit(int(max_slices)))
        == F.lit(int(slice_id))
    )
    top = sl.orderBy(F.col("doc_id").asc()).limit(k)
    w = F.row_number().over(Window.orderBy(F.col("doc_id").asc()))
    return (
        top.withColumn("rank", w)
        .select("rank", "doc_id", F.lit(int(slice_id)).alias("slice_id"))
        .orderBy("rank")
    )


def graph_explore(
    docs: DataFrame,
    seeds: list[str],
    hops: int = 2,
    k: int = 5,
    min_cooc: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """ES Graph explore API (X-Pack Graph): starting from seed terms,
    discover significantly-connected vertex terms hop by hop. Per hop:

      foreground = docs containing any frontier term (semi-join)
      candidates = unseen terms in the foreground with support >= min_cooc
      vertex score = JLH significance vs the corpus background
                     (the significant_terms heuristic Graph itself uses)
      edge        = each new vertex links to the frontier term it
                    co-occurs with most (ties: source term asc)

    The frontier is k-bounded, so every hop's work is bounded by the
    matched-doc set: candidate dfs are groupBys over foreground postings,
    the pair counts join frontier postings to candidate postings on
    doc_id (fan-out ≤ |frontier| per row), and the per-vertex source pick
    is a window over ≤ |frontier| rows per vertex. The k-row frontier is
    the only driver-side state (audited bounded collect).
    (hop, src, dst, co_docs, jlh) ordered (hop, jlh desc, dst)."""
    from pyspark.sql.window import Window

    from .tokenizer import tokens_expr

    spark = docs.sparkSession
    base = docs.select(F.col("doc_id"), F.col(text_col).alias("__text"))
    # tf is referenced ~4x per hop AND re-derived by both the per-hop
    # frontier collect and the final result action — without a lineage cut
    # that is ~4·hops·2 explode+distinct passes over the corpus (measured
    # 5.9s → 2.6s at sf0.1/32cpu with the cut; at scale this is the
    # materialize-the-reused-intermediate rule).
    tf = (
        base.select("doc_id", F.explode(tokens_expr("__text")).alias("term"))
        .distinct()
    ).localCheckpoint()
    n_docs = base.agg(F.count(F.lit(1)).alias("n_docs"))

    frontier = sorted(set(seeds))
    seen = set(frontier)
    out = None
    for hop in range(1, hops + 1):
        fr = spark.createDataFrame([(t,) for t in frontier], "term string")
        matched = tf.join(F.broadcast(fr), "term").select(
            "doc_id", F.col("term").alias("src")
        )
        fg_docs = matched.select("doc_id").distinct()
        fg_n = fg_docs.agg(F.count(F.lit(1)).alias("fg_n"))
        cand_tf = (
            tf.join(fg_docs, "doc_id", "left_semi")
            .filter(~F.col("term").isin(sorted(seen)))
        )
        fg_df = cand_tf.groupBy("term").agg(F.count(F.lit(1)).alias("fg_df"))
        fg_df = fg_df.filter(F.col("fg_df") >= min_cooc)
        bg_df = (
            tf.join(fg_df.select("term"), "term", "left_semi")
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("bg_df"))
        )
        fg_rate = F.col("fg_df").cast("double") / F.col("fg_n")
        bg_rate = F.col("bg_df").cast("double") / F.col("n_docs")
        scored = (
            fg_df.join(bg_df, "term")
            .crossJoin(F.broadcast(fg_n))
            .crossJoin(F.broadcast(n_docs))
            .select(
                F.col("term").alias("dst"),
                F.round((fg_rate - bg_rate) * (fg_rate / bg_rate), 6).alias("jlh"),
            )
        )
        top = scored.orderBy(F.col("jlh").desc(), F.col("dst").asc()).limit(k)
        pairs = (
            matched.join(cand_tf.withColumnRenamed("term", "dst"), "doc_id")
            .groupBy("src", "dst")
            .agg(F.count(F.lit(1)).cast("long").alias("co_docs"))
        )
        w = Window.partitionBy("dst").orderBy(
            F.col("co_docs").desc(), F.col("src").asc()
        )
        best_src = (
            pairs.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("src", "dst", "co_docs")
        )
        # edges is ≤ k rows: checkpoint it so the frontier collect and the
        # final union action don't each replan the whole hop, and read the
        # next frontier from it (every top dst has a best_src row — a
        # candidate's fg_df ≥ min_cooc > 0 implies co-occurrence with some
        # frontier term in a matched doc, so the inner join drops nothing).
        edges = top.join(best_src, "dst").select(
            F.lit(hop).cast("long").alias("hop"), "src", "dst", "co_docs", "jlh"
        ).localCheckpoint()
        out = edges if out is None else out.unionByName(edges)
        rows = edges.select("dst").collect()
        frontier = sorted({r["dst"] for r in rows})
        seen.update(frontier)
        if not frontier:
            break
    return out.orderBy("hop", F.col("jlh").desc(), F.col("dst").asc())


def significant_terms_chi2(docs: DataFrame, query_terms: list[str], k: int = 10,
                           text_col: str = "text") -> DataFrame:
    """ES significant_terms with the chi_square heuristic
    (background_is_superset, include_negatives — the ES defaults): the
    textbook 2×2 chi² over the foreground/background contingency table

        N11=fg_df  N10=fg_n-fg_df  N01=bg_df-fg_df  N00=N-fg_n-bg_df+fg_df
        chi² = N·(N11·N00 − N10·N01)² / (fg_n·bg_df·(N−fg_n)·(N−bg_df))

    signed negative when the term is UNDER-represented in the foreground
    (fg_rate < bg_rate). Same bounded relation shape as the JLH variant —
    one tf pass, foreground semi-join, broadcast scalars, orderBy·limit
    finish. All arithmetic in float64 with fixed operand order.
    (rk, term, fg_df, bg_df, chi2)."""
    from pyspark.sql.window import Window

    from .query import doc_term_freqs, term_dfs

    qterms = sorted(set(query_terms))
    q = docs.sparkSession.createDataFrame([(t,) for t in qterms], "term string")
    base = docs.select(F.col("doc_id"), F.col(text_col).alias("__text"))
    tf = doc_term_freqs(base, "doc_id", "__text")
    matched = tf.join(F.broadcast(q), "term").select("doc_id").distinct()
    fg_n = matched.agg(F.count(F.lit(1)).alias("fg_n"))
    bg_n = base.agg(F.count(F.lit(1)).alias("n_docs"))
    fg_df = (
        tf.join(matched, "doc_id", "left_semi")
        .groupBy("term").agg(F.count(F.lit(1)).alias("fg_df"))
    )
    bg_df = term_dfs(tf).select("term", F.col("df").alias("bg_df"))
    n11 = F.col("fg_df").cast("double")
    n1_ = F.col("fg_n").cast("double")
    n_1 = F.col("bg_df").cast("double")
    nn = F.col("n_docs").cast("double")
    d = n11 * (nn - n1_ - n_1 + n11) - (n1_ - n11) * (n_1 - n11)
    chi2 = nn * d * d / (n1_ * n_1 * (nn - n1_) * (nn - n_1))
    signed = F.when(n11 / n1_ >= n_1 / nn, chi2).otherwise(-chi2)
    scored = (
        fg_df.join(bg_df, "term")
        .crossJoin(F.broadcast(fg_n))
        .crossJoin(F.broadcast(bg_n))
        .filter(~F.col("term").isin(qterms))
        .select("term", "fg_df", "bg_df", F.round(signed, 6).alias("chi2"))
    )
    top = scored.orderBy(F.col("chi2").desc(), F.col("term").asc()).limit(k)
    w = F.row_number().over(Window.orderBy(F.col("chi2").desc(), F.col("term").asc()))
    return (
        top.withColumn("rk", w)
        .select("rk", "term", "fg_df", "bg_df", "chi2")
        .orderBy("rk")
    )


def parse_simple_query_string(q: str) -> list[dict]:
    """ES simple_query_string mini-grammar — the lenient end-user cousin
    of query_string (never errors on user input in ES; the closed core
    here still raises on structurally unscorable input):

      term term   → AND within a group (default_operator=and)
      +           → explicit AND (same as whitespace)
      a | b       → OR between groups (group = conjunction)
      -term       → negated within its group

    Returns [{pos: [...], neg: [...]}, ...] — one dict per OR group.
    Every group needs >= 1 positive term (a pure-negation group matches
    the whole corpus and is unscorable — raise, the ES equivalent serves
    it as match_all|score 0)."""
    groups = []
    for chunk in q.split("|"):
        pos, neg = [], []
        for tok in chunk.split():
            if tok in ("+", ""):
                continue
            if tok.startswith("-") and len(tok) > 1:
                neg.append(tok[1:])
            else:
                pos.append(tok.lstrip("+"))
        if not pos:
            raise ValueError(
                "each simple_query_string OR-group needs >= 1 positive term")
        groups.append({"pos": sorted(set(pos)), "neg": sorted(set(neg))})
    return groups


def simple_query_string_bm25(docs: DataFrame, q: str, k: int = 10,
                             text_col: str = "text",
                             id_col: str = "doc_id") -> DataFrame:
    """ES simple_query_string compiled to OR-of-AND Lucene bool scoring:
    a doc is eligible iff SOME group has all positive terms present and
    all negated terms absent; score = Σ over MATCHED groups of that
    group's positive-term BM25 partials (a term shared by two matched
    groups contributes once per group — the Lucene bool-of-bools sum).

    Scale shape: ONE filtered corpus pass (query._tf_dl_df over pos∪neg
    terms — isin below the tf groupBy, dl row-local, df broadcast back),
    group membership and per-group sums are conditional aggregates over
    the ≤|terms| matched rows per doc, the single-query top-k compiles
    to TakeOrderedAndProject. (rank, doc_id, score)."""
    from .query import SCORE_DECIMALS, _bm25_parts, _direct_matched, _text_base, _topk_ranked

    groups = parse_simple_query_string(q)
    all_terms = sorted({t for g in groups for t in g["pos"] + g["neg"]})
    matched = _direct_matched(_text_base(docs, id_col, text_col), all_terms)
    idf, tfn = _bm25_parts()
    per = matched.withColumn("part", idf * tfn)
    aggs = []
    for i, g in enumerate(groups):
        # tf rows are unique per (doc, term), so count == distinct terms hit
        aggs.append(F.count(F.when(F.col("term").isin(g["pos"]), F.lit(1))).alias(f"p{i}"))
        aggs.append(F.sum(F.when(F.col("term").isin(g["pos"]), F.col("part"))).alias(f"s{i}"))
        if g["neg"]:
            aggs.append(F.count(F.when(F.col("term").isin(g["neg"]), F.lit(1))).alias(f"n{i}"))
    byd = per.groupBy("doc_id").agg(*aggs)
    hits, score = None, None
    for i, g in enumerate(groups):
        m = F.col(f"p{i}") == len(g["pos"])
        if g["neg"]:
            m = m & (F.col(f"n{i}") == 0)
        s = F.when(m, F.col(f"s{i}")).otherwise(F.lit(0.0))
        hits = m if hits is None else (hits | m)
        score = s if score is None else (score + s)
    scores = byd.filter(hits).select(
        "doc_id", F.round(score, SCORE_DECIMALS).alias("score"))
    return _topk_ranked(scores, k)


def analyze_api(spark, text: str, analyzer: str = "whitespace",
                stopwords: tuple[str, ...] = ()) -> DataFrame:
    """The ES _analyze API: the token stream an analyzer chain produces
    for one text — the debugging surface every ES user pokes before
    trusting an index mapping. Chains (each stage the engine's own
    templated expression, so _analyze shows EXACTLY what the index sees):

      whitespace    — tokenizer only
      html_strip    — char filter + tokenizer
      stop          — tokenizer + stop filter
      english_chain — html_strip + stop + light stemmer (the full chain
                      stemmed_bm25/html_strip_bm25 index with)

    (pos, token), pos 0-based like ES token positions."""
    from .tokenizer import tokens_expr

    one = spark.createDataFrame([(str(text),)], "text string")
    if analyzer == "whitespace":
        one = one.withColumn("__t", F.col("text"))
    elif analyzer == "html_strip":
        one = one.withColumn("__t", html_strip_col("text"))
    elif analyzer == "stop":
        one = one.withColumn("__t", analyzed_text_col(list(stopwords), "text"))
    elif analyzer == "english_chain":
        one = one.withColumn("__s", html_strip_col("text"))
        one = one.withColumn("__t", stemmed_text_col("__s", stopwords))
    else:
        raise ValueError(f"unknown analyzer {analyzer!r}")
    return one.select(
        F.posexplode(tokens_expr("__t")).alias("pos", "token")
    ).select(F.col("pos").cast("long").alias("pos"), "token")


# accent noise for the asciifolding analyzer driver query — templated into
# BOTH engines (oracles.accentified_expr / asciifold_expr), never hand-copied
ACCENT_SRC = "aeiou"
ACCENT_DST = "áéíóú"   # áéíóú
ACCENT_EVERY = 3


def accentify_docs(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Deterministically accent-fold every ACCENT_EVERY-th doc's vowels
    (the htmlify_docs precedent — the fixture corpus is pure ASCII, so the
    asciifolding driver query derives its own diacritics, identically in
    both engines)."""
    t = F.when(
        F.pmod(F.col(id_col), F.lit(ACCENT_EVERY)) == 0,
        F.translate(F.col(text_col), ACCENT_SRC, ACCENT_DST),
    ).otherwise(F.col(text_col))
    return docs.select(F.col(id_col).alias("doc_id"), t.alias("text"))


def asciifold_col(text_col: str = "text") -> F.Column:
    """ES asciifolding token filter (the analyzer that makes 'café' match
    'cafe'): diacritics mapped to their ASCII base. Row-local translate —
    zero shuffle, runs ahead of the tokenizer."""
    return F.translate(F.col(text_col), ACCENT_DST, ACCENT_SRC)


def asciifolding_bm25(docs: DataFrame, terms: list[str], k: int = 10,
                      text_col: str = "text") -> DataFrame:
    """BM25 over the asciifolded field — accented surface forms and ASCII
    queries meet in one term space, and dl/df/avgdl are the folded
    statistics (ES: asciifolding filter in the index analyzer).
    (rank, doc_id, score)."""
    from .query import bm25_topk

    folded = docs.withColumn("__an", asciifold_col(text_col))
    return bm25_topk(folded, terms, k=k, text_col="__an")


def prf_bm25(docs: DataFrame, terms: list[str], k: int = 10, fb_k: int = 5,
             n_exp: int = 3, exp_weight: float = 0.5,
             text_col: str = "text") -> DataFrame:
    """Pseudo-relevance feedback / RM3-style query expansion (Lavrenko &
    Croft, SIGIR 2001; the Rocchio family): retrieve the top ``fb_k``
    feedback docs with plain BM25, extract the top ``n_exp`` expansion
    terms by the relevance-model weight Σ_d tf(w,d)/dl(d) (rounded 6
    before ordering — the rank-identity contract, so the oracle selects
    the identical set), then re-score with the expanded weighted query
    (originals 1.0, expansions ``exp_weight`` — keep it dyadic).

    Scale shape: the feedback pass is the standard one-pass BM25; term
    extraction aggregates ONLY the fb_k docs' tokens (semi-join before
    the groupBy); the expansion list is a bounded driver-side collect
    (the more_like_this precedent); the final pass is bm25_scores with
    term_boosts. (rank, doc_id, score)."""
    from .query import _topk_ranked, bm25_scores, doc_term_freqs

    qterms = sorted(set(terms))
    fb = _topk_ranked(bm25_scores(docs, qterms, text_col=text_col), fb_k)
    fb_ids = fb.select("doc_id")
    base = docs.select("doc_id", F.col(text_col).alias("__text"))
    tf = doc_term_freqs(base, "doc_id", "__text")
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    exp_scored = (
        tf.join(fb_ids, "doc_id", "left_semi")
        .join(dl, "doc_id")
        .filter(~F.col("term").isin(qterms))
        .groupBy("term")
        .agg(F.round(F.sum(F.col("tf") / F.col("dl")), 6).alias("w"))
    )
    exp_rows = (exp_scored.orderBy(F.col("w").desc(), F.col("term").asc())
                .limit(int(n_exp)).collect())
    boosts = {t: 1.0 for t in qterms}
    boosts.update({r["term"]: float(exp_weight) for r in exp_rows})
    scores = bm25_scores(docs, sorted(boosts), text_col=text_col,
                         term_boosts=boosts)
    return _topk_ranked(scores, k)


def synonym_graph_bm25(docs: DataFrame, lexemes: list[list[tuple]],
                       k: int = 10, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """ES synonym_graph with MULTI-WORD synonyms ("window join" ≡ "merge"):
    each query lexeme is a set of variants — single tokens or two-token
    phrases — and all variants of a lexeme share ONE posting unit: per-doc
    tf(ℓ) = Σ occurrences of any variant (adjacent-pair counts for the
    phrase variants), df(ℓ) = docs with tf > 0, dl = the plain token
    count. This is what a token-graph analyzer gives an ES index that
    query-side single-token expansion (synonym_bm25) cannot: the phrase
    variant and its contraction are scored under the same statistics.

    Scale shape: variant counting is 100% row-local (array filters over
    the token list — no position explode, no self-join); the matched
    relation carries ≤ |lexemes| rows per doc; df is the ≤|lexemes|-row
    groupBy broadcast back; corpus stats are a 1-row aggregate; the finish
    is TakeOrderedAndProject. The matched rows come straight from the
    explode (no tf aggregate), so the df branch has no exchange to reuse
    and the plan reads the corpus three times: FileScan == 3.
    (rank, doc_id, score)."""
    from .query import SCORE_DECIMALS, _bm25_parts, _corpus_stats, _topk_ranked
    from .tokenizer import tokens_expr

    toks = tokens_expr(text_col)

    def variant_count(tk, variant: tuple):
        if len(variant) == 1:
            v = str(variant[0])
            return F.size(F.filter(tk, lambda t: t == F.lit(v)))
        a, b = str(variant[0]), str(variant[1])
        pair_idx = F.sequence(F.lit(1), F.size(tk) - 1)

        def is_pair(i):
            return (F.element_at(tk, i) == F.lit(a)) \
                & (F.element_at(tk, i + 1) == F.lit(b))

        return F.when(F.size(tk) >= 2,
                      F.size(F.filter(pair_idx, is_pair))).otherwise(F.lit(0))

    def lex_tf(tk, variants):
        c = None
        for v in variants:
            vc = variant_count(tk, v)
            c = vc if c is None else c + vc
        return c

    entries = F.array(*[
        F.struct(F.lit(i).alias("lex"),
                 lex_tf(toks, variants).cast("long").alias("tf"))
        for i, variants in enumerate(lexemes)
    ])
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(toks).cast("long").alias("__dl"),
        entries.alias("__e"),
    )
    matched = (base.select(
        "doc_id", "__dl", F.explode("__e").alias("e"))
        .filter(F.col("e.tf") > 0)
        .select("doc_id", F.col("__dl").alias("dl"),
                F.col("e.lex").alias("lex"), F.col("e.tf").alias("tf")))
    dfs = matched.groupBy("lex").agg(F.count(F.lit(1)).alias("df"))
    stats = _corpus_stats(base, F.col("__dl"))
    j = matched.join(F.broadcast(dfs), "lex").crossJoin(F.broadcast(stats))
    idf, tfn = _bm25_parts()
    scores = (j.withColumn("part", idf * tfn)
              .groupBy("doc_id")
              .agg(F.round(F.sum("part"), SCORE_DECIMALS).alias("score")))
    return _topk_ranked(scores, int(k))
