"""BM25 query pipeline — direct (index-free) DataFrame path.

This is SURVEY.md §7 M1: the reference's query side is Elasticsearch BM25
top-k with document weight boosts, pinned only by its tests
(/root/reference tests/tests.rs:208-228 — QueryString search, limit 100,
relevance order). Here the same semantics are a declarative DataFrame plan
that Catalyst can optimize end-to-end: tokenize → tf → df/idf → broadcast
query-term join → score → deterministic top-k.

Scoring (Lucene-flavored Okapi BM25, k1=1.2 b=0.75):
    idf  = ln(1 + (N - df + 0.5) / (df + 0.5))
    tfn  = tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
    score= sum_over_query_terms(idf * tfn) * doc_boost
Doc boost replicates fafnir's weight formula family
(poi_display_weight = 1 - 1/(1+len), /root/reference
tests/openmaptiles2mimir/data/functions.sql:112-126).

Ties break (score desc, doc_id asc) — SURVEY.md §4.3 rank-identity contract.
Every aggregate is aliased so the DuckDB oracle (oracles.py) hash-matches.

This module is the one place that knows how an index-free similarity
gets its statistics and finishes its top-k (the Lucene ``Similarity``
split: shared statistics, per-term scorer). The shared helpers:

    _tf_dl_df / _term_stats  filtered tf + row-local dl + pinned df/cf
    _corpus_stats            1-row (n_docs, avgdl, total_c), dl > 0
    _direct_matched          both of the above, query relation attached
    _bm25_parts              the BM25 (idf, tfn) Columns
    _direct_topk             part expr → per-doc sum → round → top-k
    _topk_ranked             the (score desc, doc_id asc) top-k finish

BM25, BM25+, LM Dirichlet/JM, classic TF-IDF and scripted similarity
(scoring.py), dis_max, simple_query_string and the explain breakdown each
supply only their part expression and per-doc aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import B, K1
from .tokenizer import tokens_expr

SCORE_DECIMALS = 6


def doc_term_freqs(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, term, tf) — one row per distinct term per doc.

    explode + groupBy: Spark's partial (map-side) aggregation pre-combines
    within each scan partition, so the shuffle carries distinct (doc,term)
    pairs, not raw tokens.
    """
    toks = docs.select(F.col(id_col).alias("doc_id"), F.explode(tokens_expr(text_col)).alias("term"))
    return toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))


def term_dfs(tf: DataFrame) -> DataFrame:
    """Document frequency per term — THE core index aggregation
    (SURVEY.md §2.4)."""
    return tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf"))


def _topk_ranked(scores: DataFrame, k: int) -> DataFrame:
    """Deterministic top-k finish of a (doc_id, score) relation: (rank,
    doc_id, score). orderBy().limit(k) compiles to TakeOrderedAndProject
    (per-partition heaps + a k-row merge, never a single-reducer global
    sort); the rank window runs AFTER the limit, over k rows."""
    top = scores.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)
    w = F.row_number().over(Window.orderBy(F.col("score").desc(), F.col("doc_id").asc()))
    return top.withColumn("rank", w).select("rank", "doc_id", "score").orderBy("rank")


def _term_stats(tf: DataFrame, keys: tuple[str, ...] = ("term",),
                row_cols: tuple[str, ...] = ("dl",)) -> DataFrame:
    """(*keys, df, cf) over a (doc, key)-grained tf relation carrying the
    per-doc ``row_cols``: a <=|qterms|-row groupBy, broadcast back onto
    the matches by the caller.

    The zero-weighted min(tf)/min(row col) terms are a deliberate plan
    pin: df references tf AND every row col, cf references tf AND every
    row col, so whichever of the two a similarity reads, column pruning
    cannot reduce the upstream tf aggregate to a narrower one in this
    branch — both branches then share a canonically identical Exchange
    and Spark's exchange/stage reuse executes the corpus scan ONCE
    (FileScan==2). A cf without the row-col pin (LM reads cf, never df)
    prunes dl from this branch and costs a third scan."""
    pin = F.min(row_cols[0]) * F.lit(0)
    for c in row_cols[1:]:
        pin = pin + F.min(c) * F.lit(0)
    return tf.groupBy(*keys).agg(
        (F.count(F.lit(1)) + F.min("tf") * F.lit(0) + pin).alias("df"),
        (F.sum("tf") + pin).alias("cf"),
    )


def _tf_dl_df(base: DataFrame, qterms: list[str]) -> DataFrame:
    """(doc_id, term, tf, dl, df, cf) for the query terms in ONE filtered
    pass over (doc_id, __text): term-isin pushed below the tf groupBy (the
    shuffle carries only query-term tokens), dl carried row-local through
    the aggregation (min of a per-doc constant), df/cf as the
    <=|qterms|-row ``_term_stats`` groupBy broadcast back onto the
    matches. NOT a count window partitioned by term: a hot query term
    ("the", "def") would funnel its entire match set — up to n_docs rows
    — through ONE reducer. The groupBy form collapses map-side (partial
    agg), and because its shuffle subtree is identical to the tf
    exchange, Spark's ReuseExchange keeps the plan at FileScan==2
    (plan-asserted in test_direct_bm25_two_scans_no_smj)."""
    toks = base.select(
        "doc_id",
        F.size(tokens_expr("__text")).cast("long").alias("__dl"),
        F.explode(tokens_expr("__text")).alias("term"),
    ).filter(F.col("term").isin(qterms))
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf"), F.min("__dl").alias("dl")
    )
    return tf.join(F.broadcast(_term_stats(tf)), "term")


def _corpus_stats(base: DataFrame, dl: F.Column | None = None) -> DataFrame:
    """The 1-row corpus statistics (n_docs, avgdl, total_c) over the docs
    whose length ``dl`` (default: the token count of ``__text``) is > 0 —
    the only corpus pass an index-free similarity adds to its filtered tf
    pass. The dl>0 filter keeps the numbers identical to the oracles'
    sum-over-tf form (a zero-token doc has no tf rows there either)."""
    if dl is None:
        dl = F.size(tokens_expr("__text")).cast("long")
    return (
        base.select(dl.alias("__dl"))
        .filter(F.col("__dl") > 0)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.avg("__dl").alias("avgdl"),
            F.sum("__dl").cast("double").alias("total_c"),
        )
    )


def _bm25_parts(n_docs: str = "n_docs", dl: str = "dl", avgdl: str = "avgdl"):
    """(idf, tfn) Columns of Lucene BM25 over the tf/df columns and the
    given stats columns, in the oracles' operand order; a term's score
    is idf * tfn."""
    idf = F.log(F.lit(1.0) + (F.col(n_docs) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5)))
    tfn = (F.col("tf") * F.lit(K1 + 1.0)) / (
        F.col("tf") + F.lit(K1) * (F.lit(1.0 - B) + F.lit(B) * F.col(dl) / F.col(avgdl))
    )
    return idf, tfn


def _text_base(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
               boost: F.Column | None = None) -> DataFrame:
    """(doc_id, __text[, __boost]) — the projection every direct
    similarity tokenizes (the boost resolves against the raw input)."""
    cols = [F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text")]
    if boost is not None:
        cols.append(boost.alias("__boost"))
    return docs.select(*cols)


def _direct_matched(base: DataFrame, terms: list[str], q: DataFrame | None = None) -> DataFrame:
    """The shared statistics path of every index-free similarity: the
    filtered tf+dl+df+cf rows of ``terms`` (joined with the broadcast
    query relation ``q`` on term when given) with the 1-row corpus stats
    attached. A similarity adds only its per-term part expression and
    its per-doc aggregate."""
    matched = _tf_dl_df(base, terms)
    if q is not None:
        matched = matched.join(F.broadcast(q), "term")
    return matched.crossJoin(F.broadcast(_corpus_stats(base)))


def _direct_topk(docs: DataFrame, terms: list[str], part: F.Column, k: int,
                 text_col: str = "text", doc_score: F.Column | None = None) -> DataFrame:
    """Index-free top-k of a per-term similarity: ``part`` over the
    ``_direct_matched`` columns (tf, df, cf, dl, n_docs, avgdl, total_c),
    summed per doc — or ``doc_score`` over that ``part`` column — rounded
    to 6 places, deterministic top-k. (rank, doc_id, score)."""
    m = _direct_matched(_text_base(docs, text_col=text_col), sorted(set(terms)))
    score = F.sum("part") if doc_score is None else doc_score
    scores = (
        m.select("doc_id", part.alias("part"))
        .groupBy("doc_id")
        .agg(F.round(score, SCORE_DECIMALS).alias("score"))
    )
    return _topk_ranked(scores, k)


def _bm25_by(
    docs: DataFrame,
    q: DataFrame,
    terms: list[str],
    by: tuple[str, ...],
    id_col: str = "doc_id",
    text_col: str = "text",
    boost: F.Column | None = None,
    eligible: DataFrame | None = None,
    excluded_docs: DataFrame | None = None,
) -> DataFrame:
    """(*by, score): BM25 summed per ``by`` group over the broadcast query
    relation ``q`` (term plus the ``by`` keys beyond doc_id, and an
    optional per-clause term_boost), times the doc boost, rounded."""
    base = _text_base(docs, id_col, text_col, boost)
    matched = _direct_matched(base, terms, q)
    if eligible is not None:
        matched = matched.join(eligible.select("doc_id"), "doc_id", "left_semi")
    if excluded_docs is not None:
        matched = matched.join(excluded_docs.select("doc_id"), "doc_id", "left_anti")
    idf, tfn = _bm25_parts()
    part = idf * tfn * F.col("term_boost") if "term_boost" in q.columns else idf * tfn
    scores = matched.withColumn("part_score", part).groupBy(*by).agg(
        F.sum("part_score").alias("raw_score")
    )
    if boost is not None:
        scores = scores.join(base.select("doc_id", "__boost"), "doc_id").withColumn(
            "raw_score", F.col("raw_score") * F.col("__boost")
        )
    return scores.select(*by, F.round(F.col("raw_score"), SCORE_DECIMALS).alias("score"))


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    boost: F.Column | None = None,
    eligible: DataFrame | None = None,
    excluded_docs: DataFrame | None = None,
    term_boosts: dict[str, float] | None = None,
) -> DataFrame:
    """(doc_id, score) for every doc matching >=1 query term (disjunctive).

    The query-term relation is tiny → broadcast hash join, no shuffle of the
    posting side on the join (fafnir's AdminGeoFinder broadcast analog,
    /root/reference src/mimir.rs:30-38).

    ONE filtered pass builds tf + dl + df together (``_direct_matched``);
    the only other corpus pass is the 1-row n_docs/avgdl aggregate,
    inherent to index-free BM25.

    ``eligible`` (doc_id) semi-join restricts WHICH docs get scored (ES
    filter context) and ``excluded_docs`` anti-joins them away — both are
    applied BEFORE the score aggregation so ineligible docs are never
    scored, while df/dl/avgdl/N stay corpus-wide (filter context does not
    change scoring statistics).
    """
    qterms = sorted(set(query_terms))
    spark = docs.sparkSession
    if term_boosts:
        # per-clause boosts (ES query DSL term^boost): a column on the
        # broadcast query relation, multiplied into each term's partial
        q = spark.createDataFrame(
            [(t, float(term_boosts.get(t, 1.0))) for t in qterms],
            "term string, term_boost double",
        )
    else:
        q = spark.createDataFrame([(t,) for t in qterms], "term string")
    return _bm25_by(docs, q, qterms, ("doc_id",), id_col, text_col, boost,
                    eligible, excluded_docs)


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    **kwargs,
) -> DataFrame:
    """Deterministic top-k: (rank, doc_id, score) of ``bm25_scores``."""
    return _topk_ranked(bm25_scores(docs, query_terms, **kwargs), k)


def bm25_topk_batch(
    docs: DataFrame,
    queries: dict[str, list[str]],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    boost: F.Column | None = None,
) -> DataFrame:
    """Evaluate a whole query set in ONE corpus pass: tokenize/tf/df once
    over the batch's distinct terms, broadcast-join the (qid, term)
    relation, window per qid.

    The reference's own batching lesson (LazyEs msearch ≤100 queries/req,
    /root/reference src/lazy_es.rs:87-167): never evaluate queries one at a
    time. Returns (qid, rank, doc_id, score).
    """
    from .topk import topk_per_group

    qrows = [(qid, t) for qid, ts in queries.items() for t in sorted(set(ts))]
    q = docs.sparkSession.createDataFrame(qrows, "qid string, term string")
    all_terms = sorted({t for ts in queries.values() for t in ts})
    # two-level top-k (topk.topk_per_group): per-partition streaming head-k,
    # then the rank window over ≤ k×n_parts candidates — never the whole
    # matched-docs relation through one reducer per qid
    return topk_per_group(
        _bm25_by(docs, q, all_terms, ("qid", "doc_id"), id_col, text_col, boost), k
    )


def conjunctive_match(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Doc ids containing ALL query terms — posting-list intersection as a
    count-matching group filter (SURVEY.md §2.6)."""
    qterms = sorted(set(query_terms))
    q = docs.sparkSession.createDataFrame([(t,) for t in qterms], "term string")
    tf = doc_term_freqs(docs, id_col, text_col)
    hits = tf.join(F.broadcast(q), "term")
    return (
        hits.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_terms"))
        .filter(F.col("n_terms") == len(qterms))
        .select("doc_id")
    )
