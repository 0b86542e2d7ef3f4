"""ES|QL compiler: stage semantics, closed-grammar rejection, and the
plan properties each stage must keep (filter pushdown under the scan,
TakeOrderedAndProject for SORT+LIMIT)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fafnir_spark.esql import EsqlError, _split_toplevel, esql
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF_DIR}/events.parquet")


def test_full_pipeline_semantics(spark, events):
    out = esql(spark, """
        FROM events
        | WHERE value >= 5.0
        | STATS n = count(*), total = sum(value) BY event_type
        | EVAL total = round(total, 6)
        | SORT total DESC, event_type ASC
        | LIMIT 3
        | KEEP event_type, n, total
    """, {"events": events}).collect()
    assert 0 < len(out) <= 3
    totals = [r["total"] for r in out]
    assert totals == sorted(totals, reverse=True)
    assert out[0].asDict().keys() == {"event_type", "n", "total"}


def test_where_and_eval_rowwise(spark, events):
    rows = esql(spark, """
        FROM events
        | WHERE value > 10.0 AND event_type == "click"
        | EVAL v2 = value * 2
        | KEEP event_id, value, v2
    """, {"events": events}).collect()
    assert rows
    for r in rows:
        assert r["value"] > 10.0 and r["v2"] == r["value"] * 2


def test_stats_without_by_is_global(spark, events):
    r = esql(spark, "FROM events | STATS n = count(*), mx = max(value)",
             {"events": events}).collect()[0]
    assert r["n"] == events.count()


def test_where_pushdown_reaches_scan(spark, events):
    df = esql(spark, 'FROM events | WHERE value > 10.0 | KEEP event_id, value',
              {"events": events})
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "GreaterThan(value,10.0)" in plan


def test_sort_limit_is_take_ordered(spark, events):
    df = esql(spark, """
        FROM events
        | STATS total = sum(value) BY event_type
        | SORT total DESC
        | LIMIT 3
    """, {"events": events})
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


@pytest.mark.parametrize("bad", [
    "WHERE value > 1",                              # no FROM
    "FROM nope | LIMIT 1",                          # unknown table
    "FROM events | WHERE value ~ 3",                # bad operator
    "FROM events | EVAL x = __import__('os')",      # not in the grammar
    "FROM events | STATS q = quantile(value)",      # unknown aggregate
    "FROM events | FROB 3",                         # unknown command
    "FROM events | STATS s = sum(*)",               # * only for count
])
def test_closed_grammar_rejects(spark, events, bad):
    with pytest.raises(EsqlError):
        esql(spark, bad, {"events": events})


def test_split_mv_expand_roundtrip(spark, events):
    docs = spark.createDataFrame(
        [(1, "a b a"), (2, "c"), (3, "")], "doc_id long, text string"
    )
    rows = esql(spark, """
        FROM docs
        | EVAL tok = split(text, " ")
        | MV_EXPAND tok
        | STATS n = count(*) BY tok
        | SORT n DESC, tok ASC
    """, {"docs": docs}).collect()
    # empty strings drop (tokenizer convention); doc 3 vanishes entirely
    assert [(r["tok"], r["n"]) for r in rows] == [("a", 2), ("b", 1), ("c", 1)]


def test_mv_expand_rejects_bad_column(spark, events):
    with pytest.raises(EsqlError):
        esql(spark, "FROM events | MV_EXPAND a b", {"events": events})


def test_dissect_extracts_fields(spark):
    from fafnir_spark.esql import esql

    msgs = spark.createDataFrame(
        [("error user=7 req=12",), ("click user=8 req=13",)], "msg string")
    out = esql(spark, 'FROM msgs | DISSECT msg "%{t} user=%{u} req=%{r}" '
                      '| KEEP t, u, r | SORT t ASC', {"msgs": msgs}).collect()
    assert [(x["t"], x["u"], x["r"]) for x in out] == [
        ("click", "8", "13"), ("error", "7", "12")]


def test_dissect_rejects_captureless_pattern(spark):
    import pytest

    from fafnir_spark.esql import EsqlError, esql

    msgs = spark.createDataFrame([("x",)], "msg string")
    with pytest.raises(EsqlError):
        esql(spark, 'FROM msgs | DISSECT msg "no captures"', {"msgs": msgs})


def test_enrich_is_broadcast_left_join(spark):
    from fafnir_spark.esql import esql

    left = spark.createDataFrame([(1, 5.0), (2, 6.0), (9, 7.0)], "k long, v double")
    lk = spark.createDataFrame([(1, "a"), (2, "b")], "k long, name string")
    df = esql(spark, "FROM t | ENRICH lk ON k WITH name | SORT k ASC",
              {"t": left, "lk": lk})
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan
    rows = [(r["k"], r["name"]) for r in df.collect()]
    assert rows == [(1, "a"), (2, "b"), (9, None)]  # left semantics keep 9


def test_enrich_unknown_table_rejected(spark):
    import pytest

    from fafnir_spark.esql import EsqlError, esql

    t = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(EsqlError, match="unknown enrich table"):
        esql(spark, "FROM t | ENRICH nope ON k WITH x", {"t": t})


def test_grok_typed_captures(spark):
    from fafnir_spark.esql import esql

    msgs = spark.createDataFrame(
        [("error user=7 took 1.5",), ("click user=11 took 2.25",)], "msg string")
    df = esql(spark, 'FROM msgs | GROK msg "%{WORD:t} user=%{INT:u} took %{NUMBER:s}" '
                     '| WHERE u > 8 | KEEP t, u, s', {"msgs": msgs})
    assert dict(df.dtypes)["u"] == "bigint" and dict(df.dtypes)["s"] == "double"
    rows = df.collect()
    assert [(r["t"], r["u"], r["s"]) for r in rows] == [("click", 11, 2.25)]


def test_grok_rejects_unknown_pattern(spark):
    import pytest

    from fafnir_spark.esql import EsqlError, esql

    msgs = spark.createDataFrame([("x",)], "msg string")
    with pytest.raises(EsqlError):
        esql(spark, 'FROM msgs | GROK msg "%{NOPE:a}"', {"msgs": msgs})


def test_compile_dissect_pure():
    import re as _re

    from fafnir_spark.esql import _compile_dissect

    fields, rx = _compile_dissect("%{a} user=%{b} req=%{c}")
    assert fields == ["a", "b", "c"]
    m = _re.match(rx, "error user=7 req=12")
    assert m.groups() == ("error", "7", "12")
    # literal with regex metachars is escaped
    fields2, rx2 = _compile_dissect("%{x}[y]%{z}")
    assert _re.match(rx2, "a[y]b").groups() == ("a", "b")


def test_compile_grok_pure():
    import re as _re

    from fafnir_spark.esql import _compile_grok

    fields, rx = _compile_grok("%{WORD:t} took %{NUMBER:s}ms req=%{INT:r}")
    assert fields == [("t", None), ("s", "double"), ("r", "long")]
    m = _re.match(rx, "click took 2.25ms req=-3")
    assert m.groups() == ("click", "2.25", "-3")
    assert _re.match(rx, "click took xms req=3") is None  # NUMBER must match


def test_inlinestats_attaches_without_collapsing(spark, events):
    df = esql(spark, """
        FROM events
        | INLINESTATS avg_v = avg(value) BY event_type
        | WHERE value >= avg_v
        | KEEP event_id, event_type, value, avg_v
    """, {"events": events})
    rows = df.collect()
    assert rows
    # per-row stat equals the group aggregate, and the col-vs-col WHERE held
    import collections
    by_type = collections.defaultdict(list)
    for r in events.select("event_type", "value").collect():
        by_type[r["event_type"]].append(r["value"])
    for r in rows:
        grp = by_type[r["event_type"]]
        assert abs(r["avg_v"] - sum(grp) / len(grp)) < 1e-9
        assert r["value"] >= r["avg_v"]
    # plan shape: groupBy + join-back, NEVER a per-key window (the
    # hot-group single-reducer trap)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "HashAggregate" in plan


def test_inlinestats_requires_by(spark, events):
    with pytest.raises(EsqlError):
        esql(spark, "FROM events | INLINESTATS n = count(*)",
             {"events": events})


def test_lookup_join_is_broadcast_left(spark, events):
    lookup = spark.createDataFrame(
        [(i, f"u{i}") for i in range(5)], "user_id long, uname string")
    df = esql(spark, """
        FROM events
        | LOOKUP JOIN users ON user_id
        | KEEP event_id, user_id, uname
    """, {"events": events, "users": lookup})
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan
    rows = df.collect()
    assert any(r["uname"] is not None for r in rows)
    assert any(r["uname"] is None for r in rows)  # left semantics: misses kept


def test_lookup_join_rejects_unknown(spark, events):
    with pytest.raises(EsqlError):
        esql(spark, "FROM events | LOOKUP JOIN nope ON user_id",
             {"events": events})
    lookup = spark.createDataFrame([(1, "a")], "other long, uname string")
    with pytest.raises(EsqlError):
        esql(spark, "FROM events | LOOKUP JOIN users ON user_id",
             {"events": events, "users": lookup})


def test_eval_col_col_arith(spark, events):
    rows = esql(spark, """
        FROM events
        | EVAL double_v = value + value
        | KEEP event_id, value, double_v
        | LIMIT 10
    """, {"events": events}).collect()
    assert rows and all(r["double_v"] == r["value"] * 2 for r in rows)


def test_fork_branches_union_with_discriminator(spark, events):
    """FORK runs each parenthesised sub-pipeline over the same input,
    tags rows with _fork, and unions with null-fill for branch-local
    columns (ES|QL 8.19 semantics)."""
    df = esql(spark, """
        FROM events
        | FORK (WHERE value >= 5.0 | STATS n = count(*) BY event_type)
               (STATS total = sum(value) BY event_type)
        | SORT event_type ASC
    """, {"events": events})
    rows = df.collect()
    assert set(df.columns) == {"event_type", "n", "total", "_fork"}
    forks = {r["_fork"] for r in rows}
    assert forks == {"fork1", "fork2"}
    # branch-local columns null-fill on the other branch
    assert all(r["total"] is None for r in rows if r["_fork"] == "fork1")
    assert all(r["n"] is None for r in rows if r["_fork"] == "fork2")
    # fork2 equals the standalone STATS pipeline
    want = {(r["event_type"], r["total"]) for r in esql(
        spark, "FROM events | STATS total = sum(value) BY event_type",
        {"events": events}).collect()}
    got = {(r["event_type"], r["total"]) for r in rows if r["_fork"] == "fork2"}
    assert got == want


def test_fork_rejects_bad_shapes(spark, events):
    with pytest.raises(EsqlError):  # one branch is not a fork
        esql(spark, "FROM events | FORK (LIMIT 5)", {"events": events})
    with pytest.raises(EsqlError):  # unbalanced parens
        esql(spark, "FROM events | FORK (LIMIT 5 (LIMIT 6)", {"events": events})
    with pytest.raises(EsqlError):  # stray token between branches
        esql(spark, "FROM events | FORK (LIMIT 5) and (LIMIT 6)",
             {"events": events})


def test_pipe_split_respects_strings_and_parens(spark, events):
    """'|' inside string literals or FORK parens must not split stages."""
    rows = esql(spark, """
        FROM events
        | FORK (WHERE event_type == "a|b" | LIMIT 1) (LIMIT 2)
    """, {"events": events}).collect()
    assert {r["_fork"] for r in rows} == {"fork2"}  # no 'a|b' rows exist


def test_split_toplevel_keeps_nested_parens_and_trailing_item():
    """The one comma splitter es_sql and runtime fields share: commas inside
    nested parentheses stay in their item; a trailing comma yields an
    empty last item."""
    assert _split_toplevel("g, round(avg(x), 6) AS a,") == [
        "g", " round(avg(x), 6) AS a", ""]


def test_stats_where_per_agg_filter(spark, events):
    """STATS ... WHERE (8.16): the filter applies to ITS aggregate only,
    inside the single groupBy (conditional projection, one pass)."""
    rows = esql(spark, """
        FROM events
        | STATS n = count(*), hi = count(*) WHERE value >= 5.0 BY event_type
        | SORT event_type ASC
    """, {"events": events}).collect()
    assert rows and all(0 < r["hi"] < r["n"] for r in rows)
    # count(col) WHERE and malformed WHERE
    one = esql(spark, """
        FROM events
        | STATS lo = sum(value) WHERE value < 5.0, t = sum(value)
    """, {"events": events}).collect()[0]
    assert 0 < one["lo"] < one["t"]
    with pytest.raises(EsqlError):
        esql(spark, "FROM events | STATS n = count(*) WHERE ???",
             {"events": events})


def test_change_point_stage(spark, events):
    """CHANGE_POINT returns the single max-mean-shift row with the stage's
    documented shape; its split agrees with the batch change_point agg."""
    from fafnir_spark.pipeline import change_point_agg

    df = esql(spark, """
        FROM events
        | EVAL day = date_format(ts, "yyyy-MM-dd")
        | STATS sum_value = sum(value) BY day
        | EVAL sum_value = round(sum_value, 6)
        | CHANGE_POINT sum_value ON day
    """, {"events": events})
    rows = df.collect()
    assert len(rows) == 1 and rows[0]["type"] == "step_change"
    want = change_point_agg(events).collect()[0]
    assert rows[0]["day"] == want["change_day"]
    assert rows[0]["score"] == want["score"]
    with pytest.raises(EsqlError):
        esql(spark, "FROM events | CHANGE_POINT value", {"events": events})


def test_where_boolean_forms(spark, events):
    """OR binds loosest (a OR b AND c == a OR (b AND c)); NOT, IN and
    LIKE atoms; LIKE stays pushdown-eligible."""
    base = {"events": events}
    n_or = len(esql(spark, """
        FROM events
        | WHERE event_type == "error" OR value >= 9.0 AND value < 9.5
    """, base).collect())
    want = events.filter(
        (F.col("event_type") == "error")
        | ((F.col("value") >= 9.0) & (F.col("value") < 9.5))).count()
    assert n_or == want > 0
    n_in = len(esql(spark, """
        FROM events | WHERE event_type IN ("error", "click")
    """, base).collect())
    assert n_in == events.filter(F.col("event_type").isin(["error", "click"])).count()
    n_not = len(esql(spark, """
        FROM events | WHERE NOT event_type == "error"
    """, base).collect())
    assert n_not == events.filter(F.col("event_type") != "error").count() > 0
    like_df = esql(spark, 'FROM events | WHERE event_type LIKE "err*"', base)
    assert like_df.count() == events.filter(F.col("event_type") == "error").count()
    plan = like_df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "err" in plan  # reaches the scan
    with pytest.raises(EsqlError):
        esql(spark, 'FROM events | WHERE event_type LIKE err', base)


def test_scalar_and_agg_functions(spark, events):
    """EVAL abs/length/lower/upper; STATS median / count_distinct —
    median is the exact interpolated percentile, count_distinct exact."""
    rows = esql(spark, """
        FROM events
        | EVAL lo = lower(event_type)
        | EVAL ln = length(lo)
        | STATS md = median(value), nd = count_distinct(user_id) BY lo
        | SORT lo ASC
    """, {"events": events}).collect()
    assert rows and all(r["nd"] > 0 for r in rows)
    import numpy as np
    vals = [r["value"] for r in events.filter(
        F.col("event_type") == rows[0]["lo"]).select("value").collect()]
    assert abs(rows[0]["md"] - float(np.percentile(vals, 50))) < 1e-9
    neg = esql(spark, """
        FROM events | EVAL nv = value - 100.0 | EVAL av = abs(nv) | LIMIT 5
    """, {"events": events}).collect()
    assert all(r["av"] == abs(r["nv"]) for r in neg)


def test_row_literal_source(spark):
    """ROW creates a one-row literal source usable as any pipeline head."""
    rows = esql(spark, """
        ROW a = 2, b = "x", c = 1.5
        | EVAL d = a * 3
        | KEEP a, b, c, d
    """, {}).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["a"], r["b"], r["c"], r["d"]) == (2, "x", 1.5, 6)
    with pytest.raises(EsqlError):
        esql(spark, "ROW = 1", {})


def test_keep_drop_wildcards_and_sort_nulls(spark, events):
    """KEEP/DROP expand * patterns against the current schema (first
    mention wins); SORT honors NULLS FIRST/LAST."""
    df = esql(spark, "FROM events | KEEP event_*, value | LIMIT 1",
              {"events": events})
    assert df.columns == ["event_id", "event_type", "value"]
    df2 = esql(spark, "FROM events | DROP event_* | LIMIT 1",
               {"events": events})
    assert "event_id" not in df2.columns and "event_type" not in df2.columns
    with pytest.raises(EsqlError):
        esql(spark, "FROM events | KEEP zz_*", {"events": events})
    # NULLS ordering over the null-filled FORK union
    rows = esql(spark, """
        FROM events
        | FORK (STATS a = sum(value) BY event_type)
               (STATS b = avg(value) BY event_type)
        | SORT a ASC NULLS FIRST, event_type ASC
        | LIMIT 5
    """, {"events": events}).collect()
    assert all(r["a"] is None for r in rows)  # fork2 rows (a null) lead
    last = esql(spark, """
        FROM events
        | FORK (STATS a = sum(value) BY event_type)
               (STATS b = avg(value) BY event_type)
        | SORT a ASC NULLS LAST, event_type ASC
        | LIMIT 5
    """, {"events": events}).collect()
    assert all(r["a"] is not None for r in last)


def test_bucket_case_to_long(spark):
    from fafnir_spark.esql import esql

    df = spark.createDataFrame(
        [(1, 12.7), (2, 61.2), (3, 49.9), (4, 50.0), (5, -3.9)],
        "id long, v double")
    out = esql(spark, """
FROM t
| EVAL sev = CASE(v >= 50.0, "hi", "lo")
| EVAL vl = to_long(v)
| STATS n = count(*), s = sum(vl) BY sev, b = BUCKET(v, 50.0)
| SORT sev ASC, b ASC
""", {"t": df}).collect()
    rows = [(r["sev"], r["b"], r["n"], r["s"]) for r in out]
    # to_long truncates toward zero (12.7->12, 49.9->49, -3.9->-3);
    # bucket = floor(v/50)*50 (-3.9 -> -50.0)
    assert rows == [("hi", 50.0, 2, 111), ("lo", -50.0, 1, -3),
                    ("lo", 0.0, 2, 61)]


def test_coalesce_fills_lookup_miss(spark):
    from fafnir_spark.esql import esql

    left = spark.createDataFrame([(1, "a"), (2, "b")], "id long, k string")
    lut = spark.createDataFrame([("a", 10.5)], "k string, w double")
    out = esql(spark, """
FROM t
| LOOKUP JOIN lut ON k
| EVAL w = COALESCE(w, 0.0)
| SORT id ASC
""", {"t": left, "lut": lut}).collect()
    assert [(r["id"], r["w"]) for r in out] == [(1, 10.5), (2, 0.0)]


def test_case_rejects_unparseable(spark):
    import pytest as _pytest

    from fafnir_spark.esql import EsqlError, esql

    df = spark.createDataFrame([(1.0,)], "v double")
    with _pytest.raises(EsqlError):
        esql(spark, 'FROM t | EVAL x = CASE(v)', {"t": df})
    with _pytest.raises(EsqlError):
        esql(spark, 'FROM t | STATS n = count(*) BY BUCKET(v)', {"t": df})


def test_terms_enum_prefix_sorted(spark):
    from fafnir_spark.query_ext import terms_enum

    docs = spark.createDataFrame(
        [(1, "spark slow sand"), (2, "spark zebra"), (3, "slow apple")],
        "doc_id long, text string")
    rows = [r["term"] for r in terms_enum(docs, "s", size=2).collect()]
    assert rows == ["sand", "slow"]  # ascending, size-capped


def test_string_funcs_roundtrip(spark):
    from fafnir_spark.esql import esql

    df = spark.createDataFrame([(1, "hello world", "en")],
                               "doc_id long, text string, lang string")
    out = esql(spark, """
FROM t
| EVAL a = CONCAT(lang, ", ", text)
| EVAL b = SUBSTRING(text, 7, 5)
| EVAL c = REPLACE(text, "l+", "L")
| EVAL d = LEFT(text, 5)
| EVAL e = RIGHT(text, 5)
| EVAL f = TRIM(d)
| KEEP a, b, c, d, e, f
""", {"t": df}).collect()[0]
    # CONCAT's literal "," separator must survive the arg split
    assert out["a"] == "en, hello world"
    assert out["b"] == "world"
    assert out["c"] == "heLo worLd"  # replace-ALL
    assert out["d"] == "hello" and out["e"] == "world" and out["f"] == "hello"


def test_fuse_requires_fork_columns(spark):
    import pytest as _pytest

    from fafnir_spark.esql import EsqlError, esql

    df = spark.createDataFrame([(1, 2.0)], "doc_id long, v double")
    with _pytest.raises(EsqlError, match="_fork"):
        esql(spark, "FROM t | FUSE 60", {"t": df})


def test_fuse_rrf_math(spark):
    from fafnir_spark.esql import esql

    # doc 1 is rank 1 in both branches; doc 2 rank 2 in fork1 only
    df = spark.createDataFrame(
        [(1, 9.0, "x"), (2, 5.0, "x"), (3, 1.0, "x")],
        "doc_id long, v double, lang string")
    out = esql(spark, """
FROM t
| FORK ( EVAL _score = v | SORT _score DESC, doc_id ASC | LIMIT 2 )
       ( WHERE doc_id == 1 | EVAL _score = v | LIMIT 2 )
| FUSE 60
""", {"t": df}).collect()
    got = {r["doc_id"]: r["_score"] for r in out}
    assert got[1] == round(1 / 61 + 1 / 61, 6)
    assert got[2] == round(1 / 62, 6)


def test_scripted_metric_rejects_non_associative(spark):
    import pytest as _pytest

    from fafnir_spark.search_api import RuntimeFieldError, scripted_metric

    df = spark.createDataFrame([(1.0, "a")], "value double, g string")
    with _pytest.raises(RuntimeFieldError, match="associative"):
        scripted_metric(df, "g", "value * 2", "median")
