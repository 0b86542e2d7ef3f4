"""Elasticsearch SQL (the x-pack ``POST /_sql`` endpoint, public API):
a CLOSED subset of its SELECT dialect compiled onto DataFrame operators
(ref: ES sql-spec; fafnir's reference exposes search through structured
surfaces — this is the SQL face, sibling of esql.py's pipe language and
dsl.py's JSON body).

Grammar (anchored regexes — no eval, no passthrough of raw SQL to the
engine):

  SELECT <item, ...> FROM <ident>
  [WHERE <cond [AND cond]...>] [GROUP BY <col, ...>]
  [HAVING <agg-cond [AND ...]>] [ORDER BY <key [ASC|DESC], ...>]
  [LIMIT <n>]

items: col | agg(col|*) [AS alias]   aggs: count/sum/min/max/avg +
round(avg(col), n). Conditions: col <op> literal (=, !=, >, >=, <, <=),
col LIKE 'pat' (%/_), col IN (lit, ...), col IS [NOT] NULL.

Scale shape: WHERE compiles to pushdown-eligible predicates below the
one groupBy (map-side combined); HAVING filters the aggregated relation;
ORDER BY + LIMIT becomes TakeOrderedAndProject. The canonical rendering
(`to_canonical_sql`) re-emits the SAME parsed AST for the DuckDB oracle
— one AST, both engines (the kql/runtime_fields rule)."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .esql import _split_toplevel

_ID = r"[A-Za-z_][A-Za-z0-9_]*"
_NUM = r"-?\d+(?:\.\d+)?"
_STR = r"'(?:[^'\\]*)'"
_LIT = rf"(?:{_NUM}|{_STR})"
_AGGS = {"count": F.count, "sum": F.sum, "min": F.min, "max": F.max,
         "avg": F.avg}
_CMP = {"=": "__eq__", "!=": "__ne__", ">": "__gt__", ">=": "__ge__",
        "<": "__lt__", "<=": "__le__"}


class EsSqlError(ValueError):
    pass


def _lit(tok: str):
    tok = tok.strip()
    if tok.startswith("'"):
        return tok[1:-1]
    return float(tok) if "." in tok else int(tok)


def _lit_sql(tok: str) -> str:
    return tok.strip()


class _Item:
    """One SELECT item: (ZERO-ARG column thunk, canonical SQL, output
    name, is_aggregate). Columns are thunks — to_canonical_sql renders
    the oracle BEFORE any SparkSession exists (the runtime_fields
    column-thunk rule), so nothing here may touch F.* eagerly."""

    def __init__(self, col, sql: str, name: str, is_agg: bool):
        self.col, self.sql, self.name, self.is_agg = col, sql, name, is_agg


def _parse_item(s: str) -> _Item:
    s = s.strip()
    m = re.fullmatch(rf"({_ID})(?:\s+AS\s+({_ID}))?", s, re.IGNORECASE)
    if m:
        col, alias = m.groups()
        name = alias or col

        def plain(col=col, name=name):
            return F.col(col).alias(name)

        return _Item(plain, f"{col} AS {name}", name, False)
    m = re.fullmatch(
        rf"(count|sum|min|max|avg)\(\s*(\*|{_ID})\s*\)\s+AS\s+({_ID})",
        s, re.IGNORECASE)
    if m:
        fn, arg, alias = m.group(1).lower(), m.group(2), m.group(3)
        if arg == "*":
            if fn != "count":
                raise EsSqlError("only count(*) takes *")

            def star(alias=alias):
                return F.count(F.lit(1)).cast("long").alias(alias)

            return _Item(star, f"CAST(count(*) AS BIGINT) AS {alias}",
                         alias, True)
        sql = f"{fn}({arg})"
        if fn == "count":
            sql = f"CAST({sql} AS BIGINT)"
        elif fn == "sum":
            # integer sums: the driver value-hash diverges on DuckDB's
            # HUGEINT -> float; keep both engines in double via round-6
            sql = f"round(CAST({sql} AS DOUBLE), 6)"
        elif fn == "avg":
            sql = f"round({sql}, 6)"

        def agg(fn=fn, arg=arg, alias=alias):
            col = _AGGS[fn](F.col(arg))
            if fn == "count":
                col = col.cast("long")
            elif fn == "sum":
                col = F.round(col.cast("double"), 6)
            elif fn == "avg":
                col = F.round(col, 6)
            return col.alias(alias)

        return _Item(agg, f"{sql} AS {alias}", alias, True)
    m = re.fullmatch(
        rf"round\(\s*avg\(\s*({_ID})\s*\)\s*,\s*(\d+)\s*\)\s+AS\s+({_ID})",
        s, re.IGNORECASE)
    if m:
        arg, nd, alias = m.group(1), int(m.group(2)), m.group(3)

        def ravg(arg=arg, nd=nd, alias=alias):
            return F.round(F.avg(F.col(arg)), nd).alias(alias)

        return _Item(ravg, f"round(avg({arg}), {nd}) AS {alias}",
                     alias, True)
    raise EsSqlError(f"unsupported SELECT item: {s!r}")


def _parse_cond(s: str, agg_names: set[str] | None = None):
    """(ZERO-ARG predicate thunk, canonical SQL) — thunked for the same
    no-session reason as _Item. With agg_names set (HAVING), bare aliases
    of aggregate items are the only allowed columns."""
    s = s.strip()
    m = re.fullmatch(rf"({_ID})\s*(>=|<=|!=|=|>|<)\s*({_LIT})", s)
    if m:
        col, op, lit = m.groups()
        if agg_names is not None and col not in agg_names:
            raise EsSqlError(f"HAVING references non-aggregate {col!r}")

        def cmp_t(col=col, op=op, lit=lit):
            return getattr(F.col(col), _CMP[op])(F.lit(_lit(lit)))

        return (cmp_t, f"{col} {op} {_lit_sql(lit)}")
    m = re.fullmatch(rf"({_ID})\s+LIKE\s+({_STR})", s, re.IGNORECASE)
    if m:
        col, pat = m.groups()

        def like_t(col=col, pat=pat):
            return F.col(col).like(_lit(pat))

        return (like_t, f"{col} LIKE {pat}")
    m = re.fullmatch(rf"({_ID})\s+IN\s+\(\s*({_LIT}(?:\s*,\s*{_LIT})*)\s*\)",
                     s, re.IGNORECASE)
    if m:
        col, lits = m.groups()
        vals = [_lit(x) for x in re.findall(_LIT, lits)]
        sqls = ", ".join(_lit_sql(x) for x in re.findall(_LIT, lits))

        def in_t(col=col, vals=vals):
            return F.col(col).isin(vals)

        return (in_t, f"{col} IN ({sqls})")
    m = re.fullmatch(rf"({_ID})\s+IS\s+(NOT\s+)?NULL", s, re.IGNORECASE)
    if m:
        col, neg = m.groups()

        def null_t(col=col, neg=neg):
            return (F.col(col).isNotNull() if neg else F.col(col).isNull())

        return (null_t, f"{col} IS {'NOT ' if neg else ''}NULL")
    raise EsSqlError(f"unsupported condition: {s!r}")


_SHAPE = re.compile(
    r"^\s*SELECT\s+(?P<items>.+?)\s+FROM\s+(?P<table>[A-Za-z_][A-Za-z0-9_]*)"
    r"(?:\s+WHERE\s+(?P<where>.+?))?"
    r"(?:\s+GROUP\s+BY\s+(?P<group>.+?))?"
    r"(?:\s+HAVING\s+(?P<having>.+?))?"
    r"(?:\s+ORDER\s+BY\s+(?P<order>.+?))?"
    r"(?:\s+LIMIT\s+(?P<limit>\d+))?\s*$",
    re.IGNORECASE | re.DOTALL)


def _parse(query: str) -> dict:
    m = _SHAPE.match(query)
    if not m:
        raise EsSqlError(f"unsupported ES SQL shape: {query!r}")
    p = m.groupdict()
    items = [_parse_item(x) for x in _split_toplevel(p["items"])]
    group = ([c.strip() for c in p["group"].split(",")] if p["group"]
             else [])
    for g in group:
        if not re.fullmatch(_ID, g):
            raise EsSqlError(f"unsupported GROUP BY key: {g!r}")
    agg_names = {i.name for i in items if i.is_agg}
    plain = [i for i in items if not i.is_agg]
    if group:
        missing = [i.name for i in plain if i.sql.split(" AS ")[0] not in group]
        if missing:
            raise EsSqlError(f"non-grouped plain columns: {missing}")
    elif agg_names and plain:
        raise EsSqlError("mixing aggregates and plain columns needs GROUP BY")
    where = ([_parse_cond(c) for c in
              re.split(r"\s+AND\s+", p["where"], flags=re.IGNORECASE)]
             if p["where"] else [])
    having = ([_parse_cond(c, agg_names) for c in
               re.split(r"\s+AND\s+", p["having"], flags=re.IGNORECASE)]
              if p["having"] else [])
    order = []
    if p["order"]:
        out_names = {i.name for i in items}
        for part in p["order"].split(","):
            om = re.fullmatch(rf"\s*({_ID})(?:\s+(ASC|DESC))?\s*", part,
                              re.IGNORECASE)
            if not om or om.group(1) not in out_names:
                raise EsSqlError(f"unsupported ORDER BY key: {part!r}")
            order.append((om.group(1), (om.group(2) or "ASC").upper()))
    return {"items": items, "table": p["table"], "where": where,
            "group": group, "having": having, "order": order,
            "limit": int(p["limit"]) if p["limit"] else None}


def es_sql(df: DataFrame, query: str) -> DataFrame:
    """Execute one ES SQL statement over ``df`` (the FROM table)."""
    p = _parse(query)
    for cond, _ in p["where"]:
        df = df.filter(cond())
    items = p["items"]
    if p["group"]:
        aggs = [i.col() for i in items if i.is_agg]
        if not aggs:
            raise EsSqlError("GROUP BY without aggregates")
        df = df.groupBy(*p["group"]).agg(*aggs)
        df = df.select(*[F.col(i.name) if i.is_agg else i.col()
                         for i in items])
    elif any(i.is_agg for i in items):
        df = df.agg(*[i.col() for i in items])
    else:
        df = df.select(*[i.col() for i in items])
    for cond, _ in p["having"]:
        df = df.filter(cond())
    if p["order"]:
        df = df.orderBy(*[F.col(c).asc() if d == "ASC" else F.col(c).desc()
                          for c, d in p["order"]])
    if p["limit"] is not None:
        df = df.limit(p["limit"])
    return df


def to_canonical_sql(query: str) -> str:
    """Re-render the parsed AST as the DuckDB oracle statement — the
    validation AND the mirror come from the same parse (one-AST rule)."""
    p = _parse(query)
    sql = "SELECT " + ", ".join(i.sql for i in p["items"])
    sql += f" FROM {p['table']}"
    if p["where"]:
        sql += " WHERE " + " AND ".join(s for _, s in p["where"])
    if p["group"]:
        sql += " GROUP BY " + ", ".join(p["group"])
    if p["having"]:
        sql += " HAVING " + " AND ".join(s for _, s in p["having"])
    if p["order"]:
        sql += " ORDER BY " + ", ".join(f"{c} {d}" for c, d in p["order"])
    if p["limit"] is not None:
        sql += f" LIMIT {p['limit']}"
    return sql
