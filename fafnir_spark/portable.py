"""Cross-engine deterministic hashing.

MinHash/SimHash/LSH need hash functions that are bit-identical in Spark and
in the DuckDB oracle. Spark's xxhash64/hash don't exist in DuckDB, but md5
does in both, so the engine's portable hash is the first 15 hex chars of md5
interpreted as a 60-bit integer:

  Spark : conv(substring(md5(x), 1, 15), 16, 10)::long
  DuckDB: CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT)

Verified equal on both engines (see tests/test_portable.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

HASH60_MAX = (1 << 60) - 1


def hash60(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def hash60_sql(expr: str) -> str:
    return f"CAST(concat('0x', substr(md5({expr}), 1, 15)) AS BIGINT)"


def seeded(col: Column | str, seed: int | Column) -> Column:
    """hash60 of 'seed:value' — a keyed hash family for MinHash bands etc."""
    c = F.col(col) if isinstance(col, str) else col
    s = F.lit(str(seed)) if isinstance(seed, int) else seed.cast("string")
    return hash60(F.concat_ws(":", s, c))


def seeded_sql(expr: str, seed: str) -> str:
    return hash60_sql(f"concat({seed}, ':', {expr})")


def _double_array_sql(vals: list[float]) -> str:
    """SQL array<double> literal of finite floats (typed when empty)."""
    if not vals:
        return "CAST(array() AS array<double>)"
    return "array(" + ",".join(repr(v) + "D" for v in vals) + ")"


def lit_doubles(values) -> Column:
    """double-array literal via ONE parsed SQL expression. Per-element
    F.lit builds pay a py4j round trip per element — measured 1.05s of
    driver time for the 8 PQ codebooks vs 0.022s parsed (round 6). repr()
    emits the shortest round-trip decimal and both Python and the JVM do
    correctly-rounded decimal→binary, so the literal is bit-identical to
    F.lit(float(x)) (pinned by a test incl. -0.0, 1e-17, 1e+305 and the
    smallest subnormal). Non-finite values fall back to the per-element
    build ('infD' does not parse)."""
    import math

    vals = [float(x) for x in values]
    if not all(math.isfinite(v) for v in vals):
        return F.array(*[F.lit(v) for v in vals])
    return F.expr(_double_array_sql(vals))


def lit_doubles_2d(rows) -> Column:
    """array<array<double>> literal, one parsed expression (see
    lit_doubles); typed array<array<double>> even when empty."""
    import math

    mat = [[float(x) for x in row] for row in rows]
    if not mat:
        return F.array().cast("array<array<double>>")
    if not all(math.isfinite(v) for row in mat for v in row):
        return F.array(*[lit_doubles(row) for row in mat])
    return F.expr("array(" + ",".join(_double_array_sql(row) for row in mat) + ")")


def empty_frame(spark: SparkSession, ddl: str) -> DataFrame:
    """An empty DataFrame of schema ``ddl`` (e.g. ``"rank int, doc_id
    long"``) that collects without a Spark job: a typed ``SELECT CAST(NULL
    AS ...) ... WHERE false``, which the optimizer folds to an empty
    LocalRelation. ``createDataFrame([], ddl)`` runs one job on every
    collect."""
    from pyspark.sql.types import _parse_datatype_string

    cols = ", ".join(f"CAST(NULL AS {f.dataType.simpleString()}) AS `{f.name}`"
                     for f in _parse_datatype_string(ddl).fields)
    return spark.sql(f"SELECT {cols} WHERE false")
