"""The fafnir document pipeline, operator by operator, as DataFrame plans.

This module re-expresses the reference's enrichment pipeline (SURVEY.md §2
rows not already embodied by the index engine) over the driver's testdata
tables, each with an exact DuckDB oracle (oracles_pipeline.py). Citations
are into /root/reference.

  S2   multi-source UNION ALL         union_corpora
  P3/P4 static filter + searchability route_by_searchability
        (pois.rs:106-107 blocklist; openmaptiles2mimir.rs:113-137 routing)
  P6   tag→property map normalization properties_rows
        (pois.rs:242-246,276-289)
  P8-10 i18n names + localized fill   i18n_labels
        (pois.rs:291-311, 198-224; convert.rs:251-265)
  P13  id namespacing                 namespaced_ids
        (functions.sql:5-27 global_id_from_imposm)
  P14  class canonicalization + rank  event_class
        (functions.sql:35-106 poi_class / poi_class_rank)
  J1   broadcast dimension join       customers_per_region
        (mimir.rs:30-38 AdminGeoFinder broadcast; geo → star-schema dims)
  J2/T1 nearest-within-radius top-1   nearest_zone
        (addresses.rs:80-123: geo_distance <= 500m, sort asc, take first)
  J5   semi-join existence filter     docs_with_events
        (tripadvisor2mimir.rs:67,83,111,146 indexed-id HashSet)
  A1   error-type aggregation         event_error_counts
        (tripadvisor2mimir.rs:71-93 count_errors HashMap)
  A4/T3 first-match / preference      best_doc_per_lang, preferred_url
        (photos/convert.rs:9-25; addresses.rs:131-145 min-by)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# static "zone" dimension shared with the oracle — the admin-polygon stand-in
ZONES = [
    # (zone_id, zone_name, lo, hi, center)
    (0, "frigid", 0.0, 50.0, 25.0),
    (1, "cool", 50.0, 120.0, 85.0),
    (2, "warm", 120.0, 200.0, 160.0),
    (3, "hot", 200.0, 1e9, 230.0),
]
NEAREST_RADIUS = 40.0

# P14: the poi_class CASE-chain analog for event types
EVENT_CLASS = {
    "click": ("interaction", 1),
    "view": ("interaction", 2),
    "purchase": ("commerce", 0),
    "signup": ("lifecycle", 0),
    "error": ("fault", 9),
}


def union_corpora(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: heterogeneous sources normalized into one corpus relation
    (fafnir unions 6 table subqueries, postgres.rs:4-39,78-83)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.concat(F.lit("doc:"), F.col("doc_id")).alias("id"),
        F.col("text").alias("body"),
        F.lit("documents").alias("src_table"),
    )
    events = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.concat(F.lit("evt:"), F.col("event_id")).alias("id"),
        F.col("props").alias("body"),
        F.lit("events").alias("src_table"),
    )
    return docs.unionByName(events)


def route_by_searchability(docs: DataFrame) -> DataFrame:
    """P4 + S8 routing: is_searchable = non-empty body AND (lang, source)
    not in the static blocklist; count per route (the two ES containers)."""
    blocklist = [("en", "src0"), ("en", "src13")]
    blocked = F.struct(F.col("lang"), F.col("source")).isin(
        [F.struct(F.lit(a), F.lit(b)) for a, b in blocklist]
    )
    routed = docs.withColumn(
        "is_searchable", (F.col("n_chars") > 0) & ~blocked
    )
    return routed.groupBy("is_searchable").agg(
        F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_doc_id")
    )


def properties_rows(docs: DataFrame) -> DataFrame:
    """P6: per-doc ordered property map (defaults filled, engine keys
    injected), exploded to rows for oracle comparison."""
    props = F.map_from_arrays(
        F.array(F.lit("doc_lang"), F.lit("doc_source"), F.lit("engine")),
        F.array(F.coalesce(F.col("lang"), F.lit("")),
                F.coalesce(F.col("source"), F.lit("")),
                F.lit("fafnir_spark")),
    )
    return (
        docs.select("doc_id", F.explode(props).alias("key", "value"))
        .orderBy("doc_id", "key")
    )


def i18n_labels(docs: DataFrame) -> DataFrame:
    """P8-P10: i18n label array + localized resolution.

    names = [(lang, text-prefix)], label_local = first of (requested lang,
    'en', any) — get_local_string's coalesce chain (convert.rs:251-265)."""
    prefix = F.substring(F.col("text"), 1, 16)
    names = F.array(
        F.struct(F.col("lang").alias("key"), prefix.alias("value")),
        F.struct(F.lit("x-default").alias("key"), prefix.alias("value")),
    )
    label_local = F.coalesce(
        F.element_at(F.map_from_entries(names), F.lit("en")),
        F.element_at(F.map_from_entries(names), F.lit("x-default")),
    )
    return docs.select(
        "doc_id",
        F.size(names).alias("n_names"),
        label_local.alias("label_local"),
    )


def namespaced_ids(docs: DataFrame) -> DataFrame:
    """P13: namespaced global ids — global_id_from_imposm's sign/parity
    decode (functions.sql:5-27): even→'node', odd→'way'."""
    kind = F.when(F.col("doc_id") % 2 == 0, F.lit("node")).otherwise(F.lit("way"))
    return docs.select(
        "doc_id",
        F.concat(F.lit("corpus:"), kind, F.lit(":"), F.col("doc_id")).alias("global_id"),
    )


def event_class(events: DataFrame) -> DataFrame:
    """P14: class canonicalization CASE chain + rank."""
    cls = F.lit(None).cast("string")
    rank = F.lit(None).cast("int")
    expr_cls = None
    expr_rank = None
    for et, (c, r) in EVENT_CLASS.items():
        if expr_cls is None:
            expr_cls = F.when(F.col("event_type") == et, F.lit(c))
            expr_rank = F.when(F.col("event_type") == et, F.lit(r))
        else:
            expr_cls = expr_cls.when(F.col("event_type") == et, F.lit(c))
            expr_rank = expr_rank.when(F.col("event_type") == et, F.lit(r))
    expr_cls = expr_cls.otherwise(F.lit("other"))
    expr_rank = expr_rank.otherwise(F.lit(99))
    return (
        events.select("event_type", expr_cls.alias("event_class"), expr_rank.alias("class_rank"))
        .groupBy("event_type", "event_class", "class_rank")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def customers_per_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: broadcast dimension join chain (customer→nation→region), the
    AdminGeoFinder broadcast analog — both dims are broadcast, the fact
    table never shuffles for the join."""
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    return (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(F.count(F.lit(1)).alias("n_customers"),
             F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"))
    )


def zone_lookup(spark: SparkSession, events: DataFrame) -> DataFrame:
    """J1 (range form): point-in-interval broadcast join — the literal
    point-in-polygon analog: value ∈ [lo, hi) → zone."""
    zones = spark.createDataFrame(ZONES, "zone_id int, zone_name string, lo double, hi double, center double")
    return (
        events.join(
            F.broadcast(zones),
            (events.value >= zones.lo) & (events.value < zones.hi),
        )
        .groupBy("zone_name")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def nearest_zone(spark: SparkSession, events: DataFrame) -> DataFrame:
    """J2/T1: per-event nearest zone center within NEAREST_RADIUS, top-1 by
    (distance asc, zone_id asc) — get_addr_from_coords (addresses.rs:80-123).
    Returns (event_id, zone_id, dist)."""
    zones = spark.createDataFrame(ZONES, "zone_id int, zone_name string, lo double, hi double, center double")
    raw_dist = F.abs(events.value - zones.center)
    w = Window.partitionBy("event_id").orderBy(F.col("dist").asc(), F.col("zone_id").asc())
    return (
        events.join(F.broadcast(zones), raw_dist <= NEAREST_RADIUS)
        .select("event_id", "zone_id", F.round(raw_dist, 6).alias("dist"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def docs_with_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: left-semi existence filter — docs whose doc_id appears as a
    user_id in events (the indexed-ids HashSet semi-join)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        docs.join(events.select(F.col("user_id").alias("doc_id")), "doc_id", "left_semi")
        .select("doc_id")
        .orderBy("doc_id")
    )


def event_error_counts(events: DataFrame) -> DataFrame:
    """A1: per-error-type counters with ok/error split (count_errors
    HashMap + count_ok scalar)."""
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 6).alias("avg_value"),
    )


def events_tumbling_window(events: DataFrame) -> DataFrame:
    """Event-time tumbling window (1h) aggregation — the engine's windowed
    analytics over the events stream table (Structured-Streaming-shaped:
    the same expression runs under readStream + watermark; batch here since
    the reference is batch, SURVEY §2.8)."""
    w = F.window("ts", "1 hour")
    return (
        events.groupBy(w.alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type", "n", "sum_value",
        )
    )


def events_sliding_window(events: DataFrame) -> DataFrame:
    """Sliding window (1h every 30m): each event lands in 2 windows."""
    w = F.window("ts", "1 hour", "30 minutes")
    return (
        events.groupBy(w.alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n",
        )
    )


def best_doc_per_lang(docs: DataFrame) -> DataFrame:
    """A4: first-match/min-by reductions — per (lang, source) the doc with
    max n_chars (ties: min doc_id). Sort-free: groupBy + max_by (ordering
    key (n_chars, −doc_id) unique per row → deterministic), so the
    map-side partial aggregate collapses each group to one row per scan
    partition instead of sorting the corpus per group under a window."""
    best = docs.groupBy("lang", "source").agg(
        F.max_by(
            F.struct(F.col("doc_id"), F.col("n_chars")),
            F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("__nd")),
        ).alias("__b")
    )
    return best.select(
        "lang", "source",
        F.col("__b.doc_id").alias("best_doc"),
        F.col("__b.n_chars").alias("n_chars"),
    )


def preferred_url(docs: DataFrame) -> DataFrame:
    """T3: preference-order coalesce — photo URL original > standard >
    thumb (photos/convert.rs:10-16), variants derived deterministically."""
    original = F.when(F.col("doc_id") % 3 == 0, F.concat(F.lit("orig/"), F.col("doc_id")))
    standard = F.when(F.col("doc_id") % 2 == 0, F.concat(F.lit("std/"), F.col("doc_id")))
    thumb = F.concat(F.lit("thumb/"), F.col("doc_id"))
    return docs.select("doc_id", F.coalesce(original, standard, thumb).alias("url"))


# P9: ISO-3166 country → official language codes (the reference fills
# missing per-language labels from this table: src/langs.rs:5-59, applied in
# pois.rs:198-224; facts per the Wikipedia source the reference cites —
# note 'SI' for Slovenia, the correct ISO code).
COUNTRY_LANGS: dict[str, list[str]] = {
    "AT": ["de"], "AU": ["en"], "BE": ["fr", "de", "nl"], "BG": ["bg"],
    "BR": ["pt"], "BY": ["be", "ru"], "CA": ["en", "fr"], "CH": ["de", "fr", "it", "rm"],
    "CN": ["zh"], "CZ": ["cs"], "DE": ["de"], "DK": ["da"], "EE": ["et"],
    "ES": ["es"], "FR": ["fr"], "GB": ["en"], "GR": ["el"], "HR": ["hr"],
    "IE": ["ga", "en"], "IT": ["it"], "JP": ["ja"], "KR": ["ko"], "LT": ["lt"],
    "LU": ["lb", "fr", "de"], "LV": ["lv"], "MD": ["ro"], "MK": ["mk", "sq"],
    "MX": ["es"], "NL": ["nl"], "NO": ["no"], "NZ": ["en", "mi"], "PL": ["pl"],
    "PT": ["pt"], "RO": ["ro"], "RS": ["sr"], "RU": ["ru"], "SE": ["sv"],
    "SG": ["en", "ms", "ta"], "SI": ["sl"], "SK": ["sk"], "TH": ["th"],
    "TN": ["ar"], "TR": ["tr"], "UA": ["uk"], "US": ["en"], "UY": ["es"],
    "UZ": ["uz"], "VE": ["es"], "VN": ["vi"],
}


def lang_fill_in(docs: DataFrame) -> DataFrame:
    """P9: language fill-in by country — for every official language of a
    doc's country, emit a filled-in label row unless the doc already has
    that language (pois.rs:198-224 appends name:<lang> labels it lacks).

    The table enters the plan as a literal map (broadcast-free constant
    folding); the fixture has no country column, so country is derived
    deterministically from doc_id (pmod against the sorted country list)
    — same derivation in the oracle."""
    countries = sorted(COUNTRY_LANGS)
    ckeys = F.array(*[F.lit(c) for c in countries])
    country = F.element_at(
        ckeys, (F.pmod(F.col("doc_id"), F.lit(len(countries))) + 1).cast("int")
    )
    lmap = F.map_from_arrays(
        F.array(*[F.lit(c) for c in countries]),
        F.array(*[F.array(*[F.lit(lg) for lg in COUNTRY_LANGS[c]]) for c in countries]),
    )
    out = docs.select(
        "doc_id", "lang",
        country.alias("country"),
        F.explode(F.element_at(lmap, country)).alias("fill_lang"),
        F.substring("text", 1, 16).alias("label"),
    )
    return (
        out.filter(F.col("fill_lang") != F.col("lang"))
        .select("doc_id", "country", "fill_lang", "label")
    )


# countries whose postal convention puts the street BEFORE the house
# number ("rue bob 12"); everything else is number-first ("12 rue bob").
# Drawn from the public address-format templates the reference's label
# formatter applies per country.
ADDR_STREET_FIRST: frozenset[str] = frozenset({
    "AT", "BE", "BG", "BR", "BY", "CH", "CN", "CZ", "DE", "DK", "EE", "ES",
    "GR", "HR", "IT", "LT", "LU", "LV", "MD", "MK", "MX", "NL", "NO", "PL",
    "PT", "RO", "RS", "RU", "SE", "SI", "SK", "TR", "UA", "UY", "UZ", "VE",
    "VN",
})


def address_labels(docs: DataFrame) -> DataFrame:
    """Country-order address label formatting — the format_poi_label
    analog: the same components render "12 rue bob" in FR but "rue bob 12"
    in DE (/root/reference tests/openmaptiles2mimir/mod.rs:461-498 golden;
    call site src/sources/openmaptiles/pois.rs:183-187). Component order is
    a per-country template applied as pure expressions; country derivation
    and the street-first set are shared constants templated into both
    engines. (doc_id, country, addr_label)."""
    countries = sorted(COUNTRY_LANGS)
    country = F.element_at(
        F.array(*[F.lit(c) for c in countries]),
        (F.pmod(F.col("doc_id"), F.lit(len(countries))) + 1).cast("int"),
    )
    num = (F.pmod(F.col("doc_id"), F.lit(200)) + 1).cast("string")
    street = F.concat(F.lit("rue "), F.col("source"))
    label = F.when(
        country.isin(sorted(ADDR_STREET_FIRST)), F.concat_ws(" ", street, num)
    ).otherwise(F.concat_ws(" ", num, street))
    return docs.select(
        "doc_id", country.alias("country"), label.alias("addr_label")
    ).orderBy("doc_id")


def all_entities(spark: SparkSession, sf_dir: str, min_size: int = 150) -> DataFrame:
    """S4: the in-DB table function analog of all_pois(zoom_level) — a
    UNION ALL **view** over heterogeneous tables with a filter parameter
    (/root/reference tests/openmaptiles2mimir/data/functions.sql:160-228).

    Spark-first idiom: register the union as a TEMP VIEW, parameterize with
    WHERE — Catalyst pushes the predicate and the column pruning into BOTH
    union branches down to the parquet scans (asserted in tests)."""
    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView("v_documents")
    spark.read.parquet(f"{sf_dir}/events.parquet").createOrReplaceTempView("v_events")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY VIEW all_entities AS
        SELECT doc_id AS id, 'doc' AS kind, n_chars AS size FROM v_documents
        UNION ALL
        SELECT event_id AS id, 'event' AS kind, CAST(floor(value) AS BIGINT) AS size
        FROM v_events
        """
    )
    return spark.sql(
        f"""
        SELECT kind, count(*) AS n, min(id) AS min_id, max(size) AS max_size
        FROM all_entities WHERE size >= {min_size} GROUP BY kind ORDER BY kind
        """
    )


DAY_NAMES = ["Monday", "Tuesday", "Wednesday", "Thursday", "Friday", "Saturday", "Sunday"]


def opening_hours_fold(docs: DataFrame) -> DataFrame:
    """P12: nested Day[]/Time[] → "Mo 11:00-19:00,21:00-01:00; Tu ..."
    (/root/reference src/sources/tripadvisor/pois/convert.rs:170-187:
    filter_map over days with null times, per-day times joined by ',',
    days joined by '; ', day name truncated to 2 chars).

    The fixture has no nested hours column, so the nested structure is
    synthesized deterministically from doc_id (1-4 days; a day's times are
    NULL when (doc_id+i)%5==0, two time ranges when %3==0, else one) —
    the SAME derivation runs in the DuckDB oracle, and the fold itself is
    pure transform/filter/array_join (the reference's iterator chain,
    Spark-native)."""
    d = F.col("doc_id")
    days_arr = F.array(*[F.lit(x) for x in DAY_NAMES])

    def hh(h: F.Column) -> F.Column:
        return F.concat(F.lpad(h.cast("string"), 2, "0"), F.lit(":00"))

    def time_struct(base: F.Column, off_open: int, off_close: int) -> F.Column:
        return F.struct(
            hh(F.pmod(base + off_open, F.lit(24))).alias("open"),
            hh(F.pmod(base + off_close, F.lit(24))).alias("close"),
        )

    def day_struct(i: F.Column) -> F.Column:
        base = d + i
        t1 = time_struct(base, 0, 8)
        t2 = time_struct(base, 10, 14)
        times = (
            F.when(F.pmod(base, F.lit(5)) == 0,
                   F.lit(None).cast("array<struct<open:string,close:string>>"))
            .when(F.pmod(base, F.lit(3)) == 0, F.array(t1, t2))
            .otherwise(F.array(t1))
        )
        return F.struct(
            F.element_at(days_arr, (F.pmod(base, F.lit(7)) + 1).cast("int")).alias("day_name"),
            times.alias("times"),
        )

    days = F.transform(F.sequence(F.lit(0), F.pmod(d, F.lit(4)).cast("int")), day_struct)
    folded = F.array_join(
        F.transform(
            F.filter(days, lambda x: x.getField("times").isNotNull()),
            lambda x: F.concat(
                F.substring(x.getField("day_name"), 1, 2),
                F.lit(" "),
                F.array_join(
                    F.transform(
                        x.getField("times"),
                        lambda t: F.concat(t.getField("open"), F.lit("-"), t.getField("close")),
                    ),
                    ",",
                ),
            ),
        ),
        "; ",
    )
    return docs.select("doc_id", folded.alias("opening_hours"))


def user_sessions(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessionization (the batch dual of streaming session
    windows): consecutive events of a user belong to one session until a
    silence longer than ``gap_minutes``. Classic island detection — lag →
    new-session marker → running sum — all window functions partitioned by
    user (parallel across users, no global window).
    (user_id, session_no, n_events, session_start, duration_us)."""
    gap_us = gap_minutes * 60 * 1_000_000
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    # tz-free epoch micros: ts is TIMESTAMP_NTZ, so diff against the naive
    # epoch (unix_micros would force a session-timezone interpretation)
    us = F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
    prev = F.lag(us).over(w)
    marked = events.select("user_id", "event_id", "ts", us.alias("us")).withColumn(
        "is_new", (prev.isNull() | (us - prev > gap_us)).cast("int")
    )
    sess = marked.withColumn(
        "session_no",
        F.sum("is_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).cast("int"),
    )
    return (
        sess.groupBy("user_id", "session_no")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            (F.max("us") - F.min("us")).alias("duration_us"),
        )
        .orderBy("user_id", "session_no")
    )


def event_value_percentiles(events: DataFrame) -> DataFrame:
    """Exact interpolated percentiles per event type (Spark `percentile` ==
    DuckDB `quantile_cont`, both linear interpolation). At 100 TB swap for
    approx_percentile and a tolerance oracle; here exactness is the point.
    (event_type, p50, p95)."""
    return (
        events.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
        )
        .orderBy("event_type")
    )


def event_value_histogram(events, width: float = 5.0):
    """ES histogram aggregation over a numeric field: fixed-width buckets
    keyed by floor(value/width)*width, with count and sum per bucket.
    One groupBy with map-side combine — the scale shape is the same at any
    corpus size (bucket cardinality, not row count, bounds the shuffle)."""
    from pyspark.sql import functions as F

    bucket = F.floor(F.col("value") / F.lit(width)) * F.lit(width)
    return (
        events.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .orderBy("bucket")
    )


def session_window_agg(events, gap: str = "2 hours"):
    """Native session windows (Spark session_window): per-user sessions
    that merge events closer than ``gap``; a session ends gap after its
    last event. The SAME aggregation runs under Structured Streaming
    (streaming.stream_session_counts) — this batch form is the oracle
    anchor. (session_start, session_end, user_id, n, sum_value)."""
    from pyspark.sql import functions as F

    return (
        events.groupBy(
            F.session_window(F.col("ts"), gap).alias("w"), F.col("user_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_end"),
            "user_id", "n", "sum_value",
        )
        .orderBy("user_id", "session_start")
    )


def facet_cardinality(events):
    """ES cardinality aggregation (exact): distinct users and event count
    per event_type. Exact count_distinct shuffles (event_type, user_id)
    pairs; at 100 TB swap in approx_count_distinct (HLL, the ES default)
    — exact here because the DuckDB oracle must hash-match."""
    from pyspark.sql import functions as F

    return (
        events.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct(F.col("user_id")).alias("n_users"),
        )
        .orderBy("event_type")
    )


def composite_agg(
    events: DataFrame,
    size: int = 20,
    after: tuple[str, int] | None = None,
) -> DataFrame:
    """ES composite aggregation: group pages in deterministic composite-key
    order (event_type asc, user_id asc) with after-key keyset pagination —
    ``after`` (exclusive) resumes where the previous page stopped, so deep
    group pagination never recomputes or materializes earlier pages.

    Scale shape: the after-key predicate filters BEFORE the key-ordered
    limit, which compiles to TakeOrderedAndProject (ascending heaps) — the
    grouped relation is never globally sorted. (event_type, user_id, n,
    sum_value)."""
    g = events.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("sum_value")
    )
    if after is not None:
        et, uid = after
        g = g.filter(
            (F.col("event_type") > F.lit(et))
            | ((F.col("event_type") == F.lit(et)) & (F.col("user_id") > F.lit(uid)))
        )
    return (
        g.orderBy(F.col("event_type").asc(), F.col("user_id").asc())
        .limit(size)
        .orderBy("event_type", "user_id")
    )


def event_rollup(events: DataFrame) -> DataFrame:
    """OLAP ROLLUP over (event_type, day): subtotals per type, per
    type+day, and the grand total in ONE pass (Spark rollup == partial
    aggregation reused across grouping sets — no per-level rescan).
    NULL grouping slots are labeled '(all)' so both engines order rows
    identically. (event_type, day, n, sum_value)."""
    day = F.date_format(F.col("ts"), "yyyy-MM-dd")
    return (
        events.select(F.col("event_type"), day.alias("day"), F.col("value"))
        .rollup("event_type", "day")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(
            F.coalesce(F.col("event_type"), F.lit("(all)")).alias("event_type"),
            F.coalesce(F.col("day"), F.lit("(all)")).alias("day"),
            "n", "sum_value",
        )
        .orderBy("event_type", "day")
    )


def event_pipeline_aggs(events: DataFrame, mov_window: int = 3) -> DataFrame:
    """ES date_histogram + pipeline aggregations in one plan: per-day
    buckets (count, rounded sum) with derivative, cumulative_sum and a
    moving average (window ``mov_window``) computed over the ORDERED
    bucket relation — the monitoring/trend primitive (ES derivative /
    cumulative_sum / moving_fn pipeline aggs).

    Scale shape: the raw pass is ONE groupBy with map-side combine; every
    window then runs over the bucket relation only (rows == distinct days,
    bounded by the time range, never by event count). Pipeline ops read the
    ROUNDED per-bucket sum so both engines chain from identical values.
    (day, n, sum_value, derivative, cum_sum, mov_avg)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    buckets = (
        events.groupBy(F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )
    w = Window.orderBy("day")
    return (
        buckets.withColumn(
            "derivative",
            # first bucket has no predecessor: pinned to 0.0 (NULL would
            # round-trip as NaN from the DuckDB oracle fetch)
            F.coalesce(
                F.round(F.col("sum_value") - F.lag("sum_value").over(w), 6), F.lit(0.0)
            ),
        )
        .withColumn(
            "cum_sum",
            F.round(F.sum("sum_value").over(w.rowsBetween(Window.unboundedPreceding, 0)), 6),
        )
        .withColumn(
            "mov_avg",
            F.round(F.avg("sum_value").over(w.rowsBetween(-(mov_window - 1), 0)), 6),
        )
        .orderBy("day")
    )


def moving_ewma(events: DataFrame) -> DataFrame:
    """ES moving_fn with MovingFunctions.ewma over per-day bucket sums:
    exponentially-weighted moving average seeded with the FIRST bucket,
    then acc = 0.5*acc + 0.5*x per step (alpha fixed DYADIC at 0.5 — a
    fractional alpha would accumulate libm drift cross-engine; 0.5 keeps
    every step an exact halving + IEEE add, so the fold is bit-identical
    in both engines). The fold runs left-to-right over the ordered prefix
    (the PQ fixed-order-sum rule); DuckDB's list_reduce has exactly the
    seed-with-first semantics mirrored here with element_at + slice.

    Scale shape: one map-side-combined groupBy to buckets; the window and
    fold run over the bucket relation only (rows == distinct days).
    (day, sum_value, ewma) ordered by day."""
    from pyspark.sql import functions as F

    buckets = (
        events.groupBy(F.date_format(F.date_trunc("day", F.col("ts")),
                                     "yyyy-MM-dd").alias("day"))
        .agg(F.round(F.sum("value"), 6).alias("sum_value"))
    )
    return ewma_from_buckets(buckets)


def ewma_from_buckets(buckets: DataFrame) -> DataFrame:
    """The EWMA fold tail over a (day, sum_value) bucket relation —
    SHARED by moving_ewma and streaming.stream_moving_ewma (the
    change_point_from_buckets rule: stream == batch by construction
    because both run THIS code over the same folded buckets)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    w = (Window.orderBy("day")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (buckets
            .withColumn("__vals", F.collect_list("sum_value").over(w))
            .withColumn("ewma", F.round(F.expr(
                "aggregate(slice(__vals, 2, size(__vals)), "
                "element_at(__vals, 1), "
                "(a, x) -> a * 0.5D + x * 0.5D)"), 6))
            .select("day", "sum_value", "ewma")
            .orderBy("day"))


def adjacency_matrix(docs: DataFrame, filters: dict[str, str],
                     text_col: str = "text") -> DataFrame:
    """ES adjacency_matrix aggregation: named term filters → doc counts for
    every filter and every pairwise intersection ("A&B", ES's key form).
    ONE corpus pass: per-doc row-local boolean flags (array_contains on the
    token split), then a single aggregate of conditional counts — never a
    filter×filter self-join. (key, doc_count), ordered by key."""
    from pyspark.sql import functions as F

    from .tokenizer import tokens_expr

    keys = sorted(filters)
    flags = docs.select(
        *[F.array_contains(tokens_expr(text_col), filters[k]).alias(k) for k in keys]
    )
    aggs = [F.sum(F.when(F.col(k), 1).otherwise(0)).alias(k) for k in keys]
    aggs += [
        F.sum(F.when(F.col(a) & F.col(b), 1).otherwise(0)).alias(f"{a}&{b}")
        for i, a in enumerate(keys) for b in keys[i + 1:]
    ]
    wide = flags.agg(*aggs)
    pairs = list(wide.columns)
    return (
        wide.select(F.inline(F.arrays_zip(
            F.array(*[F.lit(c) for c in pairs]),
            F.array(*[F.col(f"`{c}`").cast("long") for c in pairs]),
        )))
        .toDF("key", "doc_count")
        .orderBy("key")
    )


def rare_terms(docs: DataFrame, max_df: int = 3, text_col: str = "text") -> DataFrame:
    """ES rare_terms aggregation: the long tail — vocabulary terms whose
    document frequency is at most ``max_df``, ordered (df asc, term asc).
    One tf pass + one bounded dictionary agg. (term, df)."""
    from .query import doc_term_freqs

    from pyspark.sql import functions as F

    tf = doc_term_freqs(docs, "doc_id", text_col)
    return (
        tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
        .filter(F.col("df") <= max_df)
        .orderBy("df", "term")
    )


def token_string_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """ES string_stats aggregation over the analyzed field: doc count,
    min/max/avg token length (dl) and the Shannon entropy (log2) of the
    corpus term distribution — a one-row corpus fingerprint used for
    drift monitoring. Two bounded aggregates (per-doc dl, per-term cf);
    the entropy sum runs over the vocabulary, never the corpus."""
    from pyspark.sql import functions as F

    from .query import doc_term_freqs

    tf = doc_term_freqs(docs, "doc_id", text_col)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    lens = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("dl").alias("min_len"),
        F.max("dl").alias("max_len"),
        F.round(F.avg("dl"), 6).alias("avg_len"),
    )
    cf = tf.groupBy("term").agg(F.sum("tf").alias("cf"))
    total = cf.agg(F.sum("cf").alias("total"))
    ent = (
        cf.crossJoin(F.broadcast(total))
        .select((F.col("cf") / F.col("total")).alias("p"))
        .agg(F.round(-F.sum(F.col("p") * F.log2("p")), 6).alias("entropy"))
    )
    return lens.crossJoin(ent)


def numeric_matrix_stats(df: DataFrame, cols: list[str]) -> DataFrame:
    """ES matrix_stats aggregation: pairwise population covariance and
    correlation over numeric fields, computed from explicit raw sums
    (n, Σx, Σy, Σxy, Σx², Σy²) so both engines evaluate the IDENTICAL
    closed-form formula — built-in covar_pop/corr implementations use
    different co-moment recurrences per engine and would drift.

    ONE pass: a single aggregate emits every raw sum; the pairwise math is
    driver-free column arithmetic on the 1-row result. (col_a, col_b,
    covariance, correlation), ordered."""
    from pyspark.sql import functions as F

    cols = sorted(cols)
    aggs = [F.count(F.lit(1)).cast("double").alias("n")]
    for c in cols:
        aggs.append(F.sum(F.col(c).cast("double")).alias(f"s_{c}"))
        aggs.append(F.sum((F.col(c) * F.col(c)).cast("double")).alias(f"ss_{c}"))
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            aggs.append(F.sum((F.col(a) * F.col(b)).cast("double")).alias(f"sp_{a}_{b}"))
    wide = df.agg(*aggs)
    rows = None
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            n, sa, sb = F.col("n"), F.col(f"s_{a}"), F.col(f"s_{b}")
            sp, ssa, ssb = F.col(f"sp_{a}_{b}"), F.col(f"ss_{a}"), F.col(f"ss_{b}")
            cov = (sp - sa * sb / n) / n
            corr = (n * sp - sa * sb) / (
                F.sqrt(n * ssa - sa * sa) * F.sqrt(n * ssb - sb * sb)
            )
            row = wide.select(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                F.round(cov, 6).alias("covariance"),
                F.round(corr, 6).alias("correlation"),
            )
            rows = row if rows is None else rows.unionAll(row)
    return rows.orderBy("col_a", "col_b")


def has_child_topk(docs: DataFrame, events: DataFrame, child_type: str = "error",
                   score_mode: str = "sum", k: int = 10) -> DataFrame:
    """ES has_child query (join field): parent docs ranked by their
    matching child events, score_mode sum|max|avg|count of the child
    value. The parent/child relation is doc_id == user_id (the same join
    the reference's indexed-id membership check drives,
    tripadvisor2mimir.rs:67-146).

    Scale shape: children aggregate FIRST (one groupBy with map-side
    combine, cardinality = parents-with-children), then one join against
    the parent ids — never parent×child row expansion before the agg.
    (rank, doc_id, score, n_children)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    score = {
        "sum": F.round(F.sum("value"), 6),
        "max": F.round(F.max("value"), 6),
        "avg": F.round(F.avg("value"), 6),
        "count": F.count(F.lit(1)).cast("double"),
    }[score_mode]
    child = (
        events.filter(F.col("event_type") == child_type)
        .groupBy(F.col("user_id").alias("doc_id"))
        .agg(score.alias("score"), F.count(F.lit(1)).cast("long").alias("n_children"))
    )
    joined = child.join(docs.select("doc_id"), "doc_id")
    top = joined.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)
    w = F.row_number().over(Window.orderBy(F.col("score").desc(), F.col("doc_id").asc()))
    return (
        top.withColumn("rank", w)
        .select("rank", "doc_id", "score", "n_children")
        .orderBy("rank")
    )


def children_agg(docs: DataFrame, events: DataFrame, parent_field: str = "lang",
                 child_type: str = "error") -> DataFrame:
    """ES `children` aggregation (join field): parents bucketed by a
    parent field, then the agg DESCENDS to each bucket's child documents
    — bucket doc counts on both levels plus a child metric
    (terms(parent_field) > children > avg(value), the canonical shape).
    Parent/child relation is doc_id == user_id (the has_child join).

    Scale shape: children aggregate per-parent FIRST (one groupBy with
    map-side combine — cardinality = parents-with-children, never a
    parent×child row expansion), then ONE left join onto the parent
    relation and a second mergeable roll-up to buckets; the bucket avg is
    derived sum/count from the same partials (exactly equal to the
    row-level avg), so each child row crosses the network at most once.
    (key, parent_count, child_count, avg_value) ordered by key."""
    from pyspark.sql import functions as F

    per_parent = (
        events.filter(F.col("event_type") == child_type)
        .groupBy(F.col("user_id").alias("doc_id"))
        .agg(F.count(F.lit(1)).cast("long").alias("__n"),
             F.sum("value").alias("__sv"))
    )
    return (
        docs.select("doc_id", F.col(parent_field).alias("key"))
        .join(per_parent, "doc_id", "left")
        .groupBy("key")
        .agg(
            F.count(F.lit(1)).cast("long").alias("parent_count"),
            F.sum(F.coalesce(F.col("__n"), F.lit(0))).cast("long").alias("child_count"),
            F.round(F.sum("__sv") / F.sum("__n"), 6).alias("avg_value"),
        )
        .orderBy("key")
    )


def percentile_ranks(events: DataFrame, values: list[float]) -> DataFrame:
    """ES percentile_ranks aggregation: for each probe value, the percent
    of observations <= value, per event_type. ONE conditional-count pass
    (probe list is a literal — never a join), unpivoted to
    (event_type, probe, pct). pct = round(100·n_le/n, 6)."""
    from pyspark.sql import functions as F

    vals = sorted(float(v) for v in values)
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, v in enumerate(vals):
        aggs.append(
            F.sum(F.when(F.col("value") <= F.lit(v), 1).otherwise(0)).alias(f"__le{i}")
        )
    wide = events.groupBy("event_type").agg(*aggs)
    pairs = []
    for i, v in enumerate(vals):
        pairs.append(F.lit(v))
        pairs.append(F.round(F.lit(100.0) * F.col(f"__le{i}") / F.col("__n"), 6))
    return (
        wide.select(
            "event_type",
            F.explode(
                F.map_from_arrays(
                    F.array(*pairs[0::2]), F.array(*pairs[1::2])
                )
            ).alias("probe", "pct"),
        )
        .orderBy("event_type", "probe")
    )


def weighted_avg_discount(lineitem: DataFrame) -> DataFrame:
    """ES weighted_avg aggregation: quantity-weighted mean discount per
    return flag — sum(w·x)/sum(w) from explicit raw sums (identical
    operand order in the oracle). One groupBy pass."""
    from pyspark.sql import functions as F

    return (
        lineitem.groupBy(F.col("l_returnflag").alias("returnflag"))
        .agg(
            F.round(
                F.sum(F.col("l_discount") * F.col("l_quantity")) / F.sum("l_quantity"), 6
            ).alias("w_avg_discount"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .orderBy("returnflag")
    )


def top_metrics_latest(events: DataFrame) -> DataFrame:
    """ES top_metrics aggregation: per event_type, the value carried by the
    LATEST event (sort on ts desc, tie event_id desc) — sort-free max_by on
    the (ts, event_id) struct key, map-side partial agg collapses before
    the shuffle. (event_type, latest_ts, latest_value)."""
    from pyspark.sql import functions as F

    top = F.max_by(
        F.struct(F.col("ts").alias("ts"), F.col("value").alias("value")),
        F.struct(F.col("ts").alias("k1"), F.col("event_id").alias("k2")),
    )
    return (
        events.groupBy("event_type")
        .agg(top.alias("__t"))
        .select(
            "event_type",
            F.date_format(F.col("__t.ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("latest_ts"),
            F.col("__t.value").alias("latest_value"),
        )
        .orderBy("event_type")
    )


def events_json_filter(events: DataFrame, lo: int, hi: int) -> DataFrame:
    """P6's JSON-properties analog as a QUERY: extract a typed value from
    the JSON props column (get_json_object — row-local, no UDF), filter on
    an inclusive range, aggregate per event_type. The ES flattened/runtime-
    field pattern. (event_type, n, sum_k)."""
    from pyspark.sql import functions as F

    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        events.select("event_type", k.alias("k"))
        .filter((F.col("k") >= lo) & (F.col("k") <= hi))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum("k").cast("long").alias("sum_k"))
        .orderBy("event_type")
    )


def date_histogram_filled(events: DataFrame) -> DataFrame:
    """ES date_histogram with min_doc_count=0: per-day buckets INCLUDING
    empty days (gap filling via a generated day spine between min and max
    — sequence() is driver-free, the spine is bounded by the time range).
    (day, n, sum_value); empty days carry n=0, sum_value=0.0."""
    from pyspark.sql import functions as F

    buckets = (
        events.groupBy(F.date_trunc("day", F.col("ts")).alias("d"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
    )
    bounds = events.agg(
        F.date_trunc("day", F.min("ts")).alias("lo"),
        F.date_trunc("day", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 day"))).alias("d")
    )
    return (
        spine.join(buckets, "d", "left")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
            F.coalesce(F.col("sum_value"), F.lit(0.0)).alias("sum_value"),
        )
        .orderBy("day")
    )


def extended_stats(events: DataFrame) -> DataFrame:
    """ES extended_stats aggregation per event_type: count/min/max/sum/avg
    plus sum_of_squares, POPULATION variance, std deviation and the ±2σ
    std_deviation_bounds — all derived from explicit raw sums in ONE
    groupBy pass (map-side combine), identical operand order in the
    DuckDB oracle. sqrt is IEEE-exact so no cross-engine drift; variance
    is clamped at 0 before the sqrt (catastrophic-cancellation guard on
    near-constant buckets)."""
    from pyspark.sql import functions as F

    raw = events.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
        F.sum("value").alias("s1"),
        F.sum(F.col("value") * F.col("value")).alias("s2"),
    )
    avg_ = F.col("s1") / F.col("n")
    var_ = F.col("s2") / F.col("n") - (F.col("s1") / F.col("n")) * (F.col("s1") / F.col("n"))
    std_ = F.sqrt(F.greatest(var_, F.lit(0.0)))
    return raw.select(
        "event_type",
        "n",
        F.round("mn", 6).alias("v_min"),
        F.round("mx", 6).alias("v_max"),
        F.round("s1", 6).alias("v_sum"),
        F.round(avg_, 6).alias("v_avg"),
        F.round("s2", 6).alias("sum_sq"),
        F.round(var_, 6).alias("variance"),
        F.round(std_, 6).alias("std_dev"),
        F.round(avg_ + 2.0 * std_, 6).alias("std_upper"),
        F.round(avg_ - 2.0 * std_, 6).alias("std_lower"),
    ).orderBy("event_type")


def bucket_selector_topn(events: DataFrame, min_total: float = 16500.0,
                         size: int = 5) -> DataFrame:
    """ES bucket_selector + bucket_sort pipeline aggs: per-day buckets,
    keep only buckets whose rounded sum clears ``min_total`` (the HAVING
    analog), then order by sum desc / day asc and truncate to ``size``.
    The filter+sort run over the BUCKET relation (rows == distinct days),
    and the truncation is a TakeOrderedAndProject — no full sort.
    (day, n, total)."""
    from pyspark.sql import functions as F

    buckets = (
        events.groupBy(
            F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"),
             F.round(F.sum("value"), 6).alias("total"))
    )
    return (
        buckets.filter(F.col("total") >= min_total)
        .orderBy(F.desc("total"), "day")
        .limit(size)
    )


def serial_diff(events: DataFrame, lag: int = 7) -> DataFrame:
    """ES serial_diff pipeline agg: per-day buckets with lag-``lag``
    differencing (seasonality removal — lag 7 == week-over-week). The
    diff chains from the ROUNDED per-bucket sum (house pipeline-agg rule)
    and the first ``lag`` buckets coalesce to 0.0 (NULL round-trips as
    NaN from the DuckDB fetch). Window runs over the bucket relation
    only. (day, n, sum_value, diff)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    buckets = (
        events.groupBy(
            F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"),
             F.round(F.sum("value"), 6).alias("sum_value"))
    )
    w = Window.orderBy("day")
    return (
        buckets.withColumn(
            "diff",
            F.coalesce(
                F.round(F.col("sum_value") - F.lag("sum_value", lag).over(w), 6),
                F.lit(0.0),
            ),
        )
        .orderBy("day")
    )


def multi_terms_agg(docs: DataFrame, size: int = 20) -> DataFrame:
    """ES multi_terms aggregation: buckets keyed by the (lang, source)
    term COMBINATION, count + sum(n_chars) metrics, top ``size`` buckets
    by doc count (full-key tiebreak keeps the limit deterministic). One
    groupBy, TakeOrderedAndProject finish. (lang, source, n, sum_chars)."""
    from pyspark.sql import functions as F

    return (
        docs.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).cast("long").alias("n"),
             F.sum("n_chars").cast("long").alias("sum_chars"))
        .orderBy(F.desc("n"), "lang", "source")
        .limit(size)
    )


AUTO_HISTO_LADDER = (60, 300, 1800, 3600, 21600, 86400, 604800)


def auto_date_histogram(events: DataFrame, target_buckets: int = 40) -> DataFrame:
    """ES auto_date_histogram: pick the smallest interval from a fixed
    ladder (minute…week) such that the event time span fits in
    ``target_buckets`` buckets, then bucket on floor(epoch/interval).
    The interval choice is a 1-row bounds aggregate broadcast-crossed
    into the scan (benign 1-row BNLJ, house stats-join pattern) so the
    whole plan stays relational — no driver-side collect. Buckets are
    exposed as epoch seconds (timezone-proof across engines).
    (bucket_epoch, interval_s, n, total)."""
    from pyspark.sql import functions as F

    # ts is TIMESTAMP_NTZ (no direct long cast): tz-free epoch seconds via
    # timestampdiff against the naive epoch — positive span, so SECOND
    # truncation == floor == DuckDB's floor(epoch(ts))
    e = events.select(
        F.expr(
            "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        ).cast("long").alias("es"),
        "value",
    )
    span = F.col("maxe") - F.col("mine")
    iv = F.lit(AUTO_HISTO_LADDER[-1])
    for step in reversed(AUTO_HISTO_LADDER[:-1]):
        iv = F.when(span <= step * target_buckets, F.lit(step)).otherwise(iv)
    bounds = (
        e.agg(F.min("es").alias("mine"), F.max("es").alias("maxe"))
        .select(iv.cast("long").alias("interval_s"))
    )
    return (
        e.crossJoin(F.broadcast(bounds))
        .groupBy(
            (F.floor(F.col("es") / F.col("interval_s")) * F.col("interval_s"))
            .alias("bucket_epoch"),
            "interval_s",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"),
             F.round(F.sum("value"), 6).alias("total"))
        .orderBy("bucket_epoch")
    )


def has_parent_topk(docs: DataFrame, events: DataFrame, term: str,
                    k: int = 10, text_col: str = "text") -> DataFrame:
    """ES has_parent query (join field, the dual of has_child): child
    events are returned iff their PARENT document matches a term filter;
    hits ranked by the child's own value (has_parent score=false routes
    the parent filter, never a parent score). Parent/child relation is
    doc_id == user_id (same join-field convention as has_child_topk).

    Scale shape: the parent filter is row-local (array_contains on the
    token split) and projects ONLY ids, so the parent side shrinks before
    the join; top-k is the orderBy().limit(k) TakeOrderedAndProject
    contract. (rank, event_id, parent_id, value)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from .tokenizer import tokens_expr

    parents = (
        docs.filter(F.array_contains(tokens_expr(text_col), term))
        .select(F.col("doc_id").alias("user_id"))
    )
    hits = events.join(parents, "user_id").select(
        "event_id",
        F.col("user_id").alias("parent_id"),
        F.round("value", 6).alias("value"),
    )
    order = [F.col("value").desc(), F.col("event_id").asc()]
    top = hits.orderBy(*order).limit(k)
    w = F.row_number().over(Window.orderBy(*order))
    return (
        top.withColumn("rank", w)
        .select("rank", "event_id", "parent_id", "value")
        .orderBy("rank")
    )


def nested_order_items(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """ETL for the ES nested-field doc model: each order becomes ONE
    document with its lineitems packed as an array<struct> column — the
    layout a nested mapping stores (parent row + co-located nested
    objects). One groupBy on the join key; at scale the pack is a single
    co-partitioned shuffle paid once at ingest, after which every nested
    query is row-local. (o_orderkey, o_totalprice, items)."""
    from pyspark.sql import functions as F

    items = lineitem.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("l_linenumber").alias("ln"),
                    F.col("l_quantity").alias("qty"),
                    F.col("l_discount").alias("disc"),
                )
            )
        ).alias("items")
    )
    return orders.select("o_orderkey", "o_totalprice").join(items, "o_orderkey")


def nested_query(nested: DataFrame, qty_min: float = 45.0,
                 disc_min: float = 0.07) -> DataFrame:
    """ES nested query: the predicate conjunction must hold within the
    SAME nested object (one lineitem with qty >= qty_min AND disc >=
    disc_min) — the semantics a flattened object mapping gets wrong
    (cross-element false positives). Pure higher-order exists/filter over
    the packed array: zero shuffle, zero joins at query time.
    (o_orderkey, n_hits = matching nested objects)."""
    from pyspark.sql import functions as F

    def pred(e: F.Column) -> F.Column:
        return (e["qty"] >= F.lit(qty_min)) & (e["disc"] >= F.lit(disc_min))

    hits = F.size(F.filter(F.col("items"), pred))
    return (
        nested.select("o_orderkey", hits.cast("long").alias("n_hits"))
        .filter(F.col("n_hits") > 0)
        .orderBy("o_orderkey")
    )


def nested_inner_hits(nested: DataFrame, qty_min: float = 45.0,
                      disc_min: float = 0.07, size: int = 3) -> DataFrame:
    """ES nested query with inner_hits: alongside each matching parent,
    the top ``size`` matching nested objects (sort: qty desc, ln asc) —
    the payload ES returns under hits.inner_hits. Filter, sort, and
    truncation are ALL row-local array operations over the packed items
    (the nested_query rule: zero query-time joins, zero windows — never a
    row_number over the exploded child relation, which would shuffle
    every child row); only the final parent-key output sort orders rows.
    (o_orderkey, hit_rank, ln, qty, disc)."""
    from pyspark.sql import functions as F

    def pred(e: F.Column) -> F.Column:
        return (e["qty"] >= F.lit(qty_min)) & (e["disc"] >= F.lit(disc_min))

    def keyed(e: F.Column) -> F.Column:
        # array_sort orders struct fields lexicographically: (-qty, ln)
        # ascending == qty desc then ln asc, with the payload riding along.
        return F.struct(
            (-e["qty"]).alias("nq"),
            e["ln"].alias("ln"),
            e["qty"].alias("qty"),
            e["disc"].alias("disc"),
        )

    hits = F.slice(F.array_sort(F.transform(F.filter(F.col("items"), pred), keyed)), 1, size)
    ex = nested.select("o_orderkey", F.posexplode(hits).alias("pos", "h"))
    return ex.select(
        "o_orderkey",
        (F.col("pos") + 1).cast("long").alias("hit_rank"),
        F.col("h.ln").alias("ln"),
        F.col("h.qty").alias("qty"),
        F.col("h.disc").alias("disc"),
    ).orderBy("o_orderkey", "hit_rank")


def terms_order_by_metric(events: DataFrame, size: int = 3) -> DataFrame:
    """ES terms aggregation ordered by a metric sub-agg
    (order: {avg_value: desc}) — the knob the ES docs flag as
    unbounded-error under shard-local truncation. This is the exact
    global form: ONE map-side-combined groupBy computes doc_count and the
    ordering metric together, then the bounded bucket relation sorts —
    the shard-truncated estimation protocol lives in
    terms_agg_error_bounds. Buckets order on the ROUNDED metric (the
    ccnet_buckets rule) so cross-engine float noise can never reorder.
    (event_type, doc_count, avg_value)."""
    from pyspark.sql import functions as F

    g = events.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("doc_count"),
        F.round(F.avg("value"), 6).alias("avg_value"),
    )
    return g.orderBy(F.col("avg_value").desc(), F.col("event_type").asc()).limit(size)


def filters_agg(docs: DataFrame, filters: dict[str, str],
                text_col: str = "text") -> DataFrame:
    """ES filters aggregation with other_bucket: named term filters →
    (bucket, doc_count, sum_chars), plus '_other_' counting docs matching
    NO filter. ONE corpus pass: row-local boolean flags, a single
    conditional aggregate, unpivoted via the arrays_zip/inline house
    pattern (adjacency_matrix). Never a per-filter rescan."""
    from pyspark.sql import functions as F

    from .tokenizer import tokens_expr

    keys = sorted(filters)
    toks = tokens_expr(text_col)
    flags = docs.select(
        F.col("n_chars"),
        *[F.array_contains(toks, filters[k]).alias(k) for k in keys],
    )
    none = ~flags[keys[0]]
    for k in keys[1:]:
        none = none & ~flags[k]
    flags = flags.withColumn("_other_", none)
    names = keys + ["_other_"]
    aggs = []
    for k in names:
        aggs.append(F.sum(F.when(F.col(k), 1).otherwise(0)).cast("long").alias(f"n_{k}"))
        aggs.append(
            F.sum(F.when(F.col(k), F.col("n_chars")).otherwise(0)).cast("long").alias(f"s_{k}")
        )
    wide = flags.agg(*aggs)
    return (
        wide.select(
            F.inline(
                F.arrays_zip(
                    F.array(*[F.lit(k) for k in names]),
                    F.array(*[F.col(f"n_{k}") for k in names]),
                    F.array(*[F.col(f"s_{k}") for k in names]),
                )
            )
        )
        .toDF("bucket", "doc_count", "sum_chars")
        .orderBy("bucket")
    )


def range_agg(events: DataFrame, edges: list[float],
              val_col: str = "value") -> DataFrame:
    """ES range aggregation: explicit bucket edges (from inclusive, to
    exclusive, ES key form 'a-b' with '*' for open ends) over a numeric
    field, each bucket carrying doc_count + rounded sum. ONE pass: a
    row-local CASE label then a bounded groupBy (rows == n_buckets).
    (bucket, doc_count, sum_value), ordered by bucket lower edge."""
    from pyspark.sql import functions as F

    es = [float(x) for x in edges]
    bounds = [(None, es[0])] + list(zip(es, es[1:])) + [(es[-1], None)]

    def key(lo, hi):
        return f"{'*' if lo is None else lo}-{'*' if hi is None else hi}"

    v = F.col(val_col)
    label = F.lit(key(*bounds[-1]))
    for lo, hi in reversed(bounds[:-1]):
        cond = v < F.lit(hi) if lo is None else (v >= F.lit(lo)) & (v < F.lit(hi))
        label = F.when(cond, F.lit(key(lo, hi))).otherwise(label)
    ordkeys = {key(lo, hi): i for i, (lo, hi) in enumerate(bounds)}
    ordexpr = F.lit(len(bounds) - 1)
    for kk, i in list(ordkeys.items())[:-1]:
        ordexpr = F.when(F.col("bucket") == kk, F.lit(i)).otherwise(ordexpr)
    return (
        events.select(label.alias("bucket"), v.alias("v"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("doc_count"),
            F.round(F.sum("v"), 6).alias("sum_value"),
        )
        .orderBy(ordexpr)
    )


def cumulative_cardinality(events: DataFrame) -> DataFrame:
    """ES cumulative_cardinality pipeline agg: per-day NEW distinct users
    and the running distinct-user total. Exact, without a per-day
    distinct-union blowup: each user contributes only its FIRST day (one
    groupBy min), then per-day counts + a cumulative window over the
    bucket relation (rows == distinct days). (day, new_users, cum_users)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    first = events.groupBy("user_id").agg(
        F.min(F.date_format(F.col("ts"), "yyyy-MM-dd")).alias("day")
    )
    days = first.groupBy("day").agg(F.count(F.lit(1)).cast("long").alias("new_users"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        days.withColumn("cum_users", F.sum("new_users").over(w).cast("long"))
        .orderBy("day")
    )


def t_test_welch(events: DataFrame, type_a: str, type_b: str) -> DataFrame:
    """ES t_test aggregation (heteroscedastic / Welch): t statistic and
    Welch–Satterthwaite degrees of freedom between two event types' value
    distributions, computed from explicit raw sums (n, Σx, Σx²) with
    SAMPLE variance — the matrix_stats convention (identical closed form
    in both engines; built-in variance recurrences would drift). ONE
    conditional-aggregate pass. (type_a, type_b, t_stat, df)."""
    from pyspark.sql import functions as F

    v = F.col("value")
    wide = events.filter(F.col("event_type").isin([type_a, type_b])).agg(
        *[
            agg.alias(name)
            for t, tag in ((type_a, "a"), (type_b, "b"))
            for name, agg in (
                (f"n_{tag}", F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).cast("double")),
                (f"s_{tag}", F.sum(F.when(F.col("event_type") == t, v).otherwise(0.0))),
                (f"ss_{tag}", F.sum(F.when(F.col("event_type") == t, v * v).otherwise(0.0))),
            )
        ]
    )
    na, sa, ssa = F.col("n_a"), F.col("s_a"), F.col("ss_a")
    nb, sb, ssb = F.col("n_b"), F.col("s_b"), F.col("ss_b")
    va = (ssa - sa * sa / na) / (na - 1)
    vb = (ssb - sb * sb / nb) / (nb - 1)
    sea, seb = va / na, vb / nb
    t = (sa / na - sb / nb) / F.sqrt(sea + seb)
    df = (sea + seb) * (sea + seb) / (sea * sea / (na - 1) + seb * seb / (nb - 1))
    return wide.select(
        F.lit(type_a).alias("type_a"),
        F.lit(type_b).alias("type_b"),
        F.round(t, 6).alias("t_stat"),
        F.round(df, 6).alias("df"),
    )


def diversified_topk(docs: DataFrame, k: int = 10, per_value: int = 2,
                     field: str = "source", score_col: str = "n_chars") -> DataFrame:
    """ES diversified_sampler aggregation: top-k docs by a score with at
    most ``per_value`` docs per dedup field value — result diversity
    without a post-filter re-query. Level 1 is the shared two-level
    top-k (topk.topk_per_group: per-partition streaming head-k, never a
    full per-field window sort); level 2 ranks the ≤ per_value × n_values
    survivors with the orderBy().limit(k) contract.
    (rank, doc_id, source, score)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from .topk import topk_per_group

    scored = docs.select(
        F.col(field).alias("grp"),
        F.col("doc_id"),
        F.col(score_col).cast("double").alias("score"),
    )
    cand = topk_per_group(scored, per_value, group_col="grp").drop("rank")
    order = [F.col("score").desc(), F.col("doc_id").asc()]
    top = cand.orderBy(*order).limit(k)
    w = F.row_number().over(Window.orderBy(*order))
    return (
        top.withColumn("rank", w)
        .select("rank", "doc_id", F.col("grp").alias(field), "score")
        .orderBy("rank")
    )


def rate_agg(events: DataFrame, unit_hours: int = 1) -> DataFrame:
    """ES rate aggregation inside a calendar-day date_histogram: per-day
    event count and value sum rescaled to a per-``unit_hours`` rate
    (bucket interval 24h / unit). One groupBy pass; the rescale is
    row-local arithmetic over the bounded bucket relation.
    (day, doc_count, rate_count, rate_sum) ordered by day."""
    from pyspark.sql import functions as F

    scale = F.lit(24.0 / unit_hours)
    return (
        events.groupBy(F.date_format(F.col("ts"), "yyyy-MM-dd").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("doc_count"),
            F.round(F.sum("value"), 6).alias("s"),
        )
        .select(
            "day", "doc_count",
            F.round(F.col("doc_count") / scale, 6).alias("rate_count"),
            F.round(F.col("s") / scale, 6).alias("rate_sum"),
        )
        .orderBy("day")
    )


def normalize_agg(events: DataFrame) -> DataFrame:
    """ES normalize pipeline agg, method=percent_of_sum: each event_type
    bucket's share of the total. Chained from ROUNDED bucket sums (the
    pipeline_aggs convention); the total is a window over the BOUNDED
    bucket relation (rows == n_types), never a second corpus pass.
    (event_type, s, pct) ordered."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    buckets = events.groupBy("event_type").agg(F.round(F.sum("value"), 6).alias("s"))
    total = F.sum("s").over(Window.partitionBy())
    return (
        buckets.select(
            "event_type", "s",
            F.round(F.col("s") / total * F.lit(100.0), 6).alias("pct"),
        )
        .orderBy("event_type")
    )


def boxplot_agg(events: DataFrame) -> DataFrame:
    """ES boxplot aggregation per event_type: min / q1 / median / q3 / max
    with EXACT linear interpolation (Spark `percentile` == DuckDB
    quantile_cont — the event_value_percentiles parity precedent; ES
    itself serves TDigest approximations, the exact form strictly
    dominates). One groupBy pass, map-side partial agg."""
    from pyspark.sql import functions as F

    return (
        events.groupBy("event_type")
        .agg(
            F.round(F.min("value"), 6).alias("vmin"),
            F.round(F.expr("percentile(value, 0.25)"), 6).alias("q1"),
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("q2"),
            F.round(F.expr("percentile(value, 0.75)"), 6).alias("q3"),
            F.round(F.max("value"), 6).alias("vmax"),
        )
        .orderBy("event_type")
    )


def percentiles_bucket(events: DataFrame, qs: tuple = (0.25, 0.5, 0.75, 0.95)) -> DataFrame:
    """ES percentiles_bucket pipeline aggregation: exact interpolated
    percentiles OF THE BUCKET METRIC (per-day rounded sums from the
    date_histogram), not of the raw values — the sibling pipeline agg of
    derivative/cum_sum. The percentile pass runs over the bounded bucket
    relation (rows == distinct days). One row: (q<p>..., n_buckets)."""
    from pyspark.sql import functions as F

    buckets = (
        events.groupBy(F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day"))
        .agg(F.round(F.sum("value"), 6).alias("sum_value"))
    )
    aggs = [
        F.round(F.expr(f"percentile(sum_value, {q!r})"), 6).alias(f"q{int(q * 100)}")
        for q in qs
    ]
    return buckets.agg(*aggs, F.count(F.lit(1)).cast("long").alias("n_buckets"))


def median_abs_deviation(events: DataFrame) -> DataFrame:
    """ES median_absolute_deviation aggregation (exact, per event_type):

        mad = median( |value - median(value)| )

    ES approximates with t-digest; tiny-fixture parity wants the exact
    two-pass form: per-group exact interpolated median (ROUNDED 6 before
    chaining, the pipeline-agg convention), broadcast back (one row per
    group — bounded), then the median of absolute deviations. Two scans of
    the fact table are inherent to exact MAD; both aggregate map-side.
    (event_type, median_value, mad)."""
    from pyspark.sql import functions as F

    med = events.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("median_value")
    )
    dev = events.select("event_type", "value").join(F.broadcast(med), "event_type")
    return (
        dev.groupBy("event_type")
        .agg(
            F.min("median_value").alias("median_value"),
            F.round(F.expr("percentile(abs(value - median_value), 0.5)"), 6).alias("mad"),
        )
        .select("event_type", "median_value", "mad")
        .orderBy("event_type")
    )


def moving_percentiles(events: DataFrame, window: int = 3) -> DataFrame:
    """ES moving_percentiles pipeline aggregation: sliding-window exact
    percentiles OF THE BUCKET METRIC — p50/p90 over the trailing ``window``
    per-day rounded sums (window-1 preceding + current, partial head
    windows as ES emits them). The window pass runs over the bounded
    bucket relation (rows == distinct days), never the raw facts.
    (day, sum_value, mov_p50, mov_p90) ordered by day."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    buckets = (
        events.groupBy(F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day"))
        .agg(F.round(F.sum("value"), 6).alias("sum_value"))
    )
    w = Window.orderBy("day").rowsBetween(-(window - 1), Window.currentRow)
    return buckets.select(
        "day",
        "sum_value",
        F.round(F.expr("percentile(sum_value, 0.5)").over(w), 6).alias("mov_p50"),
        F.round(F.expr("percentile(sum_value, 0.9)").over(w), 6).alias("mov_p90"),
    ).orderBy("day")


def change_point_agg(events: DataFrame) -> DataFrame:
    """ES change_point aggregation (8.x time-series analytics), the
    deterministic core: over the per-day ROUNDED bucket sums, find the
    split that maximizes the absolute mean shift

        score(i) = | mean(x_1..x_i) − mean(x_{i+1}..x_n) |,  1 ≤ i < n

    (ties → earliest day). Cumulative sums over the bounded bucket
    relation give every split in one window pass — no per-split rescan.
    One row: (change_day, n_before, n_after, mean_before, mean_after,
    score)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    buckets = (
        events.groupBy(F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day"))
        .agg(F.round(F.sum("value"), 6).alias("sum_value"))
    )
    return change_point_from_buckets(buckets)


def change_point_from_buckets(buckets: DataFrame) -> DataFrame:
    """The split-scoring half of change_point_agg over a prepared
    (day, sum_value) bucket relation — shared with the streaming path,
    whose buckets come from additive-merged state."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tot = buckets.agg(
        F.sum("sum_value").alias("total"), F.count(F.lit(1)).cast("long").alias("n")
    )
    cum = (
        buckets.withColumn("cum", F.sum("sum_value").over(w))
        .withColumn("i", F.row_number().over(Window.orderBy("day")))
        .crossJoin(F.broadcast(tot))
        .filter(F.col("i") < F.col("n"))
    )
    mb = F.col("cum") / F.col("i")
    ma = (F.col("total") - F.col("cum")) / (F.col("n") - F.col("i"))
    scored = cum.select(
        F.col("day").alias("change_day"),
        F.col("i").alias("n_before"),
        (F.col("n") - F.col("i")).cast("long").alias("n_after"),
        F.round(mb, 6).alias("mean_before"),
        F.round(ma, 6).alias("mean_after"),
        F.round(F.abs(mb - ma), 6).alias("score"),
    )
    return scored.orderBy(F.col("score").desc(), F.col("change_day").asc()).limit(1)


def derive_client_ips(events: DataFrame) -> DataFrame:
    """Deterministic dotted-quad client-address column for the fixture
    (which carries no address): ip = 10.(uid%8).(uid%256).(7·uid%256) —
    the ip_prefix_agg formula extended to all four octets. Row-local; the
    oracle mirrors the identical concat (oracles_pipeline.DERIVED_IP_SQL
    is the single source — never hand-copy the formula into SQL)."""
    from pyspark.sql import functions as F

    uid = F.col("user_id").cast("long")
    ip = F.concat_ws(
        ".",
        F.lit("10"),
        F.pmod(uid, F.lit(8)).cast("string"),
        F.pmod(uid, F.lit(256)).cast("string"),
        F.pmod(uid * F.lit(7), F.lit(256)).cast("string"),
    )
    return events.withColumn("ip", ip)


def ip_prefix_agg(events: DataFrame, prefix_len: int = 16) -> DataFrame:
    """ES ip_prefix aggregation: group client addresses under a /len
    prefix. The fixture has no address column, so one is DERIVED
    deterministically from user_id (the inject_pii precedent — both
    engines build the identical string):

        ip = 10 . (uid % 8) . (uid % 256) . (7·uid % 256)

    /16 keeps the first two octets. Row-local derivation + one bounded
    groupBy. (prefix, n_events, n_users) ordered by prefix."""
    from pyspark.sql import functions as F

    if prefix_len != 16:
        raise ValueError("only /16 implemented — the fixture IPs vary in octet 2")
    uid = F.col("user_id").cast("long")
    prefix = F.concat(
        F.lit("10."), F.pmod(uid, F.lit(8)).cast("string"), F.lit(".0.0/16")
    )
    return (
        events.select(prefix.alias("prefix"), uid.alias("uid"))
        .groupBy("prefix")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.count_distinct("uid").cast("long").alias("n_users"),
        )
        .orderBy("prefix")
    )


def stats_bucket(events: DataFrame) -> DataFrame:
    """ES stats_bucket pipeline aggregation: min/max/avg/sum of the per-day
    ROUNDED bucket sums — one pass over the bounded bucket relation.
    One row: (n_buckets, min_v, max_v, avg_v, sum_v)."""
    from pyspark.sql import functions as F

    buckets = (
        events.groupBy(F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day"))
        .agg(F.round(F.sum("value"), 6).alias("sum_value"))
    )
    return buckets.agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.round(F.min("sum_value"), 6).alias("min_v"),
        F.round(F.max("sum_value"), 6).alias("max_v"),
        F.round(F.avg("sum_value"), 6).alias("avg_v"),
        F.round(F.sum("sum_value"), 6).alias("sum_v"),
    )


def terms_agg_error_bounds(docs: DataFrame, n_shards: int = 4,
                           shard_size: int = 5, k: int = 5,
                           text_col: str = "text") -> DataFrame:
    """The ES terms-aggregation shard-merge protocol, made explicit: each
    shard returns only its local top-``shard_size`` terms, the coordinator
    sums what it received, and every term's doc_count_error_upper_bound is
    the sum of the LAST (smallest) reported count of every shard that did
    NOT report the term — exactly how ES bounds the underestimation it
    accepts for bounded per-shard responses. This is the aggregation
    pattern whose behavior at 1000 shards decides whether a terms agg is
    trustworthy; the exact corpus count rides along as the audit column.

    Shards are pmod(doc_id, n_shards) (deterministic); the per-shard
    top-``shard_size`` runs through the shared two-level topk_per_group.
    (rk, term, doc_count, error_bound, exact_count) top-k by merged count."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from .tokenizer import tokens_expr
    from .topk import topk_per_group

    tf = (
        docs.select(F.col("doc_id"), F.explode(tokens_expr(text_col)).alias("term"))
        .distinct()
    )
    per = (
        tf.withColumn("shard", F.pmod(F.col("doc_id"), F.lit(n_shards)))
        .groupBy("shard", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    exact = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("exact_count"))
    return shard_merge_topk(per, exact, shard_size=shard_size, k=k)


def shard_merge_topk(per: DataFrame, exact: DataFrame,
                     shard_size: int = 5, k: int = 5) -> DataFrame:
    """The coordinator half of the terms-agg protocol, shared by the
    direct (pmod shards) and indexed (doc_part shards) paths: per-shard
    top-``shard_size`` of a (shard, term, cnt) relation via the two-level
    topk_per_group, merged sums, and the ES doc_count_error_upper_bound
    accounting; ``exact`` = (term, exact_count) is the audit column."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from .topk import topk_per_group

    kept = topk_per_group(per, shard_size, group_col="shard", id_col="term",
                          val_col="cnt").select("shard", "term", "cnt")
    mins = kept.groupBy("shard").agg(F.min("cnt").alias("min_rep"))
    total_min = mins.agg(F.sum("min_rep").alias("total_min"))
    merged = (
        kept.join(mins, "shard")
        .groupBy("term")
        .agg(F.sum("cnt").cast("long").alias("doc_count"),
             F.sum("min_rep").alias("rep_min"))
        .crossJoin(F.broadcast(total_min))
        .select(
            "term", "doc_count",
            (F.col("total_min") - F.col("rep_min")).cast("long").alias("error_bound"),
        )
    )
    out = (
        merged.join(exact, "term")
        .orderBy(F.col("doc_count").desc(), F.col("term").asc())
        .limit(k)
    )
    w = F.row_number().over(Window.orderBy(F.col("doc_count").desc(), F.col("term").asc()))
    return out.withColumn("rk", w).select("rk", "term", "doc_count",
                                          "error_bound", "exact_count").orderBy("rk")


def random_sampler_agg(events: DataFrame, p: float = 0.25,
                       seed: str = "rs") -> DataFrame:
    """ES random_sampler aggregation (8.x): run the aggregation over a
    probability-``p`` subset and correct counts by 1/p — the
    constant-factor speedup knob for exploratory aggs over huge indexes.
    The sample is the deterministic portable-hash threshold (reproducible
    across engines, runs, and partitionings — ES uses a random generator,
    the engine's keep rule is the auditable analog). Exact counts ride
    along as the accuracy-audit column.
    (event_type, n_sampled, est_n, exact_n) ordered."""
    from pyspark.sql import functions as F

    from .portable import hash60

    u = (
        F.pmod(
            hash60(F.concat_ws(":", F.col("event_id").cast("string"), F.lit(seed))),
            F.lit(1000000),
        ).cast("double")
        / F.lit(1000000.0)
    )
    marked = events.select("event_type", (u < F.lit(float(p))).alias("__keep"))
    return (
        marked.groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("__keep"), 1).otherwise(0)).cast("long").alias("n_sampled"),
            F.count(F.lit(1)).cast("long").alias("exact_n"),
        )
        .select(
            "event_type",
            "n_sampled",
            F.round(F.col("n_sampled") / F.lit(float(p)), 6).alias("est_n"),
            "exact_n",
        )
        .orderBy("event_type")
    )


def frequent_item_sets(events: DataFrame, min_support: int = 3,
                       k: int = 20) -> DataFrame:
    """ES 8.4 ``frequent_item_sets`` agg, size-2 form over event baskets:
    basket = user, item = event_type, support = #users whose basket holds
    both items (Agrawal'94 market-basket shape, ES runs the same Eclat
    family). APRIORI PRUNE as the scale guard: only items that are
    frequent ALONE (support >= min_support, downward closure) enter the
    pair self-join, so the per-basket pair explosion is bounded by
    |frequent items|² — item vocabularies are small even when baskets
    number 10^12, and the frequent-item relation broadcasts. Distinct
    (basket, item) first: duplicate events never inflate support.
    (item_a, item_b, support) — support desc, then pair asc, top-k."""
    ui = events.select("user_id", "event_type").distinct()
    f1 = (
        ui.groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("s1"))
        .filter(F.col("s1") >= min_support)
    )
    uif = ui.join(F.broadcast(f1.select("event_type")), "event_type").select(
        "user_id", "event_type")
    a = uif.alias("a")
    b = uif.alias("b")
    pairs = (
        a.join(b, (F.col("a.user_id") == F.col("b.user_id"))
               & (F.col("a.event_type") < F.col("b.event_type")))
        .groupBy(F.col("a.event_type").alias("item_a"),
                 F.col("b.event_type").alias("item_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .filter(F.col("support") >= min_support)
    )
    return pairs.orderBy(
        F.col("support").desc(), F.col("item_a").asc(), F.col("item_b").asc()
    ).limit(k)


def missing_agg(events: DataFrame, lookup: DataFrame,
                key: str = "user_id") -> DataFrame:
    """ES ``missing`` aggregation: bucket of documents whose field is
    absent. Sparse fields arise at ingest from enrichment gaps, so the
    driver shape enriches events against a small dimension (broadcast
    left join — the ENRICH plan) and counts per event_type how many rows
    came back NULL vs total. ONE pass over the fact side: the broadcast
    join is map-side, the conditional count folds into the same groupBy
    (map-side partial agg). At 10^12 events the big side never shuffles
    except the final ≤|event_type| groupBy.
    (event_type, n_missing, n_total)."""
    enriched = events.join(F.broadcast(lookup), key, "left")
    flag = lookup.columns[-1] if lookup.columns[-1] != key else lookup.columns[0]
    return (
        enriched.groupBy("event_type")
        .agg(
            F.sum(F.when(F.col(flag).isNull(), 1).otherwise(0))
            .cast("long").alias("n_missing"),
            F.count(F.lit(1)).cast("long").alias("n_total"),
        )
        .orderBy("event_type")
    )


def bucket_script_agg(events: DataFrame) -> DataFrame:
    """ES ``bucket_script`` pipeline aggregation: a per-bucket arithmetic
    script over sibling metrics. Buckets are days; metrics are the error
    count and the total count; the script is the error RATE
    (errors / total) — the canonical ES example. The script runs over the
    ≤|days| bucket relation (pipeline aggs never touch raw docs twice):
    one groupBy with two conditional metrics, then row-local arithmetic.
    Rounded 6 (house float convention).
    (day, n_err, n_total, err_rate)."""
    buckets = (
        events.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("long").alias("n_err"),
            F.count(F.lit(1)).cast("long").alias("n_total"),
        )
    )
    return (
        buckets.withColumn(
            "err_rate", F.round(F.col("n_err") / F.col("n_total"), 6))
        .orderBy("day")
    )


def reverse_nested_agg(nested: DataFrame, qty_min: float = 45.0) -> DataFrame:
    """ES ``reverse_nested`` aggregation: from inside a nested scope, jump
    BACK to the parent document scope — e.g. "per lineitem linenumber,
    how many ORDERS have a matching item", where a terms agg inside the
    nested scope would count lineitems, not orders. Over the packed
    array<struct> layout (nested_order_items) this is row-local: filter
    the items array per parent, project the DISTINCT matching keys with
    array_distinct (the parent must count once per key no matter how many
    of its items match — that's the reverse_nested semantic), explode,
    and count parents per key. Shuffle is the final ≤|keys| groupBy;
    parent rows are never joined back because the parent IS the row.
    (ln, n_orders)."""

    def pred(e: F.Column) -> F.Column:
        return e["qty"] >= F.lit(qty_min)

    keys = F.array_distinct(
        F.transform(F.filter(F.col("items"), pred), lambda e: e["ln"]))
    return (
        nested.select(F.explode(keys).alias("ln"))
        .groupBy("ln")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
        .orderBy("ln")
    )


def variable_width_histogram(events: DataFrame, n_buckets: int = 6,
                             val_col: str = "value",
                             cap: int = 100_000) -> DataFrame:
    """ES ``variable_width_histogram``: buckets sized by the data's own
    cluster structure instead of fixed intervals. ES streams values into
    at-most-N clusters; the deterministic parity form here splits the
    sorted DISTINCT values at the (n_buckets-1) LARGEST gaps (ties broken
    by boundary value asc — shared with the oracle), which is the
    fixed-point of ES's nearest-cluster merging on stationary data.

    Scale shape: the gap scan runs over the distinct-VALUE relation (the
    cardinality a terms agg on the field would shuffle), not the docs; it
    is enveloped at ``cap`` distinct values (limit-and-raise, the
    _collect_expansion convention) because the lag window is a global
    sort over that relation. Boundary selection is orderBy().limit()
    (TakeOrderedAndProject); the <=n_buckets-1 boundaries come back as
    LITERALS, so bucket assignment over the full fact table is row-local
    (size(filter(array))) and the final agg is one bounded groupBy.
    (bucket, vmin, vmax, n) ordered by bucket."""
    vals = events.groupBy(F.col(val_col).alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("c"))
    n_distinct = vals.count()
    if n_distinct > cap:
        raise ValueError(
            f"variable_width_histogram: {n_distinct} distinct values exceeds "
            f"cap={cap}; pre-quantize the field or raise the cap")
    w = Window.orderBy("v")
    gaps = (
        vals.select("v", (F.col("v") - F.lag("v").over(w)).alias("gap"))
        .filter(F.col("gap").isNotNull())
    )
    bnd = gaps.orderBy(F.col("gap").desc(), F.col("v").asc()).limit(
        max(n_buckets - 1, 0))
    rows = bnd.select("v").collect()  # bounded: <= n_buckets-1 rows
    bounds = sorted(float(r["v"]) for r in rows)
    barr = F.array(*[F.lit(b) for b in bounds])

    def at_or_above(b: F.Column) -> F.Column:
        return F.col(val_col) >= b

    bucket = F.size(F.filter(barr, at_or_above))
    return (
        events.groupBy(bucket.alias("bucket"))
        .agg(
            F.min(val_col).alias("vmin"),
            F.max(val_col).alias("vmax"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .orderBy("bucket")
    )


def bucket_correlation(events: DataFrame) -> DataFrame:
    """ES ``bucket_correlation`` pipeline agg: Pearson correlation between
    two per-bucket metric series — here the daily error count vs the
    daily click count. Buckets first (ONE groupBy, conditional counts,
    <=|days| rows), then the closed-form raw-sum Pearson over that
    bounded relation (the matrix_stats convention: explicit raw sums,
    never an engine-specific recurrence — counts are exact integers in
    float64 so the sums are bit-identical cross-engine).
    One row: (n_buckets, corr)."""
    b = events.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("double").alias("x"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("double").alias("y"),
    )
    s = b.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return s.select(
        F.col("n").cast("long").alias("n_buckets"),
        F.round(num / den, 6).alias("corr"),
    )


def date_range_agg(events: DataFrame, edges: list[str]) -> DataFrame:
    """ES date_range aggregation: explicit date boundaries (from
    inclusive, to exclusive, '*' open ends — the range_agg form over
    event time). Row-local CASE label, one bounded groupBy.
    (bucket, doc_count, sum_value) ordered by bucket lower edge."""
    bounds = [None] + list(edges) + [None]
    day = F.date_format("ts", "yyyy-MM-dd")
    expr = None
    labels = []
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        label = f"{lo or '*'}-{hi or '*'}"
        labels.append(label)
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (day >= F.lit(lo))
        if hi is not None:
            cond = cond & (day < F.lit(hi))
        expr = F.when(cond, F.lit(label)) if expr is None else expr.when(cond, F.lit(label))
    order = F.array_position(F.array(*[F.lit(x) for x in labels]), F.col("bucket"))
    return (
        events.select(expr.alias("bucket"), "value")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("doc_count"),
             F.round(F.sum("value"), 6).alias("sum_value"))
        .orderBy(order)
    )


def ip_range_agg(events: DataFrame, edges: list[int] = (2, 4)) -> DataFrame:
    """ES ip_range aggregation over the derived client address space
    (the ip_prefix derivation: ip = 10.(uid%8).x.x): explicit address
    boundaries on the second octet — 'from' inclusive, 'to' exclusive,
    open ends. Same one-pass CASE + bounded groupBy as range_agg.
    (bucket, n_events, n_users) ordered by bucket lower edge."""
    oct2 = F.pmod(F.col("user_id").cast("long"), F.lit(8))
    bounds = [None] + [int(e) for e in edges] + [None]
    expr = None
    labels = []
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        label = (f"{'*' if lo is None else f'10.{lo}.0.0'}"
                 f"-{'*' if hi is None else f'10.{hi}.0.0'}")
        labels.append(label)
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (oct2 >= F.lit(lo))
        if hi is not None:
            cond = cond & (oct2 < F.lit(hi))
        expr = F.when(cond, F.lit(label)) if expr is None else expr.when(cond, F.lit(label))
    order = F.array_position(F.array(*[F.lit(x) for x in labels]), F.col("bucket"))
    return (
        events.select(expr.alias("bucket"),
                      F.col("user_id").cast("long").alias("uid"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
             F.count_distinct("uid").cast("long").alias("n_users"))
        .orderBy(order)
    )


def bucket_sort(events: DataFrame, from_: int = 2, size: int = 3) -> DataFrame:
    """ES bucket_sort pipeline aggregation: re-order the PARENT agg's
    buckets by a bucket metric and paginate with from/size — the bucket
    analog of search-hit pagination. The sort+offset runs over the
    BOUNDED bucket relation (rows == n_event_types, the pipeline-agg
    convention: normalize_agg's global window precedent), never the fact
    table. (pos, event_type, s, doc_count) for positions
    (from_, from_+size]."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    buckets = events.groupBy("event_type").agg(
        F.round(F.sum("value"), 6).alias("s"),
        F.count(F.lit(1)).cast("long").alias("doc_count"),
    )
    w = Window.orderBy(F.col("s").desc(), F.col("event_type").asc())
    return (
        buckets.withColumn("pos", F.row_number().over(w))
        .filter((F.col("pos") > from_) & (F.col("pos") <= from_ + size))
        .select("pos", "event_type", "s", "doc_count")
        .orderBy("pos")
    )


def tsdb_rate(events: DataFrame, unit_hours: int = 1) -> DataFrame:
    """ES TSDB `rate` aggregation over a COUNTER field: within each time
    series, sum the positive deltas between consecutive samples — a
    DECREASE means the counter reset and the new value itself is the
    delta (the Prometheus/ES counter-reset rule) — divided by the series'
    observed time span, scaled to per-``unit_hours``.

    The window partitions BY THE SERIES KEY (event_type here): that is
    the TSDB semantic unit, not a hot-key accident — production TSDB
    series cardinality is high (host×metric), so per-series reducers
    parallelize; sample order inside a series is (ts, event_id), the
    _tsid+timestamp index sort. Timestamps enter the span as
    microsecond-precision epoch seconds (ts cast double == epoch_us/1e6).
    (event_type, n_samples, increase, rate) ordered."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    prev = F.lag("value").over(w)
    delta = (
        F.when(prev.isNull(), F.lit(0.0))
        .when(F.col("value") >= prev, F.col("value") - prev)
        .otherwise(F.col("value"))  # reset: counter restarted below prev
    )
    td = F.col("ts").cast("timestamp").cast("double")  # NTZ-safe (session tz UTC)
    per = (
        events.select("event_type", "ts", "event_id", "value")
        .withColumn("__d", delta)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_samples"),
            F.round(F.sum("__d"), 6).alias("increase"),
            (F.max(td) - F.min(td)).alias("__span"),
        )
    )
    rate = F.round(F.col("increase") / F.col("__span") * F.lit(3600.0 * unit_hours), 6)
    return per.select("event_type", "n_samples", "increase",
                      rate.alias("rate")).orderBy("event_type")


def sampler_agg_terms(docs: DataFrame, terms: list[str], by: str = "source",
                      shard_size: int = 100) -> DataFrame:
    """ES `sampler` aggregation: restrict a sub-aggregation to the
    highest-scoring ``shard_size`` documents of the query (the
    "best-hits sample" — cheap facets over only the relevant head, the
    complement of random_sampler's probability sample). Sample = BM25
    top-``shard_size`` (rounded score desc, doc_id asc — the engine's
    rank order), sub-agg = terms counts on ``by``.

    Scale shape: the sample is the existing two-scan direct BM25 top-k
    (TakeOrderedAndProject, k rows out); the sub-agg joins ``by`` back
    for k ids (AQE broadcasts the k-row side) and groups <= k rows.
    (value, n) ordered (n desc, value asc)."""
    from .query import bm25_topk

    top = bm25_topk(docs, terms, k=shard_size).select("doc_id")
    return (
        top.join(docs.select("doc_id", F.col(by).alias("value")), "doc_id")
        .groupBy("value")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.col("n").desc(), F.col("value").asc())
    )


def global_agg(docs: DataFrame, terms: list[str],
               metric_col: str = "n_chars") -> DataFrame:
    """ES `global` aggregation: alongside the query-context aggregate,
    report the same metric over the WHOLE index (the global bucket
    escapes the query filter — the classic 'share of total' pattern).
    Query context = docs containing ANY query term. ONE corpus pass:
    the context flag is a row-local expression and both buckets are
    conditional aggregates in a single 1-row groupBy.
    (n_matched, avg_matched, n_all, avg_all)."""
    from .tokenizer import tokens_expr

    qterms = sorted(set(terms))
    hit = F.arrays_overlap(tokens_expr("text"), F.array(*[F.lit(t) for t in qterms]))
    m = F.col(metric_col)
    return docs.select(hit.alias("__hit"), m.alias("__m")).agg(
        F.count(F.when(F.col("__hit"), 1)).cast("long").alias("n_matched"),
        F.round(F.avg(F.when(F.col("__hit"), F.col("__m"))), 6).alias("avg_matched"),
        F.count(F.lit(1)).cast("long").alias("n_all"),
        F.round(F.avg("__m"), 6).alias("avg_all"),
    )


def downsample_tsdb(events: DataFrame, interval_hours: int = 6) -> DataFrame:
    """ES TSDB downsampling (the `_downsample` API / ILM downsample
    action): roll a time-series index up to a coarser fixed_interval,
    keeping per (series, bucket) the aggregate metric shape ES persists —
    value_count, min, max, sum, and last_value (the latest sample by
    (ts, event_id), ES's `last_value` for gauge metrics). The rolled-up
    table is what range queries older than the ILM cutoff actually scan.

    Scale shape: ONE groupBy on (series key, bucket) with map-side
    combine — last_value rides the same agg as max_by(value, struct(ts,
    event_id)) (the sort-free IVF-assignment idiom), never a window over
    the raw samples. Bucket = floor(epoch_sec / interval)·interval as a
    BIGINT — formatted timestamps are an output concern, not a grouping
    key. (event_type, bucket_ts, n, vmin, vmax, vsum, vlast) ordered."""
    from pyspark.sql import functions as F

    secs = 3600 * interval_hours
    td = F.col("ts").cast("timestamp").cast("double")  # NTZ-safe (UTC session)
    bucket = (F.floor(td / F.lit(float(secs))) * F.lit(secs)).cast("long")
    return (
        events.select(
            "event_type", bucket.alias("bucket_ts"), "value", "ts", "event_id")
        .groupBy("event_type", "bucket_ts")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.min("value"), 6).alias("vmin"),
            F.round(F.max("value"), 6).alias("vmax"),
            F.round(F.sum("value"), 6).alias("vsum"),
            F.round(
                F.max_by("value", F.struct(F.col("ts"), F.col("event_id"))), 6
            ).alias("vlast"),
        )
        .orderBy("event_type", "bucket_ts")
    )


def bucket_count_ks_test(events: DataFrame, type_a: str = "click",
                         type_b: str = "error") -> DataFrame:
    """ES bucket_count_ks_test pipeline aggregation (8.x ML aggs), the
    deterministic two-sided core: compare two series' per-day bucket
    counts by the Kolmogorov-Smirnov D statistic

        D = max_day | ECDF_a(day) − ECDF_b(day) |

    over the shared date_histogram. ES reports p-values from simulation;
    the D statistic itself is exact and is what the oracle checks.
    Shape: one conditional-count groupBy to the bounded day relation,
    cumulative-fraction windows over it (rows == n_days), a 1-row max.
    Returns (n_days, n_a, n_b, d_stat)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    day = F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day")
    buckets = (
        events.filter(F.col("event_type").isin([type_a, type_b]))
        .groupBy(day)
        .agg(
            F.count(F.when(F.col("event_type") == type_a, 1)).cast("long").alias("ca"),
            F.count(F.when(F.col("event_type") == type_b, 1)).cast("long").alias("cb"),
        )
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tot = Window.partitionBy()
    frac_a = F.round(F.sum("ca").over(w) / F.sum("ca").over(tot), 6)
    frac_b = F.round(F.sum("cb").over(w) / F.sum("cb").over(tot), 6)
    scored = buckets.select(
        F.col("ca"), F.col("cb"),
        F.round(F.abs(frac_a - frac_b), 6).alias("d"),
    )
    return scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
        F.max("d").alias("d_stat"),
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    bucket_hours: int = 24,
) -> DataFrame:
    """Distributed backward AS-OF join: attach to every left row the right
    row with the greatest right.ts <= left.ts (inclusive) within the same
    ``key`` — the time-series point-in-time lookup (kdb aj / pandas
    merge_asof / DuckDB ASOF JOIN, which is the oracle). Right rows are
    first deduped to one per (key, ts) by max(value): DuckDB leaves the
    duplicate-ts pick undefined, the dedupe makes both engines exact.

    Scale shape (two-level, the engine's bounded-state idiom): the naive
    formulation — one running-last window per key — funnels a hot key's
    entire history through ONE reducer. Instead:
      1. tag-union left and right rows, bucket the time axis
         (``bucket_hours``), and run the running-last window per
         (key, BUCKET) — reducer state is bounded by bucket width, so a
         hot key parallelizes across its buckets;
      2. the cross-bucket carry is resolved on the BUCKET-granular
         relation (one max_by row per (key, bucket), map-side partial):
         a per-key window over #buckets rows, not #rows, computes "last
         right row from any strictly earlier bucket";
      3. carry joins back on (key, bucket) — AQE broadcasts the small
         side.
    Time is integer epoch MICROS end-to-end (unix_micros — no float
    drift); lag = (l_us - r_us)/1e6 with the oracle's exact operand order.
    Equal timestamps match (right sorts before left at the same ts).

    Returns left.* + asof_value, asof_lag_secs (null when no earlier
    right row exists). Assumes non-null ``value_col`` on matched rows
    (the fixture invariant; a null value would split the matched ts/value
    pair across two right rows)."""
    w_us = int(bucket_hours) * 3600 * 1_000_000
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    bkt = F.floor(F.col("__us") / F.lit(w_us)).cast("long")

    r0 = (
        right.select(F.col(key).alias("__k"), us.alias("__us"),
                     F.col(value_col).alias("__val"))
        .groupBy("__k", "__us").agg(F.max("__val").alias("__val"))
    )
    l0 = left.select("*", F.col(key).alias("__k"), us.alias("__us"))

    # 1) in-bucket running last (right rows sort before left at equal ts)
    u = (
        l0.withColumn("__o", F.lit(1))
        .unionByName(r0.withColumn("__o", F.lit(0)), allowMissingColumns=True)
        .withColumn("__bkt", bkt)
    )
    wb = (Window.partitionBy("__k", "__bkt").orderBy("__us", "__o")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    u = (
        u.withColumn("__inb_val", F.last("__val", ignorenulls=True).over(wb))
        .withColumn("__inb_us", F.last(
            F.when(F.col("__o") == 0, F.col("__us")), ignorenulls=True).over(wb))
    )

    # 2) cross-bucket carry on the bucket-granular relation: left buckets
    # (__bo=0) sort before same-bucket right summaries (__bo=1), so the
    # running last at a left bucket sees strictly earlier buckets only
    lb = (l0.select("__k", bkt.alias("__bkt")).distinct()
          .withColumn("__bo", F.lit(0)))
    rb = (
        r0.withColumn("__bkt", bkt)
        .groupBy("__k", "__bkt")
        .agg(F.max(F.struct("__us", "__val")).alias("__lastr"))
        .withColumn("__bo", F.lit(1))
        .select("__k", "__bkt", "__bo", "__lastr")
    )
    wc = (Window.partitionBy("__k").orderBy("__bkt", "__bo")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    carry = (
        lb.unionByName(rb, allowMissingColumns=True)
        .withColumn("__c", F.last("__lastr", ignorenulls=True).over(wc))
        .filter(F.col("__bo") == 0)
        .select("__k", "__bkt",
                F.col("__c.__us").alias("__c_us"),
                F.col("__c.__val").alias("__c_val"))
    )

    # 3) resolve: in-bucket match wins, else the carry
    out = (
        u.filter(F.col("__o") == 1)
        .join(carry, ["__k", "__bkt"], "left")
        .withColumn("__r_us", F.coalesce("__inb_us", "__c_us"))
        .withColumn("asof_value", F.when(
            F.col("__inb_us").isNotNull(), F.col("__inb_val"))
            .otherwise(F.col("__c_val")))
        .withColumn("asof_lag_secs", F.round(
            (F.col("__us") - F.col("__r_us")) / F.lit(1_000_000.0), 6))
    )
    return out.select(*left.columns, "asof_value", "asof_lag_secs")


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    key: str,
    point_ts: str = "ts",
    start_col: str = "start",
    end_col: str = "end",
) -> DataFrame:
    """Distributed range (interval) join: inner-join every point row to the
    interval rows of the same ``key`` whose [start, end] contains the
    point's timestamp (both ends inclusive) — the time-series containment
    join Spark would otherwise plan as a per-key equi-join with an
    unbounded range residual.

    Scale shape (bounded-span bucketing): the time axis is cut into
    buckets of width W = max interval span (ONE 1-row aggregate); an
    interval then overlaps at most 2 buckets, so it is exploded to its
    covered bucket list (F.sequence — never more than ceil(span/W)+1 ≈ 2
    rows) and the join becomes a plain EQUI-join on (key, bucket) with a
    row-local range residual. Shuffle volume is ≤ 2×|intervals| +
    |points|; no per-key window, no cartesian anything. Time is integer
    epoch micros throughout.

    Column contract: ``intervals``' non-key columns must not collide with
    ``points``' (rename before the call); the output is points.* +
    intervals.* (minus its key/bounds duplicates handled by aliasing).
    """
    p_us = F.unix_micros(F.col(point_ts).cast("timestamp"))
    s_us = F.unix_micros(F.col(start_col).cast("timestamp"))
    e_us = F.unix_micros(F.col(end_col).cast("timestamp"))

    spans = intervals.agg(
        F.max(e_us - s_us).alias("w")).collect()[0]
    w = max(int(spans["w"] or 0), 1)

    iv = (
        intervals.withColumn("__s_us", s_us).withColumn("__e_us", e_us)
        .filter(F.col("__s_us") <= F.col("__e_us"))
        .withColumn("__ik", F.col(key))
        .withColumn("__ibkt", F.explode(F.sequence(
            F.floor(F.col("__s_us") / F.lit(w)),
            F.floor(F.col("__e_us") / F.lit(w)))))
        .drop(key)
    )
    pt = (
        points.withColumn("__p_us", p_us)
        .withColumn("__pbkt", F.floor(F.col("__p_us") / F.lit(w)))
    )
    joined = pt.join(
        iv,
        (F.col(key) == F.col("__ik")) & (F.col("__pbkt") == F.col("__ibkt"))
        & (F.col("__p_us") >= F.col("__s_us"))
        & (F.col("__p_us") <= F.col("__e_us")),
        "inner",
    )
    keep = [c for c in points.columns] + [
        c for c in intervals.columns if c != key]
    return joined.select(*keep)


def rollup_search(raw: DataFrame, rollup: DataFrame, boundary_us: int,
                  interval_hours: int = 6) -> DataFrame:
    """ES rollup search (_rollup/search, and what TSDS+ILM does after the
    downsample action): a metrics query over the FULL time range answers
    from the pre-aggregated ROLLUP table for history and from raw events
    only for the recent window — at 100 TB the historical scan shrinks by
    the rollup factor (here 6h buckets) and the raw scan is only the tail.

    ``rollup`` is downsample_tsdb output (event_type, bucket_ts, n, vmin,
    vmax, vsum, ...); ``boundary_us`` must be bucket-aligned so no bucket
    straddles the cutoff (raises otherwise — a straddling bucket would
    double-count). Merge law: count/sum additive, min/max lattice — the
    same mergeable-summary algebra as every incremental stat here, so the
    merged answer is EXACTLY the full-raw aggregate (modulo the rollup's
    round-6 per-bucket sums, which the oracle mirrors).

    Both legs collapse to per-type partials BEFORE the union (map-side
    combine), so the merge groupBy sees O(#types) rows per leg.
    (event_type, n, vmin, vmax, vsum), event_type asc."""
    from pyspark.sql import functions as F

    step_us = 3600 * interval_hours * 1_000_000
    if boundary_us % step_us != 0:
        raise ValueError(
            f"boundary {boundary_us} is not aligned to {interval_hours}h "
            "buckets — a straddling bucket would double-count")
    boundary_s = boundary_us // 1_000_000
    old_p = (
        rollup.filter(F.col("bucket_ts") < F.lit(boundary_s))
        .select("event_type", "n", "vsum", "vmin", "vmax")
    )
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    new_p = (
        raw.filter(us >= F.lit(boundary_us))
        .select("event_type",
                F.lit(1).cast("long").alias("n"),
                F.col("value").alias("vsum"),
                F.col("value").alias("vmin"),
                F.col("value").alias("vmax"))
    )
    return (
        old_p.unionByName(new_p)
        .groupBy("event_type")
        .agg(F.sum("n").cast("long").alias("n"),
             F.round(F.min("vmin"), 6).alias("vmin"),
             F.round(F.max("vmax"), 6).alias("vmax"),
             F.round(F.sum("vsum"), 6).alias("vsum"))
        .orderBy("event_type")
    )


def anomaly_hourly(events: DataFrame, k: int = 10) -> DataFrame:
    """ES ML anomaly detection, the deterministic seasonal core (a
    single-bucket count analysis with a periodic baseline): bucket events
    per (day, hour), take the per-hour-of-day MEDIAN across days as the
    seasonal baseline, and score each bucket

        score = |n − median_h| / (1 + median_h)

    — the normalized deviation ES's count detectors rank by (their
    probabilistic severity needs the full model; the deviation ordering
    is the deterministic part an oracle can check). Top-k buckets by
    (score desc, day asc, hour asc).

    Scale shape: the raw stream collapses to (day, hour) counts in ONE
    groupBy (map-side combine, output bounded by the calendar); the
    24-row baseline joins back as a broadcast. No window over raw events.
    (day, hour, n, expected, score)."""
    from pyspark.sql import functions as F

    b = events.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.hour("ts").cast("long").alias("hour"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    return anomaly_from_hour_counts(b, k=k)


def anomaly_from_hour_counts(b: DataFrame, k: int = 10) -> DataFrame:
    """The scoring tail of anomaly_hourly over a (day, hour, n) bucket
    relation — shared by the batch path and the streaming additive-state
    fold (stream_anomaly_hourly), so stream == batch by construction."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    base = b.groupBy("hour").agg(
        F.expr("percentile(n, 0.5)").alias("expected"))
    scored = (
        b.join(F.broadcast(base), "hour")
        .withColumn("score", F.round(
            F.abs(F.col("n") - F.col("expected"))
            / (F.lit(1.0) + F.col("expected")), 6))
        .withColumn("expected", F.round("expected", 6))
    )
    top = scored.orderBy(F.col("score").desc(), F.col("day").asc(),
                         F.col("hour").asc()).limit(k)
    w = F.row_number().over(Window.orderBy(
        F.col("score").desc(), F.col("day").asc(), F.col("hour").asc()))
    return (top.withColumn("rank", w)
            .select("rank", "day", "hour", "n", "expected", "score")
            .orderBy("rank"))


def graph_pagerank(orders: DataFrame, lineitem: DataFrame,
                   iters: int = 3, damping: float = 0.85,
                   k: int = 20) -> DataFrame:
    """PageRank over the customer→supplier order graph — the web-graph
    centrality quality signal crawl-curation pipelines attach to documents
    (Common-Crawl-style host ranking; Page et al. 1999). Fixed ``iters``
    power iterations with the dangling-mass-dropped simplification
    (nodes without out-edges contribute nothing — identical rule in both
    engines); every iteration's rank is ROUNDED to 6 so chained float
    sums stay engine-identical (the kmeans_train convention).

    Scale shape: edges are distinct (src, dst) pairs; each iteration is
    ONE equi-join (edges ⋈ ranks on src — contributions = rank/out_deg
    row-local) + ONE groupBy(dst) sum with map-side combine; N and the
    teleport term ride a broadcast 1-row aggregate. The plan is iters
    joins deep but every shuffle is keyed by a node id — no collect, no
    driver-side graph. (rank, node, pr) top-k by (pr desc, node asc)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    d = float(damping)
    edges = _order_graph(orders, lineitem)
    nodes = (edges.select(F.col("src").alias("node"))
             .unionByName(edges.select(F.col("dst").alias("node")))
             .distinct())
    nn = nodes.agg(F.count(F.lit(1)).alias("n"))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    pr = (nodes.crossJoin(F.broadcast(nn))
          .select("node", F.round(F.lit(1.0) / F.col("n"), 6).alias("pr")))
    for _ in range(int(iters)):
        contrib = (
            edges.join(deg, "src")
            .join(pr.select(F.col("node").alias("src"), "pr"), "src")
            .select("dst", (F.col("pr") / F.col("deg")).alias("c"))
        )
        inc = contrib.groupBy(F.col("dst").alias("node")).agg(
            F.sum("c").alias("inc"))
        pr = (
            nodes.join(inc, "node", "left")
            .crossJoin(F.broadcast(nn))
            .select(
                "node",
                F.round(
                    (F.lit(1.0) - F.lit(d)) / F.col("n")
                    + F.lit(d) * F.coalesce(F.col("inc"), F.lit(0.0)),
                    6,
                ).alias("pr"),
            )
        )
    top = pr.orderBy(F.col("pr").desc(), F.col("node").asc()).limit(k)
    w = F.row_number().over(Window.orderBy(F.col("pr").desc(), F.col("node").asc()))
    return (top.withColumn("rank", w)
            .select("rank", "node", "pr").orderBy("rank"))


def graph_pagerank_personalized(orders: DataFrame, lineitem: DataFrame,
                                seeds: list[int], iters: int = 3,
                                damping: float = 0.85,
                                k: int = 20) -> DataFrame:
    """PERSONALIZED PageRank (Haveliwala 2002): the teleport mass lands
    only on the ``seeds`` (uniform over seeds present in the graph) —
    the recsys / seed-expansion form of graph_pagerank, same relational
    power-iteration shape, same per-iteration round-6 chaining. Seeds
    enter BOTH engines as literals; |S ∩ nodes| is a 1-row broadcast
    aggregate so a seed outside the graph never silently skews the mass.

    Scale shape: identical to graph_pagerank — each iteration ONE
    node-keyed equi-join + ONE map-side-combined groupBy(dst); seeds are
    an isin predicate, no extra shuffle. (rank, node, pr) top-k."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    if not seeds:
        raise ValueError("personalized pagerank needs a non-empty seed set")
    d = float(damping)
    sl = sorted({int(s) for s in seeds})
    edges = _order_graph(orders, lineitem)
    nodes = (edges.select(F.col("src").alias("node"))
             .unionByName(edges.select(F.col("dst").alias("node")))
             .distinct())
    sn = (nodes.filter(F.col("node").isin(sl))
          .agg(F.count(F.lit(1)).alias("s")))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    seed_c = F.col("node").isin(sl)
    pr = (nodes.crossJoin(F.broadcast(sn))
          .select("node", F.round(
              F.when(seed_c, F.lit(1.0) / F.col("s")).otherwise(F.lit(0.0)),
              6).alias("pr")))
    for _ in range(int(iters)):
        contrib = (
            edges.join(deg, "src")
            .join(pr.select(F.col("node").alias("src"), "pr"), "src")
            .select("dst", (F.col("pr") / F.col("deg")).alias("c"))
        )
        inc = contrib.groupBy(F.col("dst").alias("node")).agg(
            F.sum("c").alias("inc"))
        pr = (
            nodes.join(inc, "node", "left")
            .crossJoin(F.broadcast(sn))
            .select(
                "node",
                F.round(
                    F.when(seed_c,
                           (F.lit(1.0) - F.lit(d)) / F.col("s"))
                    .otherwise(F.lit(0.0))
                    + F.lit(d) * F.coalesce(F.col("inc"), F.lit(0.0)),
                    6,
                ).alias("pr"),
            )
        )
    top = pr.orderBy(F.col("pr").desc(), F.col("node").asc()).limit(k)
    w = F.row_number().over(Window.orderBy(F.col("pr").desc(),
                                           F.col("node").asc()))
    return (top.withColumn("rank", w)
            .select("rank", "node", "pr").orderBy("rank"))


def transform_pivot(events: DataFrame) -> DataFrame:
    """ES _transform (pivot mode): the continuous entity-centric
    materialization — one row per user with lifetime aggregates
    (ES pivot: group_by user, aggs count/conditional count/sum/max).
    ONE groupBy with map-side combine; every aggregate is mergeable, so
    the same plan serves the batch build and an incremental refresh.
    (user_id, n_events, n_error, sum_value, last_ts) ordered."""
    from pyspark.sql import functions as F

    return (
        events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.count(F.when(F.col("event_type") == "error", F.lit(1)))
            .cast("long").alias("n_error"),
            F.round(F.sum("value"), 6).alias("sum_value"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        )
        .orderBy("user_id")
    )


def transform_latest(events: DataFrame) -> DataFrame:
    """ES _transform (latest mode): the newest document per entity,
    materialized. sort-free max(struct(ts, event_id, ...)) — the
    downsample last_value idiom lifted to whole rows: the struct max
    collapses map-side, ordering key (ts, event_id) is unique so the
    winner is deterministic; never a per-user row_number window over raw
    events. (user_id, last_ts, event_id, event_type, value) ordered."""
    from pyspark.sql import functions as F

    best = events.groupBy("user_id").agg(
        F.max(F.struct("ts", "event_id", "event_type", "value")).alias("b")
    )
    return best.select(
        "user_id",
        F.date_format("b.ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        F.col("b.event_id").alias("event_id"),
        F.col("b.event_type").alias("event_type"),
        F.round(F.col("b.value"), 6).alias("value"),
    ).orderBy("user_id")


def graph_hits(orders: DataFrame, lineitem: DataFrame,
               iters: int = 2, k: int = 10) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) over the customer→supplier
    order graph — graph_pagerank's sibling centrality (the query-dependent
    ranking signal of the original paper, here run over the full graph).
    Each iteration: authority = Σ hub over in-edges, hub = Σ authority
    over out-edges. Normalization is by the MAX (order-independent, so
    cross-engine EXACT — an L1/L2 float sum would drift with partial-agg
    order) and every half-step is ROUNDED 6 (the chained-iteration
    convention shared with kmeans_train / graph_pagerank).

    Scale shape: per half-step ONE equi-join on a node key + ONE
    map-side-combined groupBy; the max rides a broadcast 1-row aggregate;
    no collect, no driver-side graph. (kind, rank, node, score) — top-k
    authorities then top-k hubs, (kind asc, rank asc)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    edges = _order_graph(orders, lineitem)
    h = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.lit(1.0).alias("s"))
    a = None
    for _ in range(int(iters)):
        a_raw = (edges.join(h.select(F.col("node").alias("src"), "s"), "src")
                 .groupBy(F.col("dst").alias("node"))
                 .agg(F.sum("s").alias("raw")))
        a_max = a_raw.agg(F.max("raw").alias("m"))
        a = (a_raw.crossJoin(F.broadcast(a_max))
             .select("node", F.round(F.col("raw") / F.col("m"), 6).alias("s")))
        h_raw = (edges.join(a.select(F.col("node").alias("dst"), "s"), "dst")
                 .groupBy(F.col("src").alias("node"))
                 .agg(F.sum("s").alias("raw")))
        h_max = h_raw.agg(F.max("raw").alias("m"))
        h = (h_raw.crossJoin(F.broadcast(h_max))
             .select("node", F.round(F.col("raw") / F.col("m"), 6).alias("s")))

    def _top(rel: DataFrame, kind: str) -> DataFrame:
        top = rel.orderBy(F.col("s").desc(), F.col("node").asc()).limit(int(k))
        w = F.row_number().over(
            Window.orderBy(F.col("s").desc(), F.col("node").asc()))
        return top.withColumn("rank", w).select(
            F.lit(kind).alias("kind"), "rank", "node",
            F.col("s").alias("score"))

    return (_top(a, "authority").unionByName(_top(h, "hub"))
            .orderBy("kind", "rank"))


def _funnel_stage_chain(events: DataFrame, steps: tuple,
                        window_h: int) -> list:
    """The min-anchor funnel stage chain — SHARED by funnel_steps and
    conversion_time_stats. stages[i] = (user_id, t) with t the earliest
    qualifying µs of step i (strictly after stage i-1's anchor, within
    the re-opened window)."""
    w_us = int(window_h) * 3_600_000_000
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    ev = events.select("user_id", "event_type", us.alias("us"))

    stage = (ev.filter(F.col("event_type") == steps[0])
             .groupBy("user_id").agg(F.min("us").alias("t")))
    stages = [stage]
    for s in steps[1:]:
        nxt = ev.filter(F.col("event_type") == s)
        stage = (
            nxt.join(stage, "user_id")
            .filter((F.col("us") > F.col("t"))
                    & (F.col("us") <= F.col("t") + F.lit(w_us)))
            .groupBy("user_id").agg(F.min("us").alias("t"))
        )
        stages.append(stage)
    return stages


def funnel_steps(events: DataFrame, steps: tuple = ("signup", "click",
                                                    "purchase"),
                 window_h: int = 24) -> DataFrame:
    """Ordered conversion funnel (the product-analytics staple — Mixpanel/
    Amplitude funnels; ES would express it as a scripted sequence agg):
    users who performed step[0], then step[1] STRICTLY after it within
    ``window_h`` hours, then step[2] after that, ... Each stage anchors on
    the user's EARLIEST qualifying event (min µs), so the funnel is
    deterministic under ties; the window re-opens from each stage's
    anchor (the Amplitude "conversion window per step" rule, shared with
    the oracle).

    Scale shape: one filtered groupBy(user_id) per step plus one
    user-keyed equi-join per transition — every shuffle is keyed by
    user_id with map-side combine; no windows, no collect, state per
    stage is one row per surviving user. (step_idx, step, n_users,
    pct_of_first), ordered by step_idx."""
    stages = _funnel_stage_chain(events, steps, int(window_h))
    first = stages[0].agg(F.count(F.lit(1)).alias("n0"))
    rows = None
    for i, (s, st) in enumerate(zip(steps, stages)):
        c = st.agg(F.count(F.lit(1)).cast("long").alias("n_users")).select(
            F.lit(i).alias("step_idx"), F.lit(s).alias("step"), "n_users")
        rows = c if rows is None else rows.unionByName(c)
    return (rows.crossJoin(F.broadcast(first))
            .select("step_idx", "step", "n_users",
                    F.round(F.col("n_users") / F.col("n0"), 6)
                    .alias("pct_of_first"))
            .orderBy("step_idx"))


def cohort_retention(events: DataFrame) -> DataFrame:
    """Cohort retention matrix (the other product-analytics staple):
    users are cohorted by the UTC day of their first event (exact
    integer-µs day key — the datastream zone idiom, never a float
    truncation at a bucket boundary); each later active day contributes
    to (cohort_day, day_offset). Counts are exact distinct users.

    Scale shape: one groupBy(user_id) for the cohort anchor, one
    user-keyed equi-join back to events, one groupBy((cohort, offset))
    distinct-count — all shuffles keyed by user or by the bounded
    (cohort, offset) grid; output is |days|² rows max.
    (cohort_day, day_offset, n_users), ordered."""
    day_us = 86_400_000_000
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    firsts = (events.select("user_id", us.alias("us"))
              .groupBy("user_id").agg(F.min("us").alias("t0")))
    joined = (events.select("user_id", us.alias("us"))
              .join(firsts, "user_id")
              .select(
                  "user_id",
                  F.expr(f"t0 DIV {day_us}").alias("cohort_day"),
                  (F.expr(f"us DIV {day_us}")
                   - F.expr(f"t0 DIV {day_us}")).alias("day_offset")))
    return (joined.groupBy("cohort_day", "day_offset")
            .agg(F.count_distinct("user_id").cast("long").alias("n_users"))
            .orderBy("cohort_day", "day_offset"))


def graph_bfs_hops(orders: DataFrame, lineitem: DataFrame,
                   seeds: list[int], max_hops: int = 3) -> DataFrame:
    """Relational BFS hop distance (unweighted SSSP) over the UNDIRECTED
    customer↔supplier order graph — the frontier-expansion primitive
    under graph_explore, k-hop neighborhoods, and blast-radius queries.
    dist(v) = min hops from any seed, computed by ``max_hops`` rounds of
    min-propagation: each round is ONE edge⋈dist equi-join + ONE
    groupBy(node) min — the dedup_clusters min-label shape with hop+1 in
    place of the label. Seeds enter both engines as literals; a seed
    absent from the graph contributes nothing (the PPR ∩-rule).

    Scale shape: every shuffle is keyed by a node id; the dist relation
    is ≤|nodes| rows; no collect, no driver-side frontier. Output is the
    bounded histogram (hops, n_nodes), ordered."""
    # sym is referenced once per hop round — without a lineage cut each
    # round replans the orders⋈lineitem+distinct+union subtree (max_hops
    # copies; at scale that is max_hops duplicate joins). No repartition
    # pin here: the per-round edge⋈dist join is ~1:1, not exploding, and
    # an alternating A/B showed the pinned extra shuffle costing ~0.4s at
    # sf0.1 (the link_prediction pin rule applies to FAN-OUT stages only).
    sym = _order_graph_sym(orders, lineitem).localCheckpoint()
    nodes = sym.select(F.col("src").alias("node")).distinct()
    dist = (nodes.filter(F.col("node").isin([int(s) for s in seeds]))
            .select("node", F.lit(0).cast("long").alias("d")))
    for _ in range(int(max_hops)):
        nxt = (sym.join(dist.select(F.col("node").alias("src"), "d"), "src")
               .select(F.col("dst").alias("node"),
                       (F.col("d") + F.lit(1)).alias("d")))
        dist = (dist.unionByName(nxt)
                .groupBy("node").agg(F.min("d").alias("d")))
    return (dist.groupBy(F.col("d").alias("hops"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
            .orderBy("hops"))


def event_transitions(events: DataFrame) -> DataFrame:
    """Next-event transition matrix (Markov path analysis — the Sankey /
    user-flow view product analytics builds over clickstreams): for each
    user's events in (ts, event_id) order, count (from_type → to_type)
    consecutive pairs and the row-normalized transition probability.

    Scale shape: ONE lead() window partitioned by user_id (user-keyed
    shuffle, no global window) collapses to the |types|²-bounded
    transition relation; the row normalizer is a count window over that
    bounded relation only. (from_type, to_type, n, p), ordered."""
    from pyspark.sql.window import Window

    us = F.unix_micros(F.col("ts").cast("timestamp"))
    ev = events.select("user_id", "event_type", us.alias("us"), "event_id")
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    pairs = (ev.withColumn("to_type", F.lead("event_type").over(w))
             .filter(F.col("to_type").isNotNull())
             .groupBy(F.col("event_type").alias("from_type"), "to_type")
             .agg(F.count(F.lit(1)).cast("long").alias("n")))
    tot = Window.partitionBy("from_type")
    return (pairs.withColumn(
                "p", F.round(F.col("n") / F.sum("n").over(tot), 6))
            .orderBy("from_type", "to_type"))


def rfm_segments(events: DataFrame, buckets: int = 4) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary — the classic
    marketing-analytics quartile scoring): per user over purchase events,
    R = days since last purchase (vs the corpus max day, exact integer-µs
    day keys), F = purchase count, M = rounded value sum; each scored
    ntile(buckets) with deterministic (metric, user_id) ordering (the
    ccnet_buckets round-before-order rule). Output is the bounded
    (r_score, f_score, m_score) segment grid with user counts.

    Scale shape: one groupBy(user_id) + a 1-row broadcast corpus-max;
    the ntile windows run over the |users|-row aggregate relation —
    global windows, but on the REDUCED per-user relation, the same
    envelope class as topk's final rank."""
    from pyspark.sql.window import Window

    us = F.unix_micros(F.col("ts").cast("timestamp"))
    p = events.filter(F.col("event_type") == "purchase").select(
        "user_id", us.alias("us"), "value")
    per_user = p.groupBy("user_id").agg(
        F.max("us").alias("last_us"),
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.round(F.sum("value"), 6).alias("monetary"))
    return rfm_from_per_user(per_user, buckets)


def rfm_from_per_user(per_user: DataFrame, buckets: int = 4) -> DataFrame:
    """The RFM scoring tail over a (user_id, last_us, freq, monetary)
    relation — SHARED by rfm_segments and streaming.stream_rfm_segments
    (last_us max-merges, freq/monetary sum-merge, so the folded state IS
    this relation)."""
    from pyspark.sql.window import Window

    day_us = 86_400_000_000
    mx = per_user.agg(F.max("last_us").alias("max_us"))
    scored = (per_user.crossJoin(F.broadcast(mx))
              .select(
                  "user_id", "freq", "monetary",
                  (F.expr(f"max_us DIV {day_us}")
                   - F.expr(f"last_us DIV {day_us}")).alias("r_days")))
    b = int(buckets)
    r_w = Window.orderBy(F.col("r_days").asc(), F.col("user_id").asc())
    f_w = Window.orderBy(F.col("freq").desc(), F.col("user_id").asc())
    m_w = Window.orderBy(F.col("monetary").desc(), F.col("user_id").asc())
    seg = scored.select(
        F.ntile(b).over(r_w).alias("r_score"),
        F.ntile(b).over(f_w).alias("f_score"),
        F.ntile(b).over(m_w).alias("m_score"),
        "monetary")
    return (seg.groupBy("r_score", "f_score", "m_score")
            .agg(F.count(F.lit(1)).cast("long").alias("n_users"),
                 F.round(F.sum("monetary"), 6).alias("sum_monetary"))
            .orderBy("r_score", "f_score", "m_score"))


def association_rules(events: DataFrame, min_support: int = 3,
                      k: int = 20) -> DataFrame:
    """Association rules over the frequent_item_sets relation (Agrawal &
    Srikant, VLDB 1994): for each frequent pair {A,B}, both directed
    rules with

        confidence(A→B) = s_AB / s_A
        lift(A→B)       = confidence / (s_B / n_baskets)

    (operand order pinned to the oracle; rounded 6). Same apriori-pruned
    pair join as frequent_item_sets — the rule derivation itself runs
    over the |types|²-bounded pair relation plus the broadcast 1-row
    basket count. (antecedent, consequent, support, confidence, lift),
    confidence desc top-k."""
    ui = events.select("user_id", "event_type").distinct()
    n = ui.select("user_id").distinct().agg(
        F.count(F.lit(1)).alias("n_baskets"))
    s1 = (ui.groupBy("event_type")
          .agg(F.count(F.lit(1)).cast("long").alias("s1"))
          .filter(F.col("s1") >= min_support))
    uif = ui.join(F.broadcast(s1.select("event_type")), "event_type").select(
        "user_id", "event_type")
    a = uif.alias("a")
    b = uif.alias("b")
    pairs = (
        a.join(b, (F.col("a.user_id") == F.col("b.user_id"))
               & (F.col("a.event_type") < F.col("b.event_type")))
        .groupBy(F.col("a.event_type").alias("item_a"),
                 F.col("b.event_type").alias("item_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .filter(F.col("support") >= min_support)
    )
    both = pairs.select(F.col("item_a").alias("antecedent"),
                        F.col("item_b").alias("consequent"), "support") \
        .unionByName(pairs.select(F.col("item_b").alias("antecedent"),
                                  F.col("item_a").alias("consequent"),
                                  "support"))
    sa = s1.select(F.col("event_type").alias("antecedent"),
                   F.col("s1").alias("s_a"))
    sb = s1.select(F.col("event_type").alias("consequent"),
                   F.col("s1").alias("s_b"))
    rules = (both.join(F.broadcast(sa), "antecedent")
             .join(F.broadcast(sb), "consequent")
             .crossJoin(F.broadcast(n))
             .select(
                 "antecedent", "consequent", "support",
                 F.round(F.col("support") / F.col("s_a"), 6)
                 .alias("confidence"),
                 F.round((F.col("support") / F.col("s_a"))
                         / (F.col("s_b") / F.col("n_baskets")), 6)
                 .alias("lift")))
    return rules.orderBy(F.col("confidence").desc(),
                         F.col("antecedent").asc(),
                         F.col("consequent").asc()).limit(int(k))


def conversion_time_stats(events: DataFrame,
                          steps: tuple = ("signup", "click", "purchase"),
                          window_h: int = 24) -> DataFrame:
    """Time-to-convert distribution per funnel transition (the funnel's
    companion metric): for each step i>0, the latency t_i − t_{i−1} in
    seconds over converting users, with exact interpolated median and p90
    (Spark `percentile` == DuckDB quantile_cont — the boxplot parity
    precedent). Shares the min-anchor stage chain with funnel_steps.

    Scale shape: one user-keyed equi-join per transition over the already
    -reduced stage relations; each stats row is a per-transition
    aggregate with map-side partials. (step_idx, step, n_converted,
    median_s, p90_s), ordered."""
    stages = _funnel_stage_chain(events, steps, int(window_h))
    rows = None
    for i in range(1, len(steps)):
        prev = stages[i - 1].select("user_id", F.col("t").alias("tp"))
        cur = stages[i].select("user_id", "t")
        lat = cur.join(prev, "user_id").select(
            ((F.col("t") - F.col("tp")) / F.lit(1_000_000.0)).alias("lat_s"))
        r = lat.agg(
            F.count(F.lit(1)).cast("long").alias("n_converted"),
            F.round(F.expr("percentile(lat_s, 0.5)"), 6).alias("median_s"),
            F.round(F.expr("percentile(lat_s, 0.9)"), 6).alias("p90_s"),
        ).select(F.lit(i).alias("step_idx"), F.lit(steps[i]).alias("step"),
                 "n_converted", "median_s", "p90_s")
        rows = r if rows is None else rows.unionByName(r)
    return rows.orderBy("step_idx")


def rolling_active_users(events: DataFrame, window_days: int = 7) -> DataFrame:
    """Rolling active-user counts (the DAU/WAU engagement staple): per UTC
    day, the exact distinct users active that day (dau) and within the
    trailing ``window_days`` window (wau). Sliding EXACT distinct doesn't
    decompose, so the window count joins the tiny distinct-day relation
    against the (day, user) distinct relation on a bounded day-range —
    the broadcast side is |days| rows, the big side is reduced to one row
    per (day, user) first.

    Scale shape: one distinct over (day, user) — user-keyed shuffle with
    map-side partials; the range join broadcasts |days| rows; final
    groupBy keys are days. (day, dau, wau), ordered by day."""
    day_us = 86_400_000_000
    du = (events.select(F.expr(
        f"unix_micros(CAST(ts AS TIMESTAMP)) DIV {day_us}").alias("day"),
        "user_id").distinct())
    return active_users_from_distinct(du, window_days)


def active_users_from_distinct(du: DataFrame,
                               window_days: int = 7) -> DataFrame:
    """The DAU/WAU tail over a DISTINCT (day, user_id) relation — SHARED
    by rolling_active_users and streaming.stream_active_users (the
    union-closed distinct state is exactly this relation)."""
    dau = du.groupBy("day").agg(
        F.count_distinct("user_id").cast("long").alias("dau"))
    days = du.select(F.col("day").alias("d")).distinct()
    wau = (du.join(F.broadcast(days),
                   (F.col("day") <= F.col("d"))
                   & (F.col("day") > F.col("d") - F.lit(int(window_days))))
           .groupBy("d")
           .agg(F.count_distinct("user_id").cast("long").alias("wau")))
    return (dau.join(wau, dau["day"] == wau["d"])
            .select("day", "dau", "wau")
            .orderBy("day"))


def profile_table(df: DataFrame, columns: tuple = ()) -> DataFrame:
    """Column profiling (the Deequ / Great-Expectations analyzer pass a
    100 TB ingest runs before training): per column, null count and exact
    distinct count, plus the table row count — ALL metrics computed in
    ONE aggregate pass over the input (conditional aggregates, the
    adjacency_matrix shape), then unpivoted to the bounded per-column
    relation. (column, n_nulls, n_distinct), ordered by column; row count
    rides every row as n_rows."""
    cols = sorted(columns) if columns else sorted(df.columns)
    aggs = [F.count(F.lit(1)).cast("long").alias("__n")]
    for i, c in enumerate(cols):
        aggs.append(F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
                    .cast("long").alias(f"z{i}"))
        aggs.append(F.count_distinct(F.col(c)).cast("long").alias(f"d{i}"))
    wide = df.agg(*aggs)
    rows = F.array(*[
        F.struct(F.lit(c).alias("column"),
                 F.col(f"z{i}").alias("n_nulls"),
                 F.col(f"d{i}").alias("n_distinct"))
        for i, c in enumerate(cols)
    ])
    return (wide.select(F.col("__n").alias("n_rows"),
                        F.explode(rows).alias("r"))
            .select("r.column", "n_rows", "r.n_nulls", "r.n_distinct")
            .orderBy("column"))


def constraint_audit(events: DataFrame) -> DataFrame:
    """Data-quality constraint audit (the Deequ verification suite): each
    constraint contributes a violation count from the SAME single
    aggregate pass — uniqueness via count−distinct, completeness via null
    counts, range/domain checks via conditional sums. passed = 0/1 (kept
    integer — cross-engine boolean fetch is type-fragile).
    (constraint, n_violations, passed), ordered by constraint."""
    ts_lo = F.lit("2023-01-01 00:00:00").cast("timestamp")
    ts_hi = F.lit("2027-01-01 00:00:00").cast("timestamp")
    types = ["click", "error", "purchase", "signup", "view"]
    wide = events.agg(
        (F.count(F.lit(1)) - F.count_distinct("event_id"))
        .cast("long").alias("uniq"),
        F.sum(F.when(F.col("user_id").isNull(), 1).otherwise(0))
        .cast("long").alias("comp"),
        F.sum(F.when((F.col("ts") < ts_lo) | (F.col("ts") > ts_hi), 1)
              .otherwise(0)).cast("long").alias("rng"),
        F.sum(F.when(F.col("value") < 0, 1).otherwise(0))
        .cast("long").alias("nonneg"),
        F.sum(F.when(~F.col("event_type").isin(types), 1).otherwise(0))
        .cast("long").alias("dom"),
    )
    names = [("completeness_user_id", "comp"),
             ("domain_event_type", "dom"),
             ("nonnegative_value", "nonneg"),
             ("range_ts", "rng"),
             ("unique_event_id", "uniq")]
    rows = F.array(*[
        F.struct(F.lit(n).alias("constraint"),
                 F.col(a).alias("n_violations"),
                 F.when(F.col(a) == 0, F.lit(1)).otherwise(F.lit(0))
                 .cast("long").alias("passed"))
        for n, a in names
    ])
    return (wide.select(F.explode(rows).alias("r"))
            .select("r.constraint", "r.n_violations", "r.passed")
            .orderBy("constraint"))


def attribution(events: DataFrame,
                conversion: str = "purchase",
                channels: tuple = ("click", "signup", "view"),
                window_h: int = 72) -> DataFrame:
    """Multi-touch marketing attribution (the GA/Adjust staple; the
    reference's event pipeline stops at error counting — this is the
    conversion-credit extension every analytics user layers on top):
    for each conversion event, the user's touch events strictly before it
    within ``window_h`` hours share the credit under three models at
    once — first_touch (earliest touch takes 1), last_touch (latest takes
    1), linear (1/n each). Touch ordering is (µs, event_id) — event_id
    unique, so first/last are deterministic under timestamp ties.

    Scale shape: conversions ⋈ touches is ONE user-keyed equi-join with
    the time window as a residual predicate (co-partitioned by user_id —
    never a range join over the whole table); first/last collapse via
    groupBy(conversion).agg(min_by/max_by) (map-side partials, the
    _assign_to_centroids sort-free shape — no per-conversion row_number
    window); linear joins the per-conversion touch count back on the
    conversion key. Output is |channels| rows.
    (channel, first_touch, last_touch, linear), ordered by channel."""
    w_us = int(window_h) * 3_600_000_000
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    ev = events.select("user_id", "event_id", "event_type", us.alias("us"))
    conv = (ev.filter(F.col("event_type") == conversion)
            .select("user_id", F.col("event_id").alias("conv_id"),
                    F.col("us").alias("cus")))
    touch = (ev.filter(F.col("event_type").isin(list(channels)))
             .select("user_id", F.col("event_type").alias("channel"),
                     "us", "event_id"))
    j = (conv.join(touch, "user_id")
         .filter((F.col("us") < F.col("cus"))
                 & (F.col("us") >= F.col("cus") - F.lit(w_us)))
         .select("conv_id", "channel", "us", "event_id"))

    def _pick(agg_fn) -> DataFrame:
        picked = j.groupBy("conv_id").agg(
            agg_fn(F.col("channel"),
                   F.struct(F.col("us"), F.col("event_id"))).alias("channel"))
        return picked.groupBy("channel").agg(
            F.count(F.lit(1)).cast("long").alias("n"))

    first = _pick(F.min_by).withColumnRenamed("n", "first_touch")
    last = _pick(F.max_by).withColumnRenamed("n", "last_touch")
    n_per = j.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n_t"))
    linear = (j.join(n_per, "conv_id")
              .groupBy("channel")
              .agg(F.round(F.sum(F.lit(1.0) / F.col("n_t")), 6).alias("linear")))
    base = j.select("channel").distinct()
    return (base.join(first, "channel", "left")
            .join(last, "channel", "left")
            .join(linear, "channel", "left")
            .select("channel",
                    F.coalesce("first_touch", F.lit(0)).alias("first_touch"),
                    F.coalesce("last_touch", F.lit(0)).alias("last_touch"),
                    F.coalesce("linear", F.lit(0.0)).alias("linear"))
            .orderBy("channel"))


def top_paths(events: DataFrame, path_len: int = 5, k: int = 20) -> DataFrame:
    """Top user journeys: each user's first ``path_len`` events (ordered
    by µs then event_id) joined into a '>'-separated path string, counted
    across users, top ``k`` paths (count desc, path asc).

    Scale shape: ONE window partitioned by user_id (bounded per user, the
    only shuffle) prunes to ≤ path_len rows/user BEFORE the collect;
    the per-user assembly sorts ≤ path_len structs row-local; the path
    count is a map-side-combined groupBy; the finish is
    TakeOrderedAndProject. (rank, path, n_users), ordered by rank."""
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    ev = events.select("user_id", "event_type", us.alias("us"), "event_id")
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    pruned = (ev.withColumn("rn", F.row_number().over(w))
              .filter(F.col("rn") <= int(path_len)))
    paths = (pruned.groupBy("user_id")
             .agg(F.array_sort(F.collect_list(
                 F.struct(F.col("rn"), F.col("event_type")))).alias("s"))
             .select(F.array_join(
                 F.transform(F.col("s"), lambda x: x["event_type"]),
                 ">").alias("path")))
    counts = paths.groupBy("path").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"))
    top = counts.orderBy(F.col("n_users").desc(), F.col("path").asc()).limit(int(k))
    rw = F.row_number().over(Window.orderBy(F.col("n_users").desc(),
                                            F.col("path").asc()))
    return (top.withColumn("rank", rw)
            .select("rank", "path", "n_users").orderBy("rank"))


def holt_linear(events: DataFrame) -> DataFrame:
    """ES moving_fn with MovingFunctions.holt (double exponential
    smoothing / Holt linear trend) over per-day bucket sums: two coupled
    states — level and trend —

        l_t = x_t·α + (l_{t-1} + b_{t-1})·(1-α)
        b_t = (l_t − l_{t-1})·β + b_{t-1}·(1-β)

    seeded l_1 = x_1, b_1 = 0. α = β = 0.5, FIXED DYADIC (the moving_ewma
    rule: every step is an exact halving + IEEE add, so the fold is
    bit-identical cross-engine). The Spark side folds the ordered prefix
    with a STRUCT accumulator; DuckDB's list_reduce can't carry a struct,
    so the oracle runs the identical recurrence as a recursive CTE keyed
    on the bucket row number — same operand order, same seeds.

    Scale shape: one map-side-combined groupBy to buckets; the window +
    fold run over the bucket relation only (rows == distinct days).
    (day, sum_value, holt_level, holt_forecast) ordered by day, where
    holt_forecast = l_t + b_t (the one-step-ahead forecast)."""
    buckets = (
        events.groupBy(F.date_format(F.date_trunc("day", F.col("ts")),
                                     "yyyy-MM-dd").alias("day"))
        .agg(F.round(F.sum("value"), 6).alias("sum_value"))
    )
    w = (Window.orderBy("day")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    st = F.expr(
        "aggregate(slice(__vals, 2, size(__vals)), "
        "named_struct('l', element_at(__vals, 1), 'b', 0.0D), "
        "(a, x) -> named_struct("
        "'l', x * 0.5D + (a.l + a.b) * 0.5D, "
        "'b', ((x * 0.5D + (a.l + a.b) * 0.5D) - a.l) * 0.5D + a.b * 0.5D))"
    )
    return (buckets
            .withColumn("__vals", F.collect_list("sum_value").over(w))
            .withColumn("__st", st)
            .select("day", "sum_value",
                    F.round(F.col("__st.l"), 6).alias("holt_level"),
                    F.round(F.col("__st.l") + F.col("__st.b"), 6)
                    .alias("holt_forecast"))
            .orderBy("day"))


def _order_graph(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """The distinct customer→supplier order-graph edges (src, dst) — the
    edge derivation every order-graph kernel shares (suppliers offset by
    10^9 into the shared node-id space)."""
    return (
        orders.join(lineitem,
                    orders["o_orderkey"] == lineitem["l_orderkey"])
        .select(F.col("o_custkey").alias("src"),
                (F.lit(10**9) + F.col("l_suppkey")).alias("dst"))
        .distinct()
    )


def _order_graph_sym(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """The symmetric customer↔supplier order graph (src, dst): both
    directions of every ``_order_graph`` edge (graph_bfs_hops /
    graph_kcore / link_prediction)."""
    edges = _order_graph(orders, lineitem)
    return edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


def graph_kcore(orders: DataFrame, lineitem: DataFrame,
                k: int = 3, rounds: int = 5) -> DataFrame:
    """k-core decomposition (the classic graph-pruning kernel — community
    cores, spam/bot subgraph mining): iteratively delete nodes with degree
    < k until fixpoint; here ``rounds`` fixed peeling rounds (the
    graph_pagerank fixed-iteration convention — the fixture converges well
    inside 5; test asserts the fixpoint). Each round is ONE
    groupBy(node) degree count + TWO node-keyed semi-joins — never a
    collect; the surviving-edge relation shrinks monotonically.

    Scale shape: all shuffles keyed by node id; output is the bounded
    degree histogram of the k-core. (degree, n_nodes) ordered."""
    # Each round references the previous edge relation three times (degree
    # agg + both endpoint semi-joins) — without a lineage cut the plan
    # grows 3^rounds subtree copies and planning alone dominates.
    # localCheckpoint every SECOND round truncates it while halving the
    # materialization jobs (3² = 9 subtree copies per segment plans fine;
    # per-round checkpoints spent more wall in job overhead than they
    # saved — 4.3s → 3.7s at sf0.1/32cpu; at cluster scale this is where
    # you'd persist).
    sym = _order_graph_sym(orders, lineitem).localCheckpoint()
    for r in range(int(rounds)):
        deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        keep = deg.filter(F.col("d") >= int(k)).select("src")
        sym = (sym.join(keep, "src", "left_semi")
               .join(keep.select(F.col("src").alias("dst")),
                     "dst", "left_semi"))
        if r % 2 == 1 and r != int(rounds) - 1:
            sym = sym.localCheckpoint()
    final_deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
    return (final_deg.groupBy("degree")
            .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
            .orderBy("degree"))


def link_prediction(orders: DataFrame, lineitem: DataFrame,
                    k: int = 20, max_deg: int = 64) -> DataFrame:
    """Adamic-Adar link prediction (Adamic & Adar, Social Networks'03):
    for supplier pairs co-purchased by ≥1 shared customer,
    AA(u,v) = Σ_{c ∈ N(u)∩N(v)} 1/ln(deg(c)) — the classic
    "related items" / recommendation kernel, witnessed through customers.

    Scale shape: candidate pairs are generated through the shared-
    witness equi-join (the token_graph_triangles a<b shape — each pair
    once per witness c), with a degree cap on the witness (``max_deg``)
    — the hot-hub guard: a super-connector's 1/ln(deg) contribution is
    negligible but its pair fan-out is deg², so capped witnesses bound
    the join at |edges|·max_deg (the containment_pairs df-cap rule).
    Scores rounded 6 before ordering. (rank, sup_a, sup_b, aa_score)."""
    # One PINNED exchange by cust feeds everything: the distinct and the
    # degree count run on hashpartitioning(cust) (clustered-distribution
    # subset rule — no further exchange), the witness degree is a window
    # count instead of a deg-relation join (kills 3 duplicated
    # orders⋈lineitem subtrees the old deg/witness joins planned), and the
    # pair self-join is colocated on the same partitioning. The explicit
    # repartition count matters: AQE sizes the post-shuffle stage by INPUT
    # bytes (~14 MB here → 1 task) but this stage fans out |edges|·max_deg
    # pair rows — the exploding stage must be sized to the cluster, not to
    # its input (the build.py encode-exchange rule). Measured 6.4s → 2.8s
    # at sf0.1/32cpu; the single-task collapse is witnessed in
    # OPTIMIZATION_r06.md.
    n_parts = int(orders.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    csd = (
        orders.join(lineitem,
                    orders["o_orderkey"] == lineitem["l_orderkey"])
        .select(F.col("o_custkey").alias("cust"),
                F.col("l_suppkey").alias("sup"))
        .repartition(n_parts, "cust")
        .distinct()
        .withColumn("d", F.count(F.lit(1)).over(Window.partitionBy("cust")))
        .filter((F.col("d") <= int(max_deg)) & (F.col("d") >= 2))
    )
    a = csd.select("cust", F.col("sup").alias("sup_a"), "d")
    b = csd.select("cust", F.col("sup").alias("sup_b"))
    pairs = (a.join(b, "cust")
             .filter(F.col("sup_a") < F.col("sup_b"))
             .groupBy("sup_a", "sup_b")
             .agg(F.round(F.sum(F.lit(1.0) / F.log(F.col("d"))), 6)
                  .alias("aa_score")))
    top = pairs.orderBy(F.col("aa_score").desc(), F.col("sup_a").asc(),
                        F.col("sup_b").asc()).limit(int(k))
    w = Window.orderBy(F.col("aa_score").desc(), F.col("sup_a").asc(),
                       F.col("sup_b").asc())
    return (top.withColumn("rank", F.row_number().over(w))
            .select("rank", "sup_a", "sup_b", "aa_score").orderBy("rank"))


def bootstrap_ci(events: DataFrame, n_reps: int = 32,
                 lo: float = 0.05, hi: float = 0.95) -> DataFrame:
    """Deterministic half-sample bootstrap CI for mean(value) per
    event_type (the practical CI recipe at data sizes where classic
    resampling is impossible): replicate b keeps the rows with
    hash60(event_id:b) even — a 50% subsample bootstrap, fully
    deterministic and identical in both engines — and the CI is the
    exact interpolated [lo, hi] quantile over the ``n_reps`` ROUNDED
    replicate means (the round-before-order rule).

    Scale shape: ALL replicates come from ONE conditional-aggregate pass
    (the adjacency_matrix shape — 2·n_reps agg columns, never n_reps
    scans); the unpivot + quantile run over the bounded
    |event_types|·n_reps relation. (event_type, mean_full, ci_lo, ci_hi)
    ordered by event_type."""
    from .portable import hash60

    def keep(b: int) -> F.Column:
        return F.pmod(
            hash60(F.concat_ws(":", F.col("event_id").cast("string"),
                               F.lit(str(b)))),
            F.lit(2)) == 0

    aggs = [F.round(F.avg("value"), 6).alias("mean_full")]
    for b in range(int(n_reps)):
        kb = keep(b)
        aggs.append(F.sum(F.when(kb, F.col("value"))).alias(f"__s{b}"))
        aggs.append(F.count(F.when(kb, F.lit(1))).alias(f"__n{b}"))
    wide = events.groupBy("event_type").agg(*aggs)
    means = F.array(*[
        F.round(F.col(f"__s{b}") / F.col(f"__n{b}"), 6)
        for b in range(int(n_reps))
    ])
    reps = (wide.select("event_type", "mean_full",
                        F.explode(means).alias("m")))
    return (reps.groupBy("event_type")
            .agg(F.min("mean_full").alias("mean_full"),
                 F.round(F.percentile(F.col("m"), F.lit(float(lo))), 6)
                 .alias("ci_lo"),
                 F.round(F.percentile(F.col("m"), F.lit(float(hi))), 6)
                 .alias("ci_hi"))
            .orderBy("event_type"))


def theil_sen_trend(events: DataFrame) -> DataFrame:
    """Theil-Sen robust trend (Theil'50/Sen'68 — the median-of-pairwise-
    slopes estimator, immune to outlier days): over per-day bucket sums,
    slope = median over all day pairs of (v_j−v_i)/(d_j−d_i), intercept =
    median of (v_i − slope·d_i). Slopes and intercept candidates are
    ROUNDED 6 before the medians (round-before-order); medians are exact
    interpolated percentiles (Spark `percentile` == DuckDB quantile_cont).

    Scale shape: the pair join runs over the BUCKET relation only
    (|days|² pairs, never the corpus); the raw events collapse in one
    map-side-combined groupBy. One row out:
    (n_days, ts_slope, ts_intercept)."""
    day_us = 86_400_000_000
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    buckets = (events.select(us.alias("us"), "value")
               .groupBy(F.expr(f"us DIV {day_us}").alias("d"))
               .agg(F.round(F.sum("value"), 6).alias("v")))
    return theil_sen_from_buckets(buckets)


def theil_sen_from_buckets(buckets: DataFrame) -> DataFrame:
    """The Theil-Sen tail over a (d, v) bucket relation — SHARED by
    theil_sen_trend and streaming.stream_theil_sen (the
    ewma_from_buckets rule: stream == batch by construction)."""
    a = buckets.select(F.col("d").alias("da"), F.col("v").alias("va"))
    b = buckets.select(F.col("d").alias("db"), F.col("v").alias("vb"))
    slopes = (a.join(b, F.col("da") < F.col("db"))
              .select(F.round((F.col("vb") - F.col("va"))
                              / (F.col("db") - F.col("da")).cast("double"),
                              6).alias("s")))
    sm = slopes.agg(
        F.round(F.percentile(F.col("s"), F.lit(0.5)), 6).alias("ts_slope"))
    icands = (buckets.crossJoin(F.broadcast(sm))
              .select("ts_slope",
                      F.round(F.col("v") - F.col("ts_slope") * F.col("d"), 6)
                      .alias("ic")))
    nd = buckets.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    return (icands.groupBy("ts_slope")
            .agg(F.round(F.percentile(F.col("ic"), F.lit(0.5)), 6)
                 .alias("ts_intercept"))
            .crossJoin(F.broadcast(nd))
            .select("n_days", "ts_slope", "ts_intercept"))


def target_encode(events: DataFrame, alpha: int = 8) -> DataFrame:
    """Smoothed target encoding (the CatBoost/feature-engineering staple):
    per category (event_type), enc = (Σ target + µ·α)/(n + α) with the
    global mean µ as the Bayesian prior — plus the mean LEAVE-ONE-OUT
    encoding ((Σ−x_i + µ·α)/(n−1+α) averaged over the category's rows,
    computed in CLOSED FORM from the same aggregates, never per-row).
    α is a dyadic integer so the smoothing arithmetic is exact.

    Scale shape: ONE map-side-combined groupBy + one broadcast 1-row
    global aggregate; output is |categories| rows.
    (event_type, n, enc, enc_loo) ordered by event_type."""
    g = events.agg(F.avg("value").alias("mu"))
    per = events.groupBy("event_type").agg(
        F.sum("value").alias("s"), F.count(F.lit(1)).alias("n"))
    a = float(int(alpha))
    enc = (F.col("s") + F.col("mu") * F.lit(a)) / (F.col("n") + F.lit(a))
    # mean over rows i of (s - x_i + mu*a)/(n-1+a)
    #   = (n*s - s + n*mu*a)/(n*(n-1+a))  — closed form, no per-row pass
    loo = (F.col("n") * F.col("s") - F.col("s")
           + F.col("n") * F.col("mu") * F.lit(a)) \
        / (F.col("n") * (F.col("n") - F.lit(1.0) + F.lit(a)))
    return (per.crossJoin(F.broadcast(g))
            .select("event_type", F.col("n").cast("long").alias("n"),
                    F.round(enc, 6).alias("enc"),
                    F.round(loo, 6).alias("enc_loo"))
            .orderBy("event_type"))


# Benford expected first-digit probabilities — computed driver-side and
# templated into BOTH engines as literals (math.log10; never recomputed
# in-engine).
import math as _math

BENFORD_P = {d: _math.log10(1.0 + 1.0 / d) for d in range(1, 10)}


def _first_digit_col(v: F.Column) -> F.Column:
    """First significant digit of a positive double via an IEEE-exact
    comparison ladder over power-of-ten literals (range [1e-3, 1e6)) —
    NEVER log10 (a value sitting on a power-of-ten boundary could flip
    digits across engines) and NEVER float-to-string formatting (the
    geo_line rule). Out-of-range values yield NULL and are dropped."""
    ladder = F.when(v >= F.lit(1e6), F.lit(None).cast("long"))
    for e in range(5, -4, -1):
        p = float(10.0 ** e)
        ladder = ladder.when(v >= F.lit(p), F.floor(v / F.lit(p)))
    return ladder.otherwise(F.lit(None).cast("long"))


def benford_audit(events: DataFrame) -> DataFrame:
    """Benford's-law first-digit audit (the forensic-accounting staple):
    observed first-significant-digit counts of the positive values vs the
    Benford expectation n·log10(1+1/d), with the per-digit chi² term.
    All 9 digits always appear (zero-count digits included via the
    9-row literal digit relation).

    Scale shape: ONE filtered groupBy(digit) over a row-local CASE
    ladder + a broadcast 1-row total; output is 9 rows.
    (digit, n_obs, exp_n, chi2_term) ordered by digit."""
    spark = events.sparkSession
    pos = events.filter(F.col("value") > 0)
    counts = (pos.select(_first_digit_col(F.col("value")).alias("digit"))
              .filter(F.col("digit").isNotNull())
              .groupBy("digit").agg(F.count(F.lit(1)).alias("n_obs")))
    n = pos.select(_first_digit_col(F.col("value")).alias("digit")) \
        .filter(F.col("digit").isNotNull()) \
        .agg(F.count(F.lit(1)).alias("n"))
    dig = spark.createDataFrame(
        [(d, BENFORD_P[d]) for d in range(1, 10)], "digit long, p double")
    j = (dig.join(counts, "digit", "left")
         .crossJoin(F.broadcast(n))
         .select("digit",
                 F.coalesce("n_obs", F.lit(0)).cast("long").alias("n_obs"),
                 (F.col("n") * F.col("p")).alias("__e")))
    err = F.col("n_obs") - F.col("__e")
    return (j.select("digit", "n_obs",
                     F.round(F.col("__e"), 6).alias("exp_n"),
                     F.round(err * err / F.col("__e"), 6).alias("chi2_term"))
            .orderBy("digit"))


# Exact Shapley weights/pairs for a channel set — built driver-side and
# templated into BOTH engines (weights 1/3, 1/6 are shared float literals,
# the gauss-lambda rule).
def _shapley_pairs(channels: tuple) -> list[tuple]:
    """(subset_without, subset_with, channel, weight) for every channel c
    and every subset S ⊆ C\\{c}; subsets keyed as comma-joined sorted
    strings. w(|S|) = |S|!·(n−1−|S|)!/n!."""
    import itertools
    import math as m

    chans = sorted(channels)
    n = len(chans)
    pairs = []
    for c in chans:
        rest = [x for x in chans if x != c]
        for r in range(len(rest) + 1):
            for s in itertools.combinations(rest, r):
                w = (m.factorial(r) * m.factorial(n - 1 - r)) / m.factorial(n)
                pairs.append((",".join(s), ",".join(sorted([*s, c])), c, w))
    return pairs


def shapley_attribution(events: DataFrame,
                        conversion: str = "purchase",
                        channels: tuple = ("click", "signup", "view"),
                        ) -> DataFrame:
    """Exact Shapley-value attribution (the game-theoretic model — each
    channel's marginal contribution averaged over all orderings): the
    coalition value v(S) is the conversion rate of users whose touched
    channel set is exactly S, and with |channels| small the 2^n subsets
    are enumerable so Shapley is EXACT — no sampling, no Markov
    approximation. φ_c = Σ_{S⊆C∖{c}} w(|S|)·(v(S∪{c})−v(S)).

    Scale shape: ONE groupBy(user) collapses the corpus to a user-level
    (subset-key, converted) relation; ONE groupBy(subset) gives the ≤2^n
    coalition rates; the Shapley sum is a broadcast join against the
    literal pairs table (3·2^(n-1) rows). Efficiency law
    Σφ = v(full) − v(∅) tested. (channel, shapley) ordered by channel."""
    ch_list = sorted(channels)
    per_user = (events
                .groupBy("user_id")
                .agg(
                    F.array_join(F.array_sort(F.collect_set(
                        F.when(F.col("event_type").isin(ch_list),
                               F.col("event_type")))), ",").alias("sub"),
                    F.max(F.when(F.col("event_type") == conversion, 1)
                          .otherwise(0)).alias("conv")))
    rates = (per_user.groupBy("sub")
             .agg((F.sum("conv").cast("double")
                   / F.count(F.lit(1))).alias("v")))
    spark = events.sparkSession
    pairs = spark.createDataFrame(
        _shapley_pairs(channels),
        "s_without string, s_with string, channel string, w double")
    vw = rates.select(F.col("sub").alias("s_with"),
                      F.col("v").alias("v_with"))
    vo = rates.select(F.col("sub").alias("s_without"),
                      F.col("v").alias("v_without"))
    j = (pairs.join(F.broadcast(vw), "s_with", "left")
         .join(F.broadcast(vo), "s_without", "left")
         .select("channel",
                 (F.col("w") * (F.coalesce("v_with", F.lit(0.0))
                                - F.coalesce("v_without", F.lit(0.0))))
                 .alias("part")))
    return (j.groupBy("channel")
            .agg(F.round(F.sum("part"), 6).alias("shapley"))
            .orderBy("channel"))


def markov_attribution(events: DataFrame,
                       conversion: str = "purchase",
                       channels: tuple = ("click", "signup", "view"),
                       iters: int = 12) -> DataFrame:
    """Markov-chain removal-effect attribution (Anderl et al.'14 — the
    third canonical model next to rule-based and Shapley): user journeys
    define a first-order chain over {start, channels…, conv, null};
    removal effect of channel c = 1 − P(conv | c's incoming mass
    redirected to null) / P(conv). Absorption probabilities come from
    ``iters`` fixed power iterations with conv/null as self-loop
    absorbing states, every iteration ROUNDED 6 (the kmeans/pagerank
    chaining convention, bit-identical cross-engine).

    Journey rule (deterministic): a user's touches are their channel
    events strictly before their first conversion (all of them if never
    converted), ordered (µs, event_id); transitions are start→first,
    consecutive pairs, last→{conv|null}; touchless users contribute
    start→{conv|null} directly.

    Scale shape: the corpus collapses through user-keyed windows/groupBys
    into a ≤(|channels|+3)²-row transition relation; everything after —
    probabilities, removal variants, the T power iterations — runs on
    variant-keyed relations of ≤ a few dozen rows. Output |channels| rows:
    (channel, p_conv_removed, removal_effect, attribution)."""
    ch_list = sorted(channels)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    ev = events.select("user_id", "event_type", us.alias("us"), "event_id")
    fp = (ev.filter(F.col("event_type") == conversion)
          .groupBy("user_id").agg(F.min("us").alias("fp")))
    touches = (ev.filter(F.col("event_type").isin(ch_list))
               .join(fp, "user_id", "left")
               .filter(F.col("fp").isNull() | (F.col("us") < F.col("fp")))
               .select("user_id", F.col("event_type").alias("ch"),
                       "us", "event_id"))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    seq = (touches
           .withColumn("rn", F.row_number().over(w))
           .withColumn("nxt", F.lead("ch").over(w)))
    conv_flag = fp.select("user_id", F.lit(1).alias("cv"))
    users = ev.select("user_id").distinct().join(conv_flag, "user_id", "left") \
        .select("user_id", F.coalesce("cv", F.lit(0)).alias("cv"))
    end_of = F.when(F.col("cv") == 1, F.lit("conv")).otherwise(F.lit("null"))
    firsts = (seq.filter(F.col("rn") == 1)
              .select(F.lit("start").alias("a"), F.col("ch").alias("b")))
    mids = (seq.filter(F.col("nxt").isNotNull())
            .select(F.col("ch").alias("a"), F.col("nxt").alias("b")))
    lasts = (seq.filter(F.col("nxt").isNull())
             .join(users, "user_id")
             .select(F.col("ch").alias("a"), end_of.alias("b")))
    touched = seq.select("user_id").distinct()
    lonely = (users.join(touched, "user_id", "left_anti")
              .select(F.lit("start").alias("a"), end_of.alias("b")))
    trans = (firsts.unionByName(mids).unionByName(lasts).unionByName(lonely)
             .groupBy("a", "b").agg(F.count(F.lit(1)).alias("n")))
    outdeg = trans.groupBy("a").agg(F.sum("n").alias("tot"))
    probs = (trans.join(outdeg, "a")
             .select("a", "b",
                     (F.col("n").cast("double") / F.col("tot")).alias("p")))
    spark = events.sparkSession
    variants = spark.createDataFrame(
        [("none",)] + [(c,) for c in ch_list], "variant string")
    vp = (probs.crossJoin(F.broadcast(variants))
          .filter(F.col("a") != F.col("variant"))
          .select("variant", "a",
                  F.when(F.col("b") == F.col("variant"), F.lit("null"))
                  .otherwise(F.col("b")).alias("b"), "p")
          .groupBy("variant", "a", "b").agg(F.sum("p").alias("p")))
    loops = variants.crossJoin(
        spark.createDataFrame([("conv",), ("null",)], "s string")) \
        .select("variant", F.col("s").alias("a"), F.col("s").alias("b"),
                F.lit(1.0).alias("p"))
    # vp embeds the corpus-derived journey windows and is referenced once
    # per iteration — localCheckpoint cuts the T×-replicated lineage (the
    # graph_kcore barrier; the relation is ≤(|channels|+3)² rows)
    vp = vp.unionByName(loops).localCheckpoint()
    v = variants.select("variant", F.lit("start").alias("state"),
                        F.lit(1.0).alias("m"))
    for _ in range(int(iters)):
        # rename the vector's key columns before the join — after round 1
        # they derive from vp, and a bare self-join would be ambiguous
        vr = v.select(F.col("variant").alias("__vv"),
                      F.col("state").alias("__vs"), "m")
        v = (vr.join(vp, (F.col("__vv") == F.col("variant"))
                     & (F.col("__vs") == F.col("a")))
             .groupBy("variant", "b")
             .agg(F.round(F.sum(F.col("m") * F.col("p")), 6).alias("m"))
             .withColumnRenamed("b", "state"))
    pconv = (v.filter(F.col("state") == "conv")
             .select("variant", F.col("m").alias("pc")))
    base = pconv.filter(F.col("variant") == "none") \
        .select(F.col("pc").alias("p0"))
    rem = (pconv.filter(F.col("variant") != "none")
           .crossJoin(F.broadcast(base))
           .select(F.col("variant").alias("channel"),
                   F.col("pc").alias("p_conv_removed"),
                   F.round(F.lit(1.0) - F.col("pc") / F.col("p0"), 6)
                   .alias("removal_effect")))
    tot = rem.agg(F.sum("removal_effect").alias("t"))
    return (rem.crossJoin(F.broadcast(tot))
            .select("channel", "p_conv_removed", "removal_effect",
                    F.round(F.col("removal_effect") / F.col("t"), 6)
                    .alias("attribution"))
            .orderBy("channel"))


# ---------------------------------------------------------------------------
# Survival analysis / experimentation / time-series diagnostics (round 5 s16).
# Reference anchor: fafnir's event pipeline feeds product-analytics sinks
# (/root/reference src/sources/*, events ETL); these are the standard
# downstream analyses an ES|Kibana user runs over that events index.
# ---------------------------------------------------------------------------

_DAY_US = 86_400_000_000


def km_from_spans(spans: DataFrame) -> DataFrame:
    """Kaplan-Meier estimator from per-user spans — the shared tail between
    the batch op and the streaming op (the change_point_from_buckets rule).

    ``spans`` = (user_id, t0, tp, t_end): t0 = first-event µs, tp = µs of
    the first conversion event (NULL = never converted), t_end = the
    observation cutoff (global max µs). duration = days to conversion,
    censored at t_end for non-converters. The KM table is one groupBy on
    the integer day key plus ordered windows over the ≤|days| grouped
    relation (bounded, single-reducer is fine post-agg). Survival is
    exp(Σ ln(1 - d/n)) over the deterministic day order — identical
    operand order in the DuckDB mirror; a saturated day (d == n_risk)
    pins survival to exactly 0.0 from there on (never ln(0)).
    (t_day, n_risk, n_events, n_censored, survival) ordered by t_day."""
    per = spans.select(
        F.when(F.col("tp").isNotNull(), 1).otherwise(0).alias("obs"),
        F.when(F.col("tp").isNotNull(),
               F.expr(f"(tp - t0) DIV {_DAY_US}"))
        .otherwise(F.expr(f"(t_end - t0) DIV {_DAY_US}")).alias("t_day"))
    g = (per.groupBy("t_day")
         .agg(F.sum("obs").cast("long").alias("n_events"),
              F.sum(1 - F.col("obs")).cast("long").alias("n_censored")))
    w = Window.orderBy("t_day").rowsBetween(Window.unboundedPreceding, 0)
    leaving = (F.col("n_events") + F.col("n_censored"))
    tot = g.agg(F.sum(leaving).cast("long").alias("n_total"))
    g = (g.crossJoin(F.broadcast(tot))
         .withColumn("n_risk",
                     (F.col("n_total") - (F.sum(leaving).over(w) - leaving))
                     .cast("long")))
    factor = F.lit(1.0) - F.col("n_events") / F.col("n_risk")
    g = g.withColumn(
        "lns", F.sum(F.when(F.col("n_events") < F.col("n_risk"),
                            F.log(factor)).otherwise(F.lit(0.0))).over(w)
    ).withColumn(
        "dead", F.max(F.when(F.col("n_events") >= F.col("n_risk"), 1)
                      .otherwise(0)).over(w))
    return (g.select(
        "t_day", "n_risk", "n_events", "n_censored",
        F.when(F.col("dead") == 1, F.lit(0.0))
        .otherwise(F.round(F.exp(F.col("lns")), 6)).alias("survival"))
        .orderBy("t_day"))


def survival_spans(events: DataFrame, event_type: str = "purchase"
                   ) -> DataFrame:
    """Per-user (t0, tp, t_end) spans for time-to-first-``event_type``:
    ONE conditional groupBy(user_id) pass (min µs overall, min µs of the
    conversion type) plus a broadcast 1-row observation-end aggregate —
    every shuffle keyed by user_id with map-side combine."""
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    per = (events.select("user_id", us.alias("us"), "event_type")
           .groupBy("user_id")
           .agg(F.min("us").alias("t0"),
                F.min(F.when(F.col("event_type") == event_type,
                             F.col("us"))).alias("tp")))
    end = (events.select(us.alias("us"))
           .agg(F.max("us").alias("t_end")))
    return per.crossJoin(F.broadcast(end))


def survival_km(events: DataFrame, event_type: str = "purchase"
                ) -> DataFrame:
    """Kaplan-Meier time-to-conversion curve (the survival-analysis
    staple; Kaplan & Meier 1958): per user, days from first event to the
    first ``event_type`` event, right-censored at the global observation
    end for users who never convert. See km_from_spans for the estimator
    and the cross-engine determinism rules."""
    return km_from_spans(survival_spans(events, event_type))


def cuped_ab_test(events: DataFrame) -> DataFrame:
    """CUPED-adjusted A/B readout (Deng et al. WSDM'13 — the industry-
    standard variance-reduction for online experiments): users are
    assigned a variant by the portable hash (pmod(hash60(user_id), 2) —
    the hash_split idiom), the pre-period covariate is the user's event
    count in the first half of the time range, the post-period metric
    the count in the second half (split at the integer-µs midpoint of a
    broadcast 1-row bounds aggregate). theta = cov(pre,post)/var(pre) in
    the raw-sum closed form over EXACT integer sums (the matrix_stats
    rule), so both engines compute identical floats up to the final
    divisions; adjusted means come from the same integer sums, never a
    per-row float fold. (variant, n_users, mean_post, mean_adj,
    var_post, var_adj) rounded 6, ordered by variant."""
    from .portable import hash60
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    e = events.select("user_id", us.alias("us"))
    bounds = (e.agg(F.min("us").alias("mn"), F.max("us").alias("mx"))
              .select(F.expr("(mn + mx) DIV 2").alias("split")))
    per = (e.crossJoin(F.broadcast(bounds))
           .groupBy("user_id")
           .agg(F.sum(F.when(F.col("us") < F.col("split"), 1)
                      .otherwise(0)).cast("long").alias("pre"),
                F.sum(F.when(F.col("us") >= F.col("split"), 1)
                      .otherwise(0)).cast("long").alias("post"))
           .withColumn("variant",
                       F.pmod(hash60(F.col("user_id").cast("string")),
                              F.lit(2)).cast("int")))
    glob = per.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("pre").cast("long").alias("sx"),
        F.sum("post").cast("long").alias("sy"),
        F.sum(F.col("pre") * F.col("pre")).cast("long").alias("sxx"),
        F.sum(F.col("pre") * F.col("post")).cast("long").alias("sxy"))
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    glob = glob.select(
        F.when(den == 0, F.lit(0.0))
        .otherwise((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
                   / den).alias("theta"),
        (F.col("sx") / F.col("n")).alias("mpre"))
    byv = (per.groupBy("variant")
           .agg(F.count(F.lit(1)).cast("long").alias("nv"),
                F.sum("pre").cast("long").alias("vx"),
                F.sum("post").cast("long").alias("vy"),
                F.sum(F.col("pre") * F.col("pre")).cast("long").alias("vxx"),
                F.sum(F.col("post") * F.col("post")).cast("long")
                .alias("vyy"),
                F.sum(F.col("pre") * F.col("post")).cast("long")
                .alias("vxy"))
           .crossJoin(F.broadcast(glob)))
    th, mp = F.col("theta"), F.col("mpre")
    mean_post = F.col("vy") / F.col("nv")
    mean_adj = (F.col("vy") - th * (F.col("vx") - F.col("nv") * mp)) \
        / F.col("nv")
    eadj2 = (F.col("vyy")
             - F.lit(2.0) * th * (F.col("vxy") - mp * F.col("vy"))
             + th * th * (F.col("vxx") - F.lit(2.0) * mp * F.col("vx")
                          + F.col("nv") * mp * mp)) / F.col("nv")
    var_post = F.col("vyy") / F.col("nv") - mean_post * mean_post
    return (byv.select(
        "variant", F.col("nv").alias("n_users"),
        F.round(mean_post, 6).alias("mean_post"),
        F.round(mean_adj, 6).alias("mean_adj"),
        F.round(var_post, 6).alias("var_post"),
        F.round(eadj2 - mean_adj * mean_adj, 6).alias("var_adj"))
        .orderBy("variant"))


def autocorrelation(events: DataFrame, max_lag: int = 7) -> DataFrame:
    """Sample autocorrelation function of the daily event-count series at
    lags 1..``max_lag`` (the Box-Jenkins ACF): r_k = Σ(x_t - m)(x_{t+k}
    - m) / Σ(x_t - m)², with m the mean over observed days and the
    denominator over ALL days (the standard biased ACF, guaranteeing
    |r_k| ≤ 1). One groupBy(day) reduces the corpus to the ≤|days|
    series; the lag pairing is a self-equi-join on day+k against a
    broadcast exploded 1..max_lag literal — every post-reduction
    relation is bounded by |days|·max_lag. m and the denominator enter
    as a broadcast 1-row aggregate; products are summed per lag and
    ROUNDED 6 at the output (float sum order differs across engines
    below that). (lag, n_pairs, acf) ordered by lag."""
    x = (events.select(F.expr(f"unix_micros(cast(ts as timestamp)) "
                              f"DIV {_DAY_US}").alias("day"))
         .groupBy("day").agg(F.count(F.lit(1)).cast("long").alias("x")))
    return acf_from_daily(x, max_lag)


def acf_from_daily(x: DataFrame, max_lag: int = 7) -> DataFrame:
    """ACF tail over a (day, x) daily-count relation — the shared piece
    between batch autocorrelation and the streaming twin (the
    change_point_from_buckets rule)."""
    stats = x.agg(
        (F.sum("x") / F.count(F.lit(1))).alias("m"),
        F.count(F.lit(1)).cast("long").alias("nd"))
    xc = x.crossJoin(F.broadcast(stats))
    s0 = (xc.agg(F.sum((F.col("x") - F.col("m"))
                       * (F.col("x") - F.col("m"))).alias("s0")))
    lags = x.sparkSession.range(1, int(max_lag) + 1) \
        .select(F.col("id").cast("int").alias("lag"))
    a = xc.select("day", "x", "m")
    b = x.select(F.col("day").alias("day2"), F.col("x").alias("x2"))
    pairs = (a.crossJoin(F.broadcast(lags))
             .join(b, F.col("day2") == F.col("day") + F.col("lag")))
    return (pairs.groupBy("lag")
            .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"),
                 F.sum((F.col("x") - F.col("m"))
                       * (F.col("x2") - F.col("m"))).alias("num"))
            .crossJoin(F.broadcast(s0))
            .select("lag", "n_pairs",
                    F.round(F.col("num") / F.col("s0"), 6).alias("acf"))
            .orderBy("lag"))


def label_propagation(orders: DataFrame, lineitem: DataFrame,
                      rounds: int = 3) -> DataFrame:
    """Community detection by semi-synchronous label propagation
    (Raghavan'07 LPA) over the undirected customer↔supplier order graph.
    The graph is BIPARTITE, where fully-synchronous LPA can oscillate
    two-colorings forever — so each round updates ONE side at a time
    from the other's current labels (the standard coloring schedule):
    customers adopt the mode label of their supplier neighbors, then
    suppliers adopt the mode of the customers' NEW labels. Ties break
    to the smallest label (max_by on struct(cnt, −label) — the IVF
    assignment idiom; the oracle's rn=1 window is the same order).

    Scale shape: every half-step is one edge⋈labels equi-join + one
    (node, label) groupBy + one per-node argmax — all shuffles keyed by
    node id, state is ≤|nodes| rows, the driver carries nothing.
    labels are localCheckpointed per round (each half references the
    previous relation twice — the graph_kcore k^rounds lineage rule).
    Output: (community, n_nodes) ordered by community."""
    sup_base = 10**9
    edges = (
        orders.join(lineitem,
                    orders["o_orderkey"] == lineitem["l_orderkey"])
        .select(F.col("o_custkey").alias("c"),
                (F.lit(sup_base) + F.col("l_suppkey")).alias("s"))
        .distinct()
    )
    nodes = (edges.select(F.col("c").alias("node"))
             .unionByName(edges.select(F.col("s").alias("node")))
             .distinct())
    labels = nodes.select("node", F.col("node").alias("lbl"))

    def _half(upd_key: str, nbr_key: str, keep_pred):
        nbr_lbl = labels.select(F.col("node").alias("__n"), "lbl")
        new = (edges.join(nbr_lbl, F.col("__n") == F.col(nbr_key))
               .groupBy(F.col(upd_key).alias("node"), "lbl")
               .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
               .groupBy("node")
               .agg(F.max_by(
                   "lbl", F.struct(F.col("cnt").alias("cnt"),
                                   (-F.col("lbl")).alias("nl")))
                   .alias("lbl")))
        return new.unionByName(labels.filter(keep_pred))

    for _ in range(int(rounds)):
        labels = _half("c", "s", F.col("node") >= sup_base)
        labels = _half("s", "c", F.col("node") < sup_base)
        labels = labels.localCheckpoint()
    return (labels.groupBy(F.col("lbl").alias("community"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
            .orderBy("community"))


# propensity template shared verbatim with the DuckDB oracle (never
# hand-copied): a rounded-6 sigmoid of the pre-period count
PSM_PROPENSITY = "round(1.0 / (1.0 + exp(-(pre - 30.0) / 10.0)), 6)"


def psm_att(events: DataFrame, caliper: float = 0.0625) -> DataFrame:
    """Propensity-score RADIUS matching ATT (Rosenbaum & Rubin 1983; the
    observational sibling of cuped_ab_test): treatment = the portable
    hash split, outcome = post-period event count, propensity = a
    rounded-6 sigmoid of the pre-period count (shared SQL template).
    Each treated user matches ALL controls within ``caliper`` of its
    propensity — radius matching is order-free and hence relational,
    unlike greedy 1:1 nearest-neighbor (sequential, refused). The match
    join is BANDED: equi-join on floor(p/caliper) buckets shifted by
    {-1,0,+1} (the LabelGrid idiom), then the exact |Δp| <= caliper
    filter — never a propensity cross join. ``caliper`` must be dyadic
    so bucket floors agree across engines.

    ATT = mean over matched treated of (y_t − mean(y_controls in
    radius)). (n_treated, n_matched, att) one row, rounded 6."""
    from .portable import hash60
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    e = events.select("user_id", us.alias("us"))
    bounds = (e.agg(F.min("us").alias("mn"), F.max("us").alias("mx"))
              .select(F.expr("(mn + mx) DIV 2").alias("split")))
    per = (e.crossJoin(F.broadcast(bounds))
           .groupBy("user_id")
           .agg(F.sum(F.when(F.col("us") < F.col("split"), 1)
                      .otherwise(0)).cast("long").alias("pre"),
                F.sum(F.when(F.col("us") >= F.col("split"), 1)
                      .otherwise(0)).cast("long").alias("post"))
           .withColumn("t", F.pmod(hash60(F.col("user_id").cast("string")),
                                   F.lit(2)).cast("int"))
           .withColumn("p", F.expr(PSM_PROPENSITY))
           .withColumn("b", F.floor(F.col("p") / F.lit(float(caliper)))
                       .cast("long")))
    treated = per.filter(F.col("t") == 1).select(
        F.col("user_id").alias("tu"), F.col("p").alias("tp"),
        F.col("post").alias("ty"), F.col("b").alias("tb"))
    controls = per.filter(F.col("t") == 0).select(
        F.col("p").alias("cp"), F.col("post").alias("cy"),
        F.col("b").alias("cb"))
    shifts = treated.sparkSession.range(-1, 2).select(
        F.col("id").cast("long").alias("sh"))
    cand = (treated.crossJoin(F.broadcast(shifts))
            .join(controls, F.col("cb") == F.col("tb") + F.col("sh"))
            .filter(F.abs(F.col("cp") - F.col("tp"))
                    <= F.lit(float(caliper))))
    per_treated = (cand.groupBy("tu", "ty")
                   .agg((F.sum("cy") / F.count(F.lit(1))).alias("cbar")))
    ntr = per.agg(F.sum(F.when(F.col("t") == 1, 1).otherwise(0))
                  .cast("long").alias("n_treated"))
    return (per_treated
            .agg(F.count(F.lit(1)).cast("long").alias("n_matched"),
                 F.round(F.sum(F.col("ty") - F.col("cbar"))
                         / F.count(F.lit(1)), 6).alias("att"))
            .crossJoin(F.broadcast(ntr))
            .select("n_treated", "n_matched", "att"))


def seasonal_decompose(events: DataFrame) -> DataFrame:
    """Multiplicative weekday decomposition of the daily event-count
    series (the classical-decomposition half of STL — a fixed weekly
    index instead of loess): seasonal index s_w = mean(x | weekday)/m
    over the global mean m, deseasonalized d_t = x_t/s_w, and a linear
    trend fit to (t, d_t) in the raw-sum OLS closed form (the
    matrix_stats rule). One groupBy(day) corpus reduction; everything
    after runs on the ≤|days| relation with broadcast 1-row aggregates.
    (weekday, n_days, sindex, slope, intercept) — trend columns repeat
    per row (single-relation output); ordered by weekday."""
    x = (events.select(F.expr(f"unix_micros(cast(ts as timestamp)) "
                              f"DIV {_DAY_US}").alias("day"))
         .groupBy("day").agg(F.count(F.lit(1)).cast("long").alias("x")))
    m = x.agg((F.sum("x") / F.count(F.lit(1))).alias("m"))
    xw = (x.crossJoin(F.broadcast(m))
          .withColumn("w", F.pmod(F.col("day"), F.lit(7)).cast("int")))
    sidx = (xw.groupBy("w")
            .agg(F.count(F.lit(1)).cast("long").alias("n_days"),
                 ((F.sum("x") / F.count(F.lit(1))) / F.first("m"))
                 .alias("sindex")))
    des = (xw.join(sidx.select("w", "sindex"), "w")
           .select(F.col("day").cast("double").alias("t"),
                   (F.col("x") / F.col("sindex")).alias("d")))
    ols = des.agg(
        F.count(F.lit(1)).alias("n"), F.sum("t").alias("st"),
        F.sum("d").alias("sd"), F.sum(F.col("t") * F.col("t")).alias("stt"),
        F.sum(F.col("t") * F.col("d")).alias("std"))
    trend = ols.select(
        ((F.col("n") * F.col("std") - F.col("st") * F.col("sd"))
         / (F.col("n") * F.col("stt") - F.col("st") * F.col("st")))
        .alias("slope_raw"),
        F.col("n"), F.col("st"), F.col("sd"))
    trend = trend.select(
        F.round(F.col("slope_raw"), 6).alias("slope"),
        F.round((F.col("sd") - F.col("slope_raw") * F.col("st"))
                / F.col("n"), 6).alias("intercept"))
    return (sidx.crossJoin(F.broadcast(trend))
            .select("w", "n_days", F.round(F.col("sindex"), 6)
                    .alias("sindex"), "slope", "intercept")
            .withColumnRenamed("w", "weekday")
            .orderBy("weekday"))


def mann_kendall(events: DataFrame) -> DataFrame:
    """Mann-Kendall trend test (Mann'45/Kendall'75 — the nonparametric
    significance sibling of theil_sen_trend) over the daily event-count
    series: S = Σ_{i<j} sign(x_j − x_i) (EXACT integer — counts are
    BIGINT), tie-corrected variance

        var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)] / 18

    with every product in exact integer space and ONE double division,
    and the continuity-corrected z = (S∓1)/√var(S) (0 when S == 0).
    √ is the correctly-rounded IEEE op, so z agrees bit-for-bit
    cross-engine before the round-6. Kendall tau-a = 2S/(n(n−1)).

    Scale shape: the corpus collapses in one map-side-combined
    groupBy(day); the sign pair join and the tie groupBy run over the
    ≤|days| bucket relation only (the theil_sen rule). One row out:
    (n_days, s_stat, var_s, z, tau)."""
    x = (events.select(F.expr(f"unix_micros(cast(ts as timestamp)) "
                              f"DIV {_DAY_US}").alias("d"))
         .groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("x")))
    a = x.select(F.col("d").alias("da"), F.col("x").alias("xa"))
    b = x.select(F.col("d").alias("db"), F.col("x").alias("xb"))
    s = (a.join(b, F.col("da") < F.col("db"))
         .agg(F.sum(F.when(F.col("xb") > F.col("xa"), 1)
                    .when(F.col("xb") < F.col("xa"), -1)
                    .otherwise(0)).cast("long").alias("s_stat")))
    ties = (x.groupBy("x").agg(F.count(F.lit(1)).cast("long").alias("t"))
            .agg(F.sum(F.col("t") * (F.col("t") - 1)
                       * (2 * F.col("t") + 5)).cast("long").alias("tsum")))
    nd = x.agg(F.count(F.lit(1)).cast("long").alias("n"))
    var_s = ((F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
              - F.col("tsum")).cast("double") / F.lit(18.0))
    z = (F.when(F.col("s_stat") > 0,
                (F.col("s_stat") - 1).cast("double") / F.sqrt(F.col("var_s")))
         .when(F.col("s_stat") < 0,
               (F.col("s_stat") + 1).cast("double") / F.sqrt(F.col("var_s")))
         .otherwise(F.lit(0.0)))
    tau = (2 * F.col("s_stat")).cast("double") \
        / (F.col("n") * (F.col("n") - 1)).cast("double")
    return (s.crossJoin(F.broadcast(ties)).crossJoin(F.broadcast(nd))
            .withColumn("var_s", var_s)
            .select(F.col("n").alias("n_days"), "s_stat",
                    F.round(F.col("var_s"), 6).alias("var_s_r"),
                    F.round(z, 6).alias("z"), F.round(tau, 6).alias("tau"))
            .withColumnRenamed("var_s_r", "var_s"))


def psi_drift(events: DataFrame) -> DataFrame:
    """Population Stability Index (the model-monitoring drift staple)
    of the event_type distribution between the two halves of the time
    range (integer-µs midpoint split — the psm_att/cuped idiom):
    add-one-smoothed shares p = (pre+1)/(n_pre+k), q = (post+1)/
    (n_post+k) with k = |categories| so zero-count classes stay finite,
    contribution (p−q)·ln(p/q) rounded 6, PSI = Σ contributions (the
    calibration_ece summation rule).

    Scale shape: ONE conditional-aggregate groupBy(event_type) pass over
    the corpus + broadcast 1-row bounds/totals; everything after runs on
    the ≤|categories| relation. (event_type, n_pre, n_post, p_pre,
    p_post, contrib, psi) ordered by event_type, psi repeated per row
    (single-relation output)."""
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    e = events.select("event_type", us.alias("us"))
    bounds = (e.agg(F.min("us").alias("mn"), F.max("us").alias("mx"))
              .select(F.expr("(mn + mx) DIV 2").alias("split")))
    per = (e.crossJoin(F.broadcast(bounds))
           .groupBy("event_type")
           .agg(F.sum(F.when(F.col("us") < F.col("split"), 1)
                      .otherwise(0)).cast("long").alias("n_pre"),
                F.sum(F.when(F.col("us") >= F.col("split"), 1)
                      .otherwise(0)).cast("long").alias("n_post")))
    tot = per.agg(F.sum("n_pre").cast("long").alias("tp"),
                  F.sum("n_post").cast("long").alias("tq"),
                  F.count(F.lit(1)).cast("long").alias("k"))
    rows = (per.crossJoin(F.broadcast(tot))
            .withColumn("p_pre", (F.col("n_pre") + 1).cast("double")
                        / (F.col("tp") + F.col("k")).cast("double"))
            .withColumn("p_post", (F.col("n_post") + 1).cast("double")
                        / (F.col("tq") + F.col("k")).cast("double"))
            .withColumn("contrib", F.round(
                (F.col("p_pre") - F.col("p_post"))
                * F.log(F.col("p_pre") / F.col("p_post")), 6)))
    psi = rows.agg(F.round(F.sum("contrib"), 6).alias("psi"))
    return (rows.crossJoin(F.broadcast(psi))
            .select("event_type", "n_pre", "n_post",
                    F.round(F.col("p_pre"), 6).alias("p_pre"),
                    F.round(F.col("p_post"), 6).alias("p_post"),
                    "contrib", "psi")
            .orderBy("event_type"))


def gini_concentration(orders: DataFrame) -> DataFrame:
    """Revenue concentration audit: Gini coefficient + Lorenz deciles of
    per-customer revenue. Revenue enters EXACT integer cents
    (round(sum·100, 0) — per-customer sums are small groups, so the
    round-2 is stable; every aggregate after is BIGINT), rank r =
    row_number over (cents, custkey) — a global window, but over the
    GROUPED per-customer relation (the rfm_segments precedent; a global
    sort is inherent to Lorenz), then the closed form

        G = (2·Σ r·x_r − (n+1)·Σx) / (n·Σx)

    in exact integer space with ONE double division. Lorenz: decile =
    ceil(10r/n) by integer arithmetic; cumulative share via a running
    sum over the 10-row decile relation. (decile, n_cust, cum_share,
    gini) ordered by decile, gini repeated per row."""
    rev = (orders.groupBy("o_custkey")
           .agg(F.round(F.sum("o_totalprice") * 100.0, 0)
                .cast("long").alias("cents")))
    ranked = rev.withColumn(
        "r", F.row_number().over(Window.orderBy("cents", "o_custkey"))
        .cast("long"))
    tot = ranked.agg(F.count(F.lit(1)).cast("long").alias("n"),
                     F.sum("cents").cast("long").alias("s"),
                     F.sum(F.col("r") * F.col("cents")).cast("long")
                     .alias("s1"))
    gini = tot.select(
        "n", "s",
        F.round((2 * F.col("s1") - (F.col("n") + 1) * F.col("s"))
                .cast("double")
                / (F.col("n") * F.col("s")).cast("double"), 6)
        .alias("gini"))
    dec = (ranked.crossJoin(F.broadcast(tot.select("n")))
           .withColumn("decile",
                       F.expr("(10 * r + n - 1) DIV n").cast("int"))
           .groupBy("decile")
           .agg(F.count(F.lit(1)).cast("long").alias("n_cust"),
                F.sum("cents").cast("long").alias("dsum")))
    w = (Window.orderBy("decile")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (dec.withColumn("cum", F.sum("dsum").over(w))
            .crossJoin(F.broadcast(gini.select("s", "gini")))
            .select("decile", "n_cust",
                    F.round(F.col("cum").cast("double")
                            / F.col("s").cast("double"), 6)
                    .alias("cum_share"), "gini")
            .orderBy("decile"))


def graph_modularity(orders: DataFrame, lineitem: DataFrame,
                     customer: DataFrame, supplier: DataFrame) -> DataFrame:
    """Newman modularity Q of the NATION partition over the bipartite
    customer↔supplier order graph (the quality score for the
    label_propagation / dedup_clusters community family):

        Q = Σ_c [ L_c/m − (D_c/(2m))² ]

    with L_c = intra-community edges, D_c = Σ node degrees in c, m =
    |edges| — ALL exact integers until the two divisions. Communities
    come from c_nationkey/s_nationkey (a fixed vertex partition, so the
    score is fully relational — no iterative labels).

    Scale shape: one distinct over the order join for edges; dims enter
    by broadcast; every aggregate is bounded by |nations|. (community,
    l_c, d_c, q_contrib, modularity) ordered by community, total
    repeated per row."""
    edges = (orders.join(lineitem,
                         orders["o_orderkey"] == lineitem["l_orderkey"])
             .select(F.col("o_custkey").alias("ck"),
                     F.col("l_suppkey").alias("sk"))
             .distinct())
    lab = (edges
           .join(F.broadcast(customer.select(
               F.col("c_custkey").alias("ck"),
               F.col("c_nationkey").alias("cn"))), "ck")
           .join(F.broadcast(supplier.select(
               F.col("s_suppkey").alias("sk"),
               F.col("s_nationkey").alias("sn"))), "sk"))
    m = lab.agg(F.count(F.lit(1)).cast("long").alias("m"))
    intra = (lab.filter(F.col("cn") == F.col("sn"))
             .groupBy(F.col("cn").alias("community"))
             .agg(F.count(F.lit(1)).cast("long").alias("l_c")))
    deg = (lab.select(F.col("cn").alias("community"))
           .unionByName(lab.select(F.col("sn").alias("community")))
           .groupBy("community")
           .agg(F.count(F.lit(1)).cast("long").alias("d_c")))
    rows = (deg.join(intra, "community", "left")
            .select("community",
                    F.coalesce(F.col("l_c"), F.lit(0)).cast("long")
                    .alias("l_c"), "d_c")
            .crossJoin(F.broadcast(m))
            .withColumn("q_contrib", F.round(
                F.col("l_c").cast("double") / F.col("m").cast("double")
                - (F.col("d_c").cast("double")
                   / (2 * F.col("m")).cast("double"))
                * (F.col("d_c").cast("double")
                   / (2 * F.col("m")).cast("double")), 6)))
    q = rows.agg(F.round(F.sum("q_contrib"), 6).alias("modularity"))
    return (rows.crossJoin(F.broadcast(q))
            .select("community", "l_c", "d_c", "q_contrib", "modularity")
            .orderBy("community"))


def cusum_changepoints(events: DataFrame) -> DataFrame:
    """Tabular CUSUM control chart (Page'54 — the sequential sibling of
    change_point's offline max-mean-shift split) over daily event
    counts: with μ = Σx/n and allowance k = σ/2 (raw-sum closed-form σ,
    correctly-rounded IEEE sqrt — both exact cross-engine given exact
    integer Σx/Σx²),

        s⁺_t = max(0, s⁺_{t-1} + (x_t − μ − k))
        s⁻_t = max(0, s⁻_{t-1} + (μ − x_t − k))

    alarm when either side exceeds h = 4σ. The fold is a sequential
    chain of IEEE adds in a FIXED order, so it agrees bit-for-bit
    cross-engine before the round-6 (the holt_linear rule); DuckDB runs
    the identical recurrence as a recursive CTE.

    Scale shape: one map-side-combined groupBy(day); the prefix fold
    runs over the ≤|days| bucket relation only. (day, x, cusum_pos,
    cusum_neg, alarm) ordered by day, alarm a 0/1 INTEGER (the
    profile_table type rule)."""
    x = (events.select(F.expr(f"unix_micros(cast(ts as timestamp)) "
                              f"DIV {_DAY_US}").alias("d"))
         .groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("x")))
    st = x.agg(F.count(F.lit(1)).cast("long").alias("n"),
               F.sum("x").cast("long").alias("s"),
               F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"))
    consts = st.select(
        (F.col("s").cast("double") / F.col("n").cast("double"))
        .alias("__mu"),
        (F.sqrt((F.col("n") * F.col("sxx") - F.col("s") * F.col("s"))
                .cast("double")
                / (F.col("n") * (F.col("n") - 1)).cast("double")) / 2.0)
        .alias("__k"))
    w = (Window.orderBy("d")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    fold = F.expr(
        "aggregate(__vals, named_struct('sp', CAST(0 AS DOUBLE), "
        "'sn', CAST(0 AS DOUBLE)), (a, x) -> named_struct("
        "'sp', greatest(CAST(0 AS DOUBLE), a.sp + (x - __mu - __k)), "
        "'sn', greatest(CAST(0 AS DOUBLE), a.sn + (__mu - x - __k))))"
    )
    return (x.crossJoin(F.broadcast(consts))
            .withColumn("__vals", F.collect_list("x").over(w))
            .withColumn("__st", fold)
            .select(F.col("d").alias("day"), "x",
                    F.round(F.col("__st.sp"), 6).alias("cusum_pos"),
                    F.round(F.col("__st.sn"), 6).alias("cusum_neg"),
                    F.when((F.col("__st.sp") > F.col("__k") * 8.0)
                           | (F.col("__st.sn") > F.col("__k") * 8.0), 1)
                    .otherwise(0).cast("int").alias("alarm"))
            .orderBy("day"))


def croston_forecast(events: DataFrame, threshold: float = 250.0) -> DataFrame:
    """Croston's method (Croston'72 — THE intermittent-demand
    forecaster) over the daily count of rare high-value events
    (value > ``threshold`` makes the series intermittent on the
    fixture): on each nonzero-demand day, demand EWMA z and
    inter-arrival EWMA p update with dyadic α = 0.5

        z_t = z_{t-1} + α·(d_t − z_{t-1})
        p_t = p_{t-1} + α·(g_t − p_{t-1})

    seeded z₁ = d₁, p₁ = g₁ (first gap = 1 by convention); forecast =
    z/p. Demands and gaps are exact integers and α is dyadic, so the
    fold is exact cross-engine (the moving_ewma rule); the oracle is
    the identical recursive CTE recurrence.

    Scale shape: one filtered map-side-combined groupBy(day); the lag
    and fold run over the nonzero-day relation only. (day, demand, gap,
    z, p, forecast) ordered by day."""
    nz = (events.filter(F.col("value") > F.lit(float(threshold)))
          .select(F.expr(f"unix_micros(cast(ts as timestamp)) "
                         f"DIV {_DAY_US}").alias("d"))
          .groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("dem")))
    ow = Window.orderBy("d")
    rows = nz.withColumn(
        "gap", F.coalesce(F.col("d") - F.lag("d").over(ow), F.lit(1))
        .cast("long"))
    w = ow.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    fold = F.expr(
        "aggregate(slice(__vals, 2, size(__vals)), "
        "named_struct('z', CAST(element_at(__vals, 1).dem AS DOUBLE), "
        "'p', CAST(element_at(__vals, 1).gap AS DOUBLE)), "
        "(a, x) -> named_struct("
        "'z', a.z + 0.5D * (x.dem - a.z), "
        "'p', a.p + 0.5D * (x.gap - a.p)))"
    )
    return (rows
            .withColumn("__vals",
                        F.collect_list(F.struct("dem", "gap")).over(w))
            .withColumn("__st", fold)
            .select(F.col("d").alias("day"), F.col("dem").alias("demand"),
                    "gap",
                    F.round(F.col("__st.z"), 6).alias("z"),
                    F.round(F.col("__st.p"), 6).alias("p"),
                    F.round(F.col("__st.z") / F.col("__st.p"), 6)
                    .alias("forecast"))
            .orderBy("day"))


def item_cf_topk(orders: DataFrame, lineitem: DataFrame, k: int = 5,
                 n_seeds: int = 5, max_basket: int = 256) -> DataFrame:
    """Item-item collaborative filtering (Sarwar WWW'01 — the classic
    co-purchase recommender): implicit 0/1 baskets (distinct customer×
    part), cosine sim(i,j) = |U_i∩U_j| / √(|U_i|·|U_j|), top-k
    neighbors for the ``n_seeds`` most-purchased parts (ties partkey
    asc — a deterministic seed set, no literals).

    Scale shape: baskets are CAPPED at ``max_basket`` items per
    customer (partkey-asc rank — the heavy-user fan-out guard standard
    in production CF; a no-op on this fixture but the 100 TB envelope);
    the co-occurrence self-join is keyed on customer and bounded by
    Σ basket², counts collapse map-side; the neighbor finish is the
    two-level `topk.topk_per_group` — never an unbounded global window.
    Sims are ROUNDED 6 before ranking (rank-identity contract).
    (item, rank, other, sim) ordered (item, rank)."""
    from .topk import topk_per_group
    basket = (orders.join(lineitem,
                          orders["o_orderkey"] == lineitem["l_orderkey"])
              .select(F.col("o_custkey").alias("ck"),
                      F.col("l_partkey").alias("pk"))
              .distinct())
    bw = Window.partitionBy("ck").orderBy("pk")
    basket = (basket.withColumn("rn", F.row_number().over(bw))
              .filter(F.col("rn") <= max_basket).drop("rn"))
    iu = basket.groupBy("pk").agg(F.count(F.lit(1)).cast("long").alias("nu"))
    a = basket.select("ck", F.col("pk").alias("pa"))
    b = basket.select("ck", F.col("pk").alias("pb"))
    co = (a.join(b, "ck")
          .filter(F.col("pa") < F.col("pb"))
          .groupBy("pa", "pb")
          .agg(F.count(F.lit(1)).cast("long").alias("co")))
    seeds = (iu.orderBy(F.col("nu").desc(), F.col("pk").asc())
             .limit(n_seeds).select(F.col("pk").alias("item")))
    pairs = (co.select(F.col("pa").alias("item"), F.col("pb").alias("other"),
                       "co")
             .unionByName(co.select(F.col("pb").alias("item"),
                                    F.col("pa").alias("other"), "co")))
    scored = (pairs.join(F.broadcast(seeds), "item")
              .join(iu.select(F.col("pk").alias("item"),
                              F.col("nu").alias("ni")), "item")
              .join(iu.select(F.col("pk").alias("other"),
                              F.col("nu").alias("no")), "other")
              .select("item", "other",
                      F.round(F.col("co").cast("double")
                              / F.sqrt((F.col("ni") * F.col("no"))
                                       .cast("double")), 6).alias("sim")))
    return (topk_per_group(scored, k, group_col="item", id_col="other",
                           val_col="sim")
            .select("item", "rank", "other", "sim")
            .orderBy("item", "rank"))


def mann_whitney_u(events: DataFrame, grp_a: str = "view",
                   grp_b: str = "purchase") -> DataFrame:
    """Mann-Whitney U rank-sum test (Mann & Whitney 1947) comparing the
    ``value`` distributions of two event types — the nonparametric
    two-sample sibling of t_test_welch. Average ranks over ties come
    from the roc_auc identity: ONE groupBy(value) reduction, then an
    ordered window over the ≤|distinct values| grouped relation, so
    avg_rank carries only .5 fractions and R_a = Σ a·avg_rank is an
    EXACT double (documented envelope: exact while products stay below
    2^53). U_a = R_a − n_a(n_a+1)/2; tie-corrected variance

        var(U) = (n_a·n_b)/12 · [(n+1) − Σ(t³−t)/(n(n−1))]

    with the tie sum in exact BIGINT space and the SAME operand order in
    the DuckDB mirror; continuity-corrected z (U_a and the n_a·n_b/2
    mean are exact halves, so the branch comparison is exact);
    rank-biserial effect size r = 2U_a/(n_a·n_b) − 1.

    Scale shape: the corpus collapses in one map-side-combined
    groupBy(value); everything after runs on the bounded distinct-value
    relation (the roc_auc rule). One row out:
    (n_a, n_b, u_a, z, r_rb)."""
    rows = (events.filter(F.col("event_type").isin([grp_a, grp_b]))
            .select(F.col("value").alias("v"),
                    F.when(F.col("event_type") == grp_a, 1)
                    .otherwise(0).alias("ya")))
    g = (rows.groupBy("v")
         .agg(F.count(F.lit(1)).cast("long").alias("c"),
              F.sum("ya").cast("long").alias("a")))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    g = g.withColumn(
        "avg_rank",
        (F.sum("c").over(w) - F.col("c")) + (F.col("c") + 1) / F.lit(2.0))
    agg = g.agg(
        F.sum(F.col("a") * F.col("avg_rank")).alias("ra"),
        F.sum("a").cast("long").alias("n_a"),
        (F.sum("c") - F.sum("a")).cast("long").alias("n_b"),
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c"))
        .cast("long").alias("tsum"))
    n = F.col("n_a") + F.col("n_b")
    u_a = F.col("ra") - F.col("n_a") * (F.col("n_a") + 1) / F.lit(2.0)
    mu = (F.col("n_a") * F.col("n_b")) / F.lit(2.0)
    var_u = ((F.col("n_a") * F.col("n_b")).cast("double") / F.lit(12.0)
             * ((n + 1).cast("double")
                - F.col("tsum").cast("double")
                / (n * (n - 1)).cast("double")))
    agg = agg.withColumn("u_a", u_a).withColumn("mu", mu) \
        .withColumn("var_u", var_u)
    z = (F.when(F.col("u_a") > F.col("mu"),
                (F.col("u_a") - F.col("mu") - F.lit(0.5))
                / F.sqrt(F.col("var_u")))
         .when(F.col("u_a") < F.col("mu"),
               (F.col("u_a") - F.col("mu") + F.lit(0.5))
               / F.sqrt(F.col("var_u")))
         .otherwise(F.lit(0.0)))
    r_rb = (F.lit(2.0) * F.col("u_a")
            / (F.col("n_a") * F.col("n_b")).cast("double") - F.lit(1.0))
    return agg.select(
        "n_a", "n_b", F.col("u_a"),
        F.round(z, 6).alias("z"), F.round(r_rb, 6).alias("r_rb"))


def spearman_corr(lineitem: DataFrame) -> DataFrame:
    """Spearman rank correlation between l_quantity and l_extendedprice
    — Pearson over average ranks, ties handled exactly. Ranks are DOUBLED
    to integers (avg_rank has only .5 fractions — the roc_auc identity),
    so every per-row product and every sum is an exact BIGINT; the
    closed-form correlation

        rho = (n·Sxy − Sx·Sy) / (√(n·Sxx − Sx²) · √(n·Syy − Sy²))

    combines those integer sums as doubles in the SAME operand order as
    the DuckDB mirror (the matrix_stats raw-sum rule; the 2× rank scale
    cancels). Scale shape: rows collapse to the (x,y) PAIR relation in
    one map-side-combined groupBy; per-column rank tables are windows
    over the two bounded distinct-value relations; the final sums run
    over the pair relation joined to two bounded rank tables — never a
    per-row window. One row out: (n, rho)."""
    rows = lineitem.select(F.col("l_quantity").alias("x"),
                           F.col("l_extendedprice").alias("y"))
    pairs = (rows.groupBy("x", "y")
             .agg(F.count(F.lit(1)).cast("long").alias("c")))

    def _rank2(col: str) -> DataFrame:
        g = (pairs.groupBy(col)
             .agg(F.sum("c").cast("long").alias("cc")))
        w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, 0)
        return g.select(
            F.col(col),
            (F.lit(2) * (F.sum("cc").over(w) - F.col("cc"))
             + F.col("cc") + 1).cast("long").alias(f"r_{col}"))

    j = (pairs.join(_rank2("x"), "x").join(_rank2("y"), "y"))
    s = j.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("c") * F.col("r_x")).cast("long").alias("sx"),
        F.sum(F.col("c") * F.col("r_y")).cast("long").alias("sy"),
        F.sum(F.col("c") * F.col("r_x") * F.col("r_x")).cast("long")
        .alias("sxx"),
        F.sum(F.col("c") * F.col("r_y") * F.col("r_y")).cast("long")
        .alias("syy"),
        F.sum(F.col("c") * F.col("r_x") * F.col("r_y")).cast("long")
        .alias("sxy"))
    num = (F.col("n").cast("double") * F.col("sxy").cast("double")
           - F.col("sx").cast("double") * F.col("sy").cast("double"))
    dx = (F.col("n").cast("double") * F.col("sxx").cast("double")
          - F.col("sx").cast("double") * F.col("sx").cast("double"))
    dy = (F.col("n").cast("double") * F.col("syy").cast("double")
          - F.col("sy").cast("double") * F.col("sy").cast("double"))
    return s.select(
        "n", F.round(num / (F.sqrt(dx) * F.sqrt(dy)), 6).alias("rho"))


def robust_stats(events: DataFrame, lo: float = 0.1,
                 hi: float = 0.9) -> DataFrame:
    """Trimmed and winsorized means of ``value`` per event_type — the
    robust-statistics staple. Per-group interpolated quantile bounds
    come from ONE groupBy pass (Spark `percentile` == DuckDB
    quantile_cont — the conversion_time_stats parity rule; filtering
    compares against the RAW bound, outputs round it); a second
    conditional-aggregate pass computes the trimmed mean (values inside
    [q_lo, q_hi]) and the winsorized mean (values clamped to the
    bounds). Raw double sums follow the extended_stats precedent
    (value magnitudes ~1e2, round-6 absorbs association drift).

    Scale shape: two map-side-combined groupBy(event_type) passes + a
    broadcast ≤|types| bounds join. (event_type, n, n_kept, q_lo, q_hi,
    trimmed_mean, winsor_mean) ordered by event_type."""
    q = (events.groupBy("event_type")
         .agg(F.expr(f"percentile(value, {lo!r})").alias("ql"),
              F.expr(f"percentile(value, {hi!r})").alias("qh")))
    j = events.select("event_type", "value").join(F.broadcast(q),
                                                  "event_type")
    inside = (F.col("value") >= F.col("ql")) & (F.col("value") <= F.col("qh"))
    clamped = F.least(F.greatest(F.col("value"), F.col("ql")), F.col("qh"))
    g = (j.groupBy("event_type")
         .agg(F.count(F.lit(1)).cast("long").alias("n"),
              F.sum(F.when(inside, 1).otherwise(0)).cast("long")
              .alias("n_kept"),
              F.sum(F.when(inside, F.col("value"))
                    .otherwise(F.lit(0.0))).alias("ts"),
              F.sum(clamped).alias("ws"),
              F.min("ql").alias("ql"), F.min("qh").alias("qh")))
    return (g.select(
        "event_type", "n", "n_kept",
        F.round("ql", 6).alias("q_lo"), F.round("qh", 6).alias("q_hi"),
        F.round(F.col("ts") / F.col("n_kept"), 6).alias("trimmed_mean"),
        F.round(F.col("ws") / F.col("n"), 6).alias("winsor_mean"))
        .orderBy("event_type"))


def nelson_aalen(events: DataFrame, event_type: str = "purchase"
                 ) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimator (Nelson'72/Aalen'78) —
    the hazard-side sibling of survival_km, over the SAME per-user
    time-to-first-``event_type`` spans (survival_spans): H(t) =
    Σ_{t_i≤t} d_i/n_i, variance Σ d_i/n_i², and the Fleming-Harrington
    survival exp(−H). Cumulative sums run over the deterministic t_day
    order on the ≤|days| grouped relation — identical operand order in
    the DuckDB mirror, so the doubles agree before the round-6.

    Scale shape: identical to survival_km — one conditional
    groupBy(user_id) pass, a broadcast 1-row observation end, then
    bounded-relation windows. (t_day, n_risk, n_events, cum_hazard,
    var_h, s_fh) ordered by t_day."""
    per = survival_spans(events, event_type).select(
        F.when(F.col("tp").isNotNull(), 1).otherwise(0).alias("obs"),
        F.when(F.col("tp").isNotNull(),
               F.expr(f"(tp - t0) DIV {_DAY_US}"))
        .otherwise(F.expr(f"(t_end - t0) DIV {_DAY_US}")).alias("t_day"))
    g = (per.groupBy("t_day")
         .agg(F.sum("obs").cast("long").alias("n_events"),
              F.sum(1 - F.col("obs")).cast("long").alias("n_censored")))
    w = Window.orderBy("t_day").rowsBetween(Window.unboundedPreceding, 0)
    leaving = (F.col("n_events") + F.col("n_censored"))
    tot = g.agg(F.sum(leaving).cast("long").alias("n_total"))
    g = (g.crossJoin(F.broadcast(tot))
         .withColumn("n_risk",
                     (F.col("n_total") - (F.sum(leaving).over(w) - leaving))
                     .cast("long")))
    dh = F.col("n_events").cast("double") / F.col("n_risk").cast("double")
    dv = (F.col("n_events").cast("double")
          / (F.col("n_risk") * F.col("n_risk")).cast("double"))
    g = (g.withColumn("ch", F.sum(dh).over(w))
         .withColumn("vh", F.sum(dv).over(w)))
    return (g.select(
        "t_day", "n_risk", "n_events",
        F.round("ch", 6).alias("cum_hazard"),
        F.round("vh", 6).alias("var_h"),
        F.round(F.exp(-F.col("ch")), 6).alias("s_fh"))
        .orderBy("t_day"))


def holt_winters(events: DataFrame) -> DataFrame:
    """ES moving_fn with MovingFunctions.holtWinters (additive triple
    exponential smoothing, season m=7) over per-day bucket sums. States:

        l_t = (x_t − s_{t−m})·α + (l_{t−1} + b_{t−1})·(1−α)
        b_t = (l_t − l_{t−1})·β + b_{t−1}·(1−β)
        s_t = (x_t − l_t)·γ + s_{t−m}·(1−γ)

    α = 0.5, β = γ = 0.25 — FIXED DYADIC (the moving_ewma rule).
    Initialisation is the classical two-season seed: l_0 = mean of days
    1..7, b_0 = (mean(days 8..14) − l_0)/7, s_i = x_i − l_0 for the
    first season. The Spark side folds the ordered series ONCE with a
    STRUCT accumulator carrying (l, b, a 7-slot seasonal QUEUE, the
    fitted array); s_{t−m} is the queue head and each step rotates
    concat(slice(q,2,6), [s_t]). DuckDB's list_reduce can't carry a
    struct, so the oracle runs the identical recurrence as a recursive
    CTE keyed on the bucket row number — same operand order (repeated
    l_t subexpressions are TEXTUALLY identical so both engines compute
    the same doubles), same seeds (the holt_linear rule).

    Scale shape: one map-side-combined groupBy to ≤|days| buckets; the
    fold runs on a 1-row collected-array relation (bounded). Emits the
    fitted one-step-ahead values for days 8.. : (day, sum_value,
    hw_fitted, resid) ordered by day."""
    buckets = (
        events.groupBy(F.date_format(F.date_trunc("day", F.col("ts")),
                                     "yyyy-MM-dd").alias("day"))
        .agg(F.round(F.sum("value"), 6).alias("x")))
    return holt_winters_from_buckets(buckets)


def holt_winters_from_buckets(buckets: DataFrame) -> DataFrame:
    """The Holt-Winters fold over a (day, x) bucket relation — shared by
    holt_winters and streaming.stream_holt_winters (the
    change_point_from_buckets rule)."""
    one = buckets.agg(
        F.sort_array(F.collect_list(F.struct("day", "x"))).alias("dx"))
    one = (one
           .withColumn("days", F.expr("transform(dx, v -> v.day)"))
           .withColumn("xs", F.expr("transform(dx, v -> v.x)"))
           .withColumn("l0", F.expr(
               "aggregate(slice(xs, 1, 7), 0.0D, (a, v) -> a + v) / 7.0D"))
           .withColumn("b0", F.expr(
               "(aggregate(slice(xs, 8, 7), 0.0D, (a, v) -> a + v) / 7.0D"
               " - l0) / 7.0D"))
           .withColumn("q0", F.expr("transform(slice(xs, 1, 7),"
                                    " v -> v - l0)")))
    ln = ("((x - element_at(a.q, 1)) * 0.5D"
          " + (a.l + a.b) * 0.5D)")
    step = (
        "named_struct("
        f"'l', {ln}, "
        f"'b', ({ln} - a.l) * 0.25D + a.b * 0.75D, "
        "'q', concat(slice(a.q, 2, 6), array("
        f"(x - {ln}) * 0.25D + element_at(a.q, 1) * 0.75D)), "
        "'fit', concat(a.fit, array(a.l + a.b + element_at(a.q, 1))))")
    one = one.withColumn("st", F.expr(
        "aggregate(slice(xs, 8, size(xs) - 7), "
        "named_struct('l', l0, 'b', b0, 'q', q0, "
        "'fit', CAST(array() AS ARRAY<DOUBLE>)), "
        f"(a, x) -> {step})"))
    out = (one.select(
        F.posexplode(F.expr("st.fit")).alias("i", "fit"),
        F.col("days"), F.col("xs"))
        .select(F.expr("element_at(days, i + 8)").alias("day"),
                F.expr("element_at(xs, i + 8)").alias("sum_value"),
                F.round(F.col("fit"), 6).alias("hw_fitted")))
    return (out.withColumn(
        "resid", F.round(F.col("sum_value") - F.col("hw_fitted"), 6))
        .orderBy("day"))


def sprt_ab(events: DataFrame, event_type: str = "purchase",
            p0: float = 0.18, p1: float = 0.22,
            alpha: float = 0.05, beta: float = 0.2) -> DataFrame:
    """Wald sequential probability ratio test (Wald'45 — the sequential
    A/B-testing staple) monitoring the daily ``event_type`` share:
    after each day the cumulative log-likelihood ratio

        LLR_n = s_n·ln(p1/p0) + (n − s_n)·ln((1−p1)/(1−p0))

    is compared to the decision boundaries ln((1−β)/α) (accept H1) and
    ln(β/(1−α)) (accept H0). The four log constants are computed
    DRIVER-side and enter both engines as literals (the LSH-hyperplane
    rule), so LLR = integer-count × literal sums agree bit-for-bit and
    the boundary comparisons are exact; once a boundary is crossed the
    decision LATCHES (running max of the state ordinal — the KM dead-pin
    idiom). Scale shape: one map-side-combined groupBy(day) pass, then
    cumsum windows over the ≤|days| bucket relation (the shared
    sprt_from_day_counts tail — also fed by the streaming sibling's
    exact-additive count state). (d, n_cum, s_cum, llr, decision)
    ordered by d."""
    g = (events.select(
        F.expr(f"unix_micros(cast(ts as timestamp)) DIV {_DAY_US}")
        .alias("d"),
        F.when(F.col("event_type") == event_type, 1).otherwise(0)
        .alias("s"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).cast("long").alias("n"),
             F.sum("s").cast("long").alias("sc")))
    return sprt_from_day_counts(g, p0, p1, alpha, beta)


def sprt_from_day_counts(g: DataFrame, p0: float = 0.18, p1: float = 0.22,
                         alpha: float = 0.05, beta: float = 0.2
                         ) -> DataFrame:
    """The SPRT tail over a (d, n, sc) day-count relation — shared by
    sprt_ab and streaming.stream_sprt_ab (the change_point_from_buckets
    rule). Counts are EXACT integers, so the streaming additive merge is
    bit-identical to batch."""
    import math
    la = math.log(p1 / p0)
    lb = math.log((1.0 - p1) / (1.0 - p0))
    up = math.log((1.0 - beta) / alpha)
    dn = math.log(beta / (1.0 - alpha))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    g = (g.withColumn("n_cum", F.sum("n").over(w).cast("long"))
         .withColumn("s_cum", F.sum("sc").over(w).cast("long")))
    llr = (F.col("s_cum").cast("double") * F.lit(la)
           + (F.col("n_cum") - F.col("s_cum")).cast("double") * F.lit(lb))
    g = g.withColumn("llr", llr).withColumn(
        "state",
        F.max(F.when(F.col("llr") >= F.lit(up), 2)
              .when(F.col("llr") <= F.lit(dn), 1)
              .otherwise(0)).over(w))
    return (g.select(
        "d", "n_cum", "s_cum", F.round("llr", 6).alias("llr"),
        F.when(F.col("state") == 2, F.lit("accept_h1"))
        .when(F.col("state") == 1, F.lit("accept_h0"))
        .otherwise(F.lit("continue")).alias("decision"))
        .orderBy("d"))


def scd2_build(orders: DataFrame) -> DataFrame:
    """Slowly-Changing-Dimension Type 2 build (the Kimball warehouse
    staple): per customer, collapse the order-priority history into
    validity intervals — consecutive orders with the SAME priority fold
    into one version; a change opens a new version. Deterministic event
    order (ts µs, orderkey); run starts detected with lag(), version =
    cumsum of change flags, valid_to = lead() of the next run's start
    (NULL ⇒ current row, is_current = 1).

    Scale shape: every window is PARTITIONED BY customer (keyed — no
    global window); one shuffle on o_custkey total, then two window
    passes over per-customer partitions. (o_custkey, version, priority,
    valid_from_us, valid_to_us, is_current) ordered (custkey,
    version)."""
    us = F.unix_micros(F.col("o_orderdate").cast("timestamp"))
    e = orders.select(F.col("o_custkey").alias("ck"),
                      us.alias("us"),
                      F.col("o_orderkey").alias("ok"),
                      F.col("o_orderpriority").alias("prio"))
    w = Window.partitionBy("ck").orderBy("us", "ok")
    e = e.withColumn(
        "chg", F.when(F.lag("prio").over(w).isNull()
                      | (F.lag("prio").over(w) != F.col("prio")), 1)
        .otherwise(0))
    e = e.withColumn("version", F.sum("chg").over(
        Window.partitionBy("ck").orderBy("us", "ok")
        .rowsBetween(Window.unboundedPreceding, 0)).cast("long"))
    runs = (e.filter(F.col("chg") == 1)
            .select("ck", "version", "prio",
                    F.col("us").alias("valid_from_us")))
    w2 = Window.partitionBy("ck").orderBy("version")
    # -1 sentinel, not NULL: a nullable BIGINT comes back from the
    # oracle's pandas fetch as float (the esql FORK lesson)
    runs = runs.withColumn(
        "valid_to_us",
        F.coalesce(F.lead("valid_from_us").over(w2), F.lit(-1)).cast("long"))
    return (runs.select(
        F.col("ck").alias("o_custkey"), "version",
        F.col("prio").alias("priority"), "valid_from_us", "valid_to_us",
        F.when(F.col("valid_to_us") == -1, 1).otherwise(0)
        .cast("int").alias("is_current"))
        .orderBy("o_custkey", "version"))


def kruskal_wallis(events: DataFrame) -> DataFrame:
    """Kruskal-Wallis H test (Kruskal & Wallis 1952) — the k-group
    extension of mann_whitney_u — comparing ``value`` across ALL event
    types. Average ranks over ties come from the roc_auc identity on the
    bounded distinct-value relation; per-group rank sums R_j = Σ c·
    avg_rank are exact (avg_rank carries only .5 fractions);

        H = 12/(n(n+1)) · Σ_j R_j²/n_j − 3(n+1),
        H_tie = H / (1 − Σ(t³−t)/(n³−n))

    with the tie sum in exact BIGINT space. The Σ_j runs over the
    ≤|groups| relation (extended_stats double-sum precedent). Scale
    shape: ONE map-side-combined groupBy(group, value) corpus pass; rank
    windows only over the bounded value relation. Output one row per
    group — (event_type, n_j, mean_rank) — with the shared (h, h_tie)
    repeated per row (the psi_drift single-relation rule), ordered by
    event_type."""
    pairs = (events.select(F.col("event_type").alias("grp"),
                           F.col("value").alias("v"))
             .groupBy("grp", "v")
             .agg(F.count(F.lit(1)).cast("long").alias("cg")))
    vg = pairs.groupBy("v").agg(F.sum("cg").cast("long").alias("c"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    vr = vg.withColumn(
        "avg_rank",
        (F.sum("c").over(w) - F.col("c")) + (F.col("c") + 1) / F.lit(2.0))
    byg = (pairs.join(vr.select("v", "avg_rank"), "v")
           .groupBy("grp")
           .agg(F.sum("cg").cast("long").alias("n_j"),
                F.sum(F.col("cg") * F.col("avg_rank")).alias("r_j")))
    ties = vg.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c"))
        .cast("long").alias("tsum"))
    tot = byg.agg(F.sum(F.col("r_j") * F.col("r_j") / F.col("n_j")
                        .cast("double")).alias("rr"))
    n = F.col("n")
    h = (F.lit(12.0) / (n * (n + 1)).cast("double") * F.col("rr")
         - F.lit(3.0) * (n + 1).cast("double"))
    sc = (tot.crossJoin(F.broadcast(ties))
          .withColumn("h", h)
          .select(F.round("h", 6).alias("h"),
                  F.round(F.col("h")
                          / (F.lit(1.0) - F.col("tsum").cast("double")
                             / (n * n * n - n).cast("double")), 6)
                  .alias("h_tie")))
    return (byg.crossJoin(F.broadcast(sc))
            .select(F.col("grp").alias("event_type"), "n_j",
                    F.round(F.col("r_j") / F.col("n_j").cast("double"), 6)
                    .alias("mean_rank"), "h", "h_tie")
            .orderBy("event_type"))


def anova_f(events: DataFrame) -> DataFrame:
    """One-way ANOVA F statistic of ``value`` across event types, from
    raw per-group sums in ONE map-side-combined pass (the matrix_stats
    raw-sum rule): SSB = Σ_j s_j²/n_j − S²/N, SSW = Σ_j (ss_j − s_j²/n_j),
    F = (SSB/(k−1))/(SSW/(N−k)), eta² = SSB/(SSB+SSW). Group-relation
    double sums follow the extended_stats precedent. One row out:
    (k, n, ssb, ssw, f_stat, eta_sq)."""
    g = (events.groupBy("event_type")
         .agg(F.count(F.lit(1)).cast("long").alias("nj"),
              F.sum("value").alias("sj"),
              F.sum(F.col("value") * F.col("value")).alias("ssj")))
    a = g.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("nj").cast("long").alias("n"),
        F.sum("sj").alias("s"),
        F.sum(F.col("sj") * F.col("sj") / F.col("nj").cast("double"))
        .alias("sq"),
        F.sum("ssj").alias("ss"))
    ssb = F.col("sq") - F.col("s") * F.col("s") / F.col("n").cast("double")
    ssw = F.col("ss") - F.col("sq")
    a = a.withColumn("ssb", ssb).withColumn("ssw", ssw)
    f_stat = ((F.col("ssb") / (F.col("k") - 1).cast("double"))
              / (F.col("ssw") / (F.col("n") - F.col("k")).cast("double")))
    return a.select(
        "k", "n", F.round("ssb", 6).alias("ssb"),
        F.round("ssw", 6).alias("ssw"),
        F.round(f_stat, 6).alias("f_stat"),
        F.round(F.col("ssb") / (F.col("ssb") + F.col("ssw")), 6)
        .alias("eta_sq"))


def chi2_independence(events: DataFrame) -> DataFrame:
    """Pearson chi² test of independence on the event_type × ISO-weekday
    contingency table: observed counts in ONE groupBy pass, marginals
    from the bounded cell relation, expected e = (row·col)/n with exact
    integer products, per-cell contribution (o−e)²/e ROUNDED 6 before
    the Σ (the psi_drift/ece summation rule). Degrees of freedom
    (r−1)(c−1) from distinct-marginal counts. Output one row per cell —
    (event_type, dow, o, e, contrib) — with (chi2, dof) repeated,
    ordered (event_type, dow). Tail shared with the streaming sibling
    via chi2_from_cells (exact-integer additive cell state)."""
    cells = (events.select(
        "event_type",
        F.expr("extract(dayofweek FROM cast(ts as timestamp))")
        .cast("int").alias("dow"))
        .groupBy("event_type", "dow")
        .agg(F.count(F.lit(1)).cast("long").alias("o")))
    return chi2_from_cells(cells)


def chi2_from_cells(cells: DataFrame) -> DataFrame:
    """The chi² tail over an observed-count cell relation
    (event_type, dow, o) — shared by chi2_independence and
    streaming.stream_chi2_independence."""
    rows_m = cells.groupBy("event_type").agg(F.sum("o").cast("long")
                                             .alias("rm"))
    cols_m = cells.groupBy("dow").agg(F.sum("o").cast("long").alias("cm"))
    tot = cells.agg(F.sum("o").cast("long").alias("n"),
                    F.countDistinct("event_type").cast("long").alias("r"),
                    F.countDistinct("dow").cast("long").alias("c"))
    j = (cells.join(F.broadcast(rows_m), "event_type")
         .join(F.broadcast(cols_m), "dow")
         .crossJoin(F.broadcast(tot)))
    e = (F.col("rm") * F.col("cm")).cast("double") / F.col("n").cast("double")
    j = (j.withColumn("e", e)
         .withColumn("contrib", F.round(
             (F.col("o").cast("double") - F.col("e"))
             * (F.col("o").cast("double") - F.col("e")) / F.col("e"), 6)))
    chi = j.agg(F.round(F.sum("contrib"), 6).alias("chi2"),
                F.min((F.col("r") - 1) * (F.col("c") - 1)).cast("long")
                .alias("dof"))
    return (j.crossJoin(F.broadcast(chi))
            .select("event_type", "dow", "o", F.round("e", 6).alias("e"),
                    "contrib", "chi2", "dof")
            .orderBy("event_type", "dow"))


def fk_audit(orders: DataFrame, customer: DataFrame, lineitem: DataFrame,
             part: DataFrame, supplier: DataFrame) -> DataFrame:
    """Referential-integrity audit (the Deequ-style FK sibling of
    constraint_audit): orphan counts for the four warehouse foreign
    keys — orders→customer, lineitem→orders, lineitem→part,
    lineitem→supplier. Each check is a LEFT-ANTI join from the fact side
    against the DISTINCT key projection of the dimension (broadcast-able
    for true dims; AQE decides — no hint, the winnow_overlap rule).
    Output one row per relation: (relation, n_rows, n_orphans,
    orphan_share) ordered by relation."""
    def check(name, fact, key, dim, dkey):
        n = fact.agg(F.count(F.lit(1)).cast("long").alias("n"))
        orph = (fact.select(F.col(key).alias("k"))
                .join(dim.select(F.col(dkey).alias("k")).distinct(),
                      "k", "left_anti")
                .agg(F.count(F.lit(1)).cast("long").alias("o")))
        return (n.crossJoin(orph)
                .select(F.lit(name).alias("relation"),
                        F.col("n").alias("n_rows"),
                        F.col("o").alias("n_orphans"),
                        F.round(F.col("o").cast("double")
                                / F.col("n").cast("double"), 6)
                        .alias("orphan_share")))
    out = check("lineitem.orderkey", lineitem, "l_orderkey",
                orders, "o_orderkey")
    for args in (("lineitem.partkey", lineitem, "l_partkey", part,
                  "p_partkey"),
                 ("lineitem.suppkey", lineitem, "l_suppkey", supplier,
                  "s_suppkey"),
                 ("orders.custkey", orders, "o_custkey", customer,
                  "c_custkey")):
        out = out.unionByName(check(*args))
    return out.orderBy("relation")


def graph_assortativity(orders: DataFrame, lineitem: DataFrame
                        ) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002) of the symmetric
    customer↔supplier order graph — Pearson correlation of endpoint
    degrees over the directed edge list (both directions present, so the
    two marginals coincide). Degrees are EXACT BIGINT; every Σ over
    edges is an exact integer sum combined as doubles in the raw-sum
    closed form (the matrix_stats rule). Scale shape: one groupBy(src)
    degree pass, two keyed joins edge⋈degree, one global aggregate —
    all map-side combined. One row out: (m_edges, assortativity)."""
    edges = _order_graph_sym(orders, lineitem)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("long")
                                   .alias("d"))
    e = (edges
         .join(deg.select(F.col("src").alias("src"),
                          F.col("d").alias("dj")), "src")
         .join(deg.select(F.col("src").alias("dst"),
                          F.col("d").alias("dk")), "dst"))
    s = e.agg(F.count(F.lit(1)).cast("long").alias("m"),
              F.sum("dj").cast("long").alias("sj"),
              F.sum("dk").cast("long").alias("sk"),
              F.sum(F.col("dj") * F.col("dk")).cast("long").alias("sjk"),
              F.sum(F.col("dj") * F.col("dj")).cast("long").alias("sjj"),
              F.sum(F.col("dk") * F.col("dk")).cast("long").alias("skk"))
    num = (F.col("m").cast("double") * F.col("sjk").cast("double")
           - F.col("sj").cast("double") * F.col("sk").cast("double"))
    dx = (F.col("m").cast("double") * F.col("sjj").cast("double")
          - F.col("sj").cast("double") * F.col("sj").cast("double"))
    dy = (F.col("m").cast("double") * F.col("skk").cast("double")
          - F.col("sk").cast("double") * F.col("sk").cast("double"))
    return s.select(F.col("m").alias("m_edges"),
                    F.round(num / (F.sqrt(dx) * F.sqrt(dy)), 6)
                    .alias("assortativity"))


def ewma_control_chart(events: DataFrame, lam: float = 0.25,
                       limit: float = 3.0) -> DataFrame:
    """EWMA control chart (Roberts 1959 — the small-shift-sensitive
    sibling of cusum_changepoints) over daily event counts: z_t =
    λ·x_t + (1−λ)·z_{t−1} seeded at the series mean μ, with
    time-varying control limits

        μ ± L·σ·√( λ/(2−λ) · (1 − (1−λ)^{2t}) )

    λ = 0.25 FIXED DYADIC. μ and σ come from exact integer sums
    (population variance, raw-sum closed form). (1−λ)^{2t} is carried
    through the fold as an exact IEEE multiply chain w_t = w_{t−1}·
    0.5625 — NEVER libm pow, which drifts cross-engine (the rank_feature
    sigmoid lesson). The DuckDB mirror runs the identical (z, w)
    recurrence as a recursive CTE (the holt_winters rule). Scale shape:
    one map-side-combined groupBy(day); fold + limits on the ≤|days|
    bucket relation. (d, x, z, ucl, lcl, out_of_control) ordered by d."""
    g = (events.select(F.expr(
        f"unix_micros(cast(ts as timestamp)) DIV {_DAY_US}").alias("d"))
        .groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("x")))
    return ewma_chart_from_day_counts(g, lam, limit)


def ewma_chart_from_day_counts(g: DataFrame, lam: float = 0.25,
                               limit: float = 3.0) -> DataFrame:
    """The EWMA-chart tail over a (d, x) integer day-count relation —
    shared by ewma_control_chart and the streaming sibling (counts merge
    exactly, so stream == batch bit-for-bit)."""
    st = g.agg(F.count(F.lit(1)).cast("long").alias("n"),
               F.sum("x").cast("long").alias("s"),
               F.sum(F.col("x") * F.col("x")).cast("long").alias("ss"))
    mu = F.col("s").cast("double") / F.col("n").cast("double")
    var = (F.col("ss").cast("double") / F.col("n").cast("double")
           - (F.col("s").cast("double") / F.col("n").cast("double"))
           * (F.col("s").cast("double") / F.col("n").cast("double")))
    st = st.select(mu.alias("mu"),
                   F.sqrt(F.greatest(var, F.lit(0.0))).alias("sigma"))
    one = (g.agg(F.sort_array(F.collect_list(F.struct("d", "x")))
                 .alias("dx"))
           .crossJoin(F.broadcast(st)))
    lm, om = float(lam), 1.0 - float(lam)
    w2 = om * om
    step = (f"named_struct("
            f"'z', x * {lm!r}D + a.z * {om!r}D, "
            f"'w', a.w * {w2!r}D, "
            f"'zs', concat(a.zs, array(x * {lm!r}D + a.z * {om!r}D)), "
            f"'ws', concat(a.ws, array(a.w * {w2!r}D)))")
    one = one.withColumn("st2", F.expr(
        "aggregate(transform(dx, v -> CAST(v.x AS DOUBLE)), "
        "named_struct('z', mu, 'w', 1.0D, "
        "'zs', CAST(array() AS ARRAY<DOUBLE>), "
        "'ws', CAST(array() AS ARRAY<DOUBLE>)), "
        f"(a, x) -> {step})"))
    half = (F.lit(limit) * F.col("sigma")
            * F.sqrt(F.lit(lm / (2.0 - lm))
                     * (F.lit(1.0) - F.col("w"))))
    out = (one.select(F.posexplode(F.expr(
        "arrays_zip(st2.zs, st2.ws)")).alias("i", "zw"),
        F.col("dx"), F.col("mu"), F.col("sigma"))
        .select(F.expr("element_at(dx, i + 1).d").alias("d"),
                F.expr("element_at(dx, i + 1).x").alias("x"),
                F.col("zw.zs").alias("z"), F.col("zw.ws").alias("w"),
                "mu", "sigma"))
    out = (out.withColumn("ucl", F.col("mu") + half)
           .withColumn("lcl", F.col("mu") - half))
    return (out.select(
        "d", "x", F.round("z", 6).alias("z"),
        F.round("ucl", 6).alias("ucl"), F.round("lcl", 6).alias("lcl"),
        F.when((F.col("z") > F.col("ucl")) | (F.col("z") < F.col("lcl")),
               1).otherwise(0).cast("int").alias("out_of_control"))
        .orderBy("d"))


def rake_keywords(docs: DataFrame, stopwords: list[str] | None = None,
                  k: int = 20) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010 — the classic
    unsupervised keyphrase staple, the co-occurrence sibling of
    textrank_keywords): candidate phrases are maximal stopword-free
    token runs; word score = deg(w)/freq(w) where freq counts phrase
    instances containing w and deg sums their lengths; phrase score =
    Σ word scores (word scores ROUNDED 6 before the Σ — the psi/ece
    rule). Stopwords are templated into BOTH engines from the shared
    list (never hand-copied).

    Scale shape: phrase segmentation is a DOC-KEYED window (cumsum of
    stopword flags over token positions — bounded by doc length, never
    global); word stats are vocab-bounded aggregates; the top-k is
    orderBy+limit (TakeOrderedAndProject). (phrase, n_words,
    n_occurrences, score) ordered (score desc, phrase)."""
    from .textstats import STOPWORDS_EN
    from .tokenizer import tokens_expr
    stops = sorted(set(stopwords if stopwords is not None
                       else STOPWORDS_EN))
    ex = (docs.select("doc_id", F.posexplode(tokens_expr("text"))
                      .alias("pos", "tok"))
          .withColumn("is_stop",
                      F.when(F.col("tok").isin(stops), 1).otherwise(0)))
    w = (Window.partitionBy("doc_id").orderBy("pos")
         .rowsBetween(Window.unboundedPreceding, 0))
    # body is referenced by ph, wtok AND pscore (and ph twice more) — cut
    # the lineage once so the explode+window pass over the corpus tokens
    # isn't re-derived per branch
    body = (ex.withColumn("pid", F.sum("is_stop").over(w))
            .filter(F.col("is_stop") == 0)
            .select("doc_id", "pid", "pos", "tok")).localCheckpoint()
    ph = (body.groupBy("doc_id", "pid")
          .agg(F.count(F.lit(1)).cast("long").alias("plen"),
               F.array_join(F.expr(
                   "transform(array_sort(collect_list(struct(pos, tok))),"
                   " v -> v.tok)"), " ").alias("phrase")))
    wtok = body.join(ph.select("doc_id", "pid", "plen"), ["doc_id", "pid"])
    wscore = (wtok.groupBy("tok")
              .agg(F.count(F.lit(1)).cast("long").alias("freq"),
                   F.sum("plen").cast("long").alias("deg"))
              .select("tok", F.round(F.col("deg").cast("double")
                                     / F.col("freq").cast("double"), 6)
                      .alias("ws")))
    pscore = (body.join(F.broadcast(wscore), "tok")
              .groupBy("doc_id", "pid")
              .agg(F.round(F.sum("ws"), 6).alias("ps")))
    agg = (ph.join(pscore, ["doc_id", "pid"])
           .groupBy("phrase")
           .agg(F.min("plen").cast("long").alias("n_words"),
                F.count(F.lit(1)).cast("long").alias("n_occurrences"),
                F.min("ps").alias("score")))
    top = agg.orderBy(F.col("score").desc(), F.col("phrase").asc()).limit(k)
    return top.select("phrase", "n_words", "n_occurrences", "score") \
        .orderBy(F.col("score").desc(), F.col("phrase").asc())


def hampel_outliers(events: DataFrame, half: int = 3,
                    nsig: float = 3.0) -> DataFrame:
    """Hampel filter (rolling-median/MAD outlier detector — the robust
    sibling of ewma_control_chart) over daily event counts: for each day
    a centered ±``half`` window yields the exact interpolated median and
    the MAD (median of |x − med| — a second-order statistic, so it's TWO
    bounded passes: the window-membership range join on the ≤|days|
    bucket relation, then per-center quantiles; Spark `percentile` ==
    DuckDB quantile_cont). Flag |x − med| > nsig·1.4826·MAD compared on
    UNROUNDED values (both engines compute identical doubles).
    (d, x, med, mad, is_outlier) ordered by d."""
    g = (events.select(F.expr(
        f"unix_micros(cast(ts as timestamp)) DIV {_DAY_US}").alias("d"))
        .groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("x")))
    c = g.select(F.col("d").alias("cd"), F.col("x").alias("cx"))
    m = g.select(F.col("d").alias("md"), F.col("x").alias("mx"))
    pairs = c.join(m, (F.col("md") >= F.col("cd") - half)
                   & (F.col("md") <= F.col("cd") + half))
    med = (pairs.groupBy("cd")
           .agg(F.expr("percentile(mx, 0.5)").alias("med"),
                F.min("cx").alias("cx")))
    mad = (pairs.select("cd", "mx")
           .join(med.select("cd", "med"), "cd")
           .groupBy("cd")
           .agg(F.expr("percentile(abs(CAST(mx AS DOUBLE) - med), 0.5)")
                .alias("mad")))
    out = med.join(mad, "cd")
    thr = F.lit(float(nsig)) * F.lit(1.4826) * F.col("mad")
    return (out.select(
        F.col("cd").alias("d"), F.col("cx").alias("x"),
        F.round("med", 6).alias("med"), F.round("mad", 6).alias("mad"),
        F.when(F.abs(F.col("cx").cast("double") - F.col("med")) > thr, 1)
        .otherwise(0).cast("int").alias("is_outlier"))
        .orderBy("d"))


def als_rank1(orders: DataFrame, lineitem: DataFrame, iters: int = 2,
              reg: float = 0.5, k: int = 20) -> DataFrame:
    """Rank-1 ALS matrix factorization (Hu/Koren/Volinsky-style
    alternating least squares, the rank-1 closed form) over the implicit
    customer×part purchase-count matrix: alternating exact updates

        u_i = Σ_j r_ij·v_j / (reg + Σ_j v_j²)       (j over i's items)
        v_j = Σ_i r_ij·u_i / (reg + Σ_i u_i²)       (i over j's users)

    seeded v = 1.0, reg = 0.5 DYADIC; every half-step ROUNDS to 6 (the
    kmeans round-6 chaining rule — cross-engine determinism for chained
    float iterations). RMSE contributions are rounded 6 before the Σ
    (the ece rule). Each half-step is ONE keyed join + ONE map-side-
    combined groupBy — ratings shuffle by ck or pk, never all-pairs; the
    factor relations are |users|- and |items|-bounded.
    (rank, l_partkey, v, rmse) top-k items by (v desc, partkey asc),
    rmse repeated (the psi rule)."""
    # the ratings matrix feeds every half-step plus the rmse pass — cut
    # its lineage once (three duplicate orders⋈lineitem scans otherwise;
    # at cluster scale this is the persist-the-ratings-once ALS norm)
    rr = (orders.join(lineitem,
                      orders["o_orderkey"] == lineitem["l_orderkey"])
          .groupBy(F.col("o_custkey").alias("ck"),
                   F.col("l_partkey").alias("pk"))
          .agg(F.count(F.lit(1)).cast("long").alias("r"))).localCheckpoint()
    v = rr.select("pk").distinct().withColumn("v", F.lit(1.0))
    rg = float(reg)
    u = None
    for _ in range(int(iters)):
        u = (rr.join(v, "pk").groupBy("ck")
             .agg(F.round(F.sum(F.col("r") * F.col("v"))
                          / (F.lit(rg)
                             + F.sum(F.col("v") * F.col("v"))), 6)
                  .alias("u")))
        v = (rr.join(u, "ck").groupBy("pk")
             .agg(F.round(F.sum(F.col("r") * F.col("u"))
                          / (F.lit(rg)
                             + F.sum(F.col("u") * F.col("u"))), 6)
                  .alias("v")))
    err = (rr.join(u, "ck").join(v, "pk")
           .select(F.round((F.col("r").cast("double")
                            - F.col("u") * F.col("v"))
                           * (F.col("r").cast("double")
                              - F.col("u") * F.col("v")), 6).alias("e2")))
    rmse = err.agg(F.round(F.sqrt(F.sum("e2") / F.count(F.lit(1))), 6)
                   .alias("rmse"))
    top = v.orderBy(F.col("v").desc(), F.col("pk").asc()).limit(int(k))
    w = Window.orderBy(F.col("v").desc(), F.col("pk").asc())
    return (top.withColumn("rank", F.row_number().over(w))
            .crossJoin(F.broadcast(rmse))
            .select("rank", F.col("pk").alias("l_partkey"), "v", "rmse")
            .orderBy("rank"))


def grouping_sets_agg(lineitem: DataFrame) -> DataFrame:
    """OLAP ROLLUP over (l_returnflag, l_linestatus) — the classic
    GROUPING SETS hierarchy (detail → per-flag subtotal → grand total).
    The level ordinal is derived from WHICH keys are null (never the
    engine's grouping_id bit convention — Spark and DuckDB disagree on
    bit order); null keys render as 'ALL'. Quantities are integer-valued
    doubles lifted to exact BIGINT; revenue is ROUNDED 6 row-local then
    lifted to exact integer micro-units (the silhouette rule), so every
    subtotal is an exact integer sum — a raw double Σ at 1e8 magnitude
    drifts past round-6 at corpus size.

    Scale shape: ROLLUP is ONE pass with map-side partial aggregation
    (Spark expands grouping sets pre-shuffle). (lvl, l_returnflag,
    l_linestatus, n, sum_qty, revenue) ordered (lvl, flag, status)."""
    rev_mic = F.round(
        F.round(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")),
                6) * F.lit(1000000.0), 0).cast("long")
    base = lineitem.select(
        "l_returnflag", "l_linestatus",
        F.col("l_quantity").cast("long").alias("qty"),
        rev_mic.alias("rmic"))
    g = (base.rollup("l_returnflag", "l_linestatus")
         .agg(F.count(F.lit(1)).cast("long").alias("n"),
              F.sum("qty").cast("long").alias("sum_qty"),
              F.sum("rmic").cast("long").alias("rmic")))
    lvl = (F.when(F.col("l_returnflag").isNull()
                  & F.col("l_linestatus").isNull(), 2)
           .when(F.col("l_linestatus").isNull(), 1)
           .otherwise(0)).cast("int")
    return (g.select(
        lvl.alias("lvl"),
        F.coalesce("l_returnflag", F.lit("ALL")).alias("l_returnflag"),
        F.coalesce("l_linestatus", F.lit("ALL")).alias("l_linestatus"),
        "n", "sum_qty",
        F.round(F.col("rmic").cast("double") / F.lit(1000000.0), 6)
        .alias("revenue"))
        .orderBy("lvl", "l_returnflag", "l_linestatus"))


def pricing_summary(lineitem: DataFrame,
                    cutoff: str = "2001-09-01") -> DataFrame:
    """TPC-H Q1 pricing summary (the canonical OLAP scan-agg): per
    (l_returnflag, l_linestatus) over rows shipped on or before
    ``cutoff`` — count, quantity sum/avg, base/discounted/charged
    revenue, average discount. The shipdate filter is a pushdown-
    eligible comparison against a literal (PushedFilters evidence).
    Every money expression is ROUNDED 6 row-local and lifted to exact
    BIGINT micro-units before the Σ (the grouping_sets_agg rule — raw
    double sums at 1e8 magnitude drift past round-6); averages divide
    the exact integer sums. ONE map-side-combined groupBy pass.
    (l_returnflag, l_linestatus, n, sum_qty, avg_qty, sum_base,
    sum_disc_price, sum_charge, avg_disc) ordered (flag, status)."""
    def mic(c):
        return F.round(F.round(c, 6) * F.lit(1000000.0), 0).cast("long")
    base = (lineitem
            .filter(F.col("l_shipdate") <= F.lit(cutoff).cast("timestamp"))
            .select(
                "l_returnflag", "l_linestatus",
                F.col("l_quantity").cast("long").alias("qty"),
                mic(F.col("l_extendedprice")).alias("bmic"),
                mic(F.col("l_extendedprice")
                    * (F.lit(1.0) - F.col("l_discount"))).alias("dmic"),
                mic(F.col("l_extendedprice")
                    * (F.lit(1.0) - F.col("l_discount"))
                    * (F.lit(1.0) + F.col("l_tax"))).alias("cmic"),
                mic(F.col("l_discount")).alias("discmic")))
    g = (base.groupBy("l_returnflag", "l_linestatus")
         .agg(F.count(F.lit(1)).cast("long").alias("n"),
              F.sum("qty").cast("long").alias("sum_qty"),
              F.sum("bmic").cast("long").alias("bmic"),
              F.sum("dmic").cast("long").alias("dmic"),
              F.sum("cmic").cast("long").alias("cmic"),
              F.sum("discmic").cast("long").alias("discmic")))
    d6 = F.lit(1000000.0)
    return (g.select(
        "l_returnflag", "l_linestatus", "n", "sum_qty",
        F.round(F.col("sum_qty").cast("double")
                / F.col("n").cast("double"), 6).alias("avg_qty"),
        F.round(F.col("bmic").cast("double") / d6, 6).alias("sum_base"),
        F.round(F.col("dmic").cast("double") / d6, 6)
        .alias("sum_disc_price"),
        F.round(F.col("cmic").cast("double") / d6, 6).alias("sum_charge"),
        F.round(F.col("discmic").cast("double")
                / (F.col("n").cast("double") * d6), 6).alias("avg_disc"))
        .orderBy("l_returnflag", "l_linestatus"))


def fim_transform(docs: DataFrame) -> DataFrame:
    """Fill-in-the-middle transformation (Bavarian et al. 2022 — the FIM
    pretraining op): each document's token stream splits at two
    deterministic hash-keyed points into prefix/middle/suffix, emitted
    in PSM order '<PRE> p <SUF> s <MID> m'. Split points come from two
    portable hashes of the doc id (the hash_split idiom) so both engines
    pick identical spans; docs with <4 tokens pass through unmasked
    (fim = 0). Entirely ROW-LOCAL — zero shuffle (the span_corruption
    rule); reconstruction is exact (tested).
    (doc_id, n_tokens, p1, p2, fim, fim_text) ordered by doc_id."""
    from .portable import hash60
    from .tokenizer import tokens_expr
    d = docs.select("doc_id", tokens_expr("text").alias("tk"))
    d = d.withColumn("n", F.size("tk").cast("long"))
    h1 = hash60(F.concat(F.col("doc_id").cast("string"), F.lit(":1")))
    h2 = hash60(F.concat(F.col("doc_id").cast("string"), F.lit(":2")))
    d = (d.withColumn("fim", F.when(F.col("n") >= 4, 1).otherwise(0)
                      .cast("int"))
         .withColumn("p1", F.when(F.col("n") >= 4,
                                  1 + F.pmod(h1, F.col("n") - 2))
                     .otherwise(F.lit(0)).cast("long")))
    rem = F.col("n") - F.col("p1") - 1
    d = d.withColumn("p2", F.when(F.col("n") >= 4,
                                  F.col("p1") + 1 + F.pmod(h2, rem))
                     .otherwise(F.lit(0)).cast("long"))
    pre = F.array_join(F.slice(F.col("tk"), F.lit(1), F.col("p1")), " ")
    mid = F.array_join(F.expr("slice(tk, p1 + 1, p2 - p1)"), " ")
    suf = F.array_join(F.expr("slice(tk, p2 + 1, n - p2)"), " ")
    fim_text = (F.when(F.col("fim") == 1,
                       F.concat(F.lit("<PRE> "), pre, F.lit(" <SUF> "),
                                suf, F.lit(" <MID> "), mid))
                .otherwise(F.array_join(F.col("tk"), " ")))
    return (d.select("doc_id", F.col("n").alias("n_tokens"), "p1", "p2",
                     "fim", fim_text.alias("fim_text"))
            .orderBy("doc_id"))


def logrank_test(events: DataFrame, event_type: str = "purchase"
                 ) -> DataFrame:
    """Log-rank test (Mantel 1966) comparing the time-to-conversion
    curves of two user cohorts (portable-hash variant split — the cuped
    idiom): at each event day the observed group-1 events are compared
    with the hypergeometric expectation E1 = d·n1/n and variance
    V = d·(n1/n)·(1−n1/n)·(n−d)/(n−1); per-day contributions are
    ROUNDED 6 before the Σ (the ece rule); z = Σ(O1−E1)/√ΣV,
    chi² = z². Risk tables per group come from the survival_km span
    derivation with per-group windows over the ≤|days| bucket relation.
    One row out: (n_users0, n_users1, o1, e1, v, z, chi2)."""
    from .portable import hash60
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    per = (events.select("user_id", us.alias("us"), "event_type")
           .groupBy("user_id")
           .agg(F.min("us").alias("t0"),
                F.min(F.when(F.col("event_type") == event_type,
                             F.col("us"))).alias("tp"))
           .withColumn("g", F.pmod(hash60(F.col("user_id").cast("string")),
                                   F.lit(2)).cast("int")))
    end = events.select(us.alias("us")).agg(F.max("us").alias("t_end"))
    per = per.crossJoin(F.broadcast(end)).select(
        "g",
        F.when(F.col("tp").isNotNull(), 1).otherwise(0).alias("obs"),
        F.when(F.col("tp").isNotNull(),
               F.expr(f"(tp - t0) DIV {_DAY_US}"))
        .otherwise(F.expr(f"(t_end - t0) DIV {_DAY_US}")).alias("t_day"))
    cells = (per.groupBy("g", "t_day")
             .agg(F.sum("obs").cast("long").alias("d"),
                  F.count(F.lit(1)).cast("long").alias("leave")))
    # zero-filled union-day grid: at-risk derives from cumulative leavers
    # over the SHARED day order (absent days contribute zero leavers), so
    # both groups stay exact without any last-value fill
    g0 = (cells.filter(F.col("g") == 0)
          .select(F.col("t_day").alias("td"), F.col("d").alias("d0"),
                  F.col("leave").alias("l0")))
    g1 = (cells.filter(F.col("g") == 1)
          .select(F.col("t_day").alias("td"), F.col("d").alias("d1"),
                  F.col("leave").alias("l1")))
    days = g0.select("td").unionByName(g1.select("td")).distinct()
    grid = (days.join(g0, "td", "left").join(g1, "td", "left")
            .select("td",
                    F.coalesce("d0", F.lit(0)).cast("long").alias("d0"),
                    F.coalesce("l0", F.lit(0)).cast("long").alias("l0"),
                    F.coalesce("d1", F.lit(0)).cast("long").alias("d1"),
                    F.coalesce("l1", F.lit(0)).cast("long").alias("l1")))
    ngs = cells.agg(
        F.sum(F.when(F.col("g") == 0, F.col("leave")).otherwise(0))
        .cast("long").alias("ng0"),
        F.sum(F.when(F.col("g") == 1, F.col("leave")).otherwise(0))
        .cast("long").alias("ng1"))
    wd = Window.orderBy("td").rowsBetween(Window.unboundedPreceding, 0)
    grid = (grid.crossJoin(F.broadcast(ngs))
            .withColumn("r0", (F.col("ng0")
                               - (F.sum("l0").over(wd) - F.col("l0")))
                        .cast("long"))
            .withColumn("r1", (F.col("ng1")
                               - (F.sum("l1").over(wd) - F.col("l1")))
                        .cast("long")))
    d = F.col("d0") + F.col("d1")
    n = F.col("r0") + F.col("r1")
    frac1 = F.col("r1").cast("double") / n.cast("double")
    e1 = d.cast("double") * frac1
    v = (F.when(n > 1,
                d.cast("double") * frac1 * (F.lit(1.0) - frac1)
                * (n - d).cast("double") / (n - 1).cast("double"))
         .otherwise(F.lit(0.0)))
    rows = (grid.filter(d > 0)
            .select(F.round(F.col("d1").cast("double") - e1, 6).alias("oe"),
                    F.round(e1, 6).alias("e1c"),
                    F.round(v, 6).alias("vc"),
                    F.col("d1").cast("long").alias("o1c"),
                    "ng0", "ng1"))
    agg = rows.agg(F.min("ng0").cast("long").alias("n_users0"),
                   F.min("ng1").cast("long").alias("n_users1"),
                   F.sum("o1c").cast("long").alias("o1"),
                   F.round(F.sum("e1c"), 6).alias("e1"),
                   F.round(F.sum("oe"), 6).alias("oes"),
                   F.round(F.sum("vc"), 6).alias("v"))
    z = F.col("oes") / F.sqrt(F.col("v"))
    return agg.select(
        "n_users0", "n_users1",
        "o1", "e1", "v", F.round(z, 6).alias("z"),
        F.round(z * z, 6).alias("chi2"))


def pr_auc(docs: DataFrame, pos_lang: str = "en") -> DataFrame:
    """Average precision (area under the precision-recall curve, the
    step-wise tie-aware form) of the quality score against the
    (lang == pos_lang) label — the PR sibling of roc_auc: descending
    distinct-score blocks contribute P(block end)·(positives in block),
    AP = Σ contrib / n_pos with contributions ROUNDED 6 (the ece rule).
    All cumulatives are exact integers over the bounded distinct-score
    relation (the roc_auc rule). One row: (n_pos, n_neg, ap)."""
    from .curation import _qscore_col
    rows = docs.select(
        _qscore_col().alias("s"),
        F.when(F.col("lang") == pos_lang, 1).otherwise(0).alias("y"))
    g = (rows.groupBy("s")
         .agg(F.count(F.lit(1)).cast("long").alias("c"),
              F.sum("y").cast("long").alias("p")))
    w = (Window.orderBy(F.col("s").desc())
         .rowsBetween(Window.unboundedPreceding, 0))
    g = (g.withColumn("ctp", F.sum("p").over(w).cast("long"))
         .withColumn("cn", F.sum("c").over(w).cast("long")))
    tot = g.agg(F.max("ctp").cast("long").alias("np"),
                F.max("cn").cast("long").alias("nn_all"))
    contrib = F.round(
        (F.col("ctp").cast("double") / F.col("cn").cast("double"))
        * F.col("p").cast("double"), 6)
    agg = (g.filter(F.col("p") > 0)
           .agg(F.round(F.sum(contrib), 6).alias("csum")))
    return (agg.crossJoin(F.broadcast(tot))
            .select(F.col("np").alias("n_pos"),
                    (F.col("nn_all") - F.col("np")).cast("long")
                    .alias("n_neg"),
                    F.round(F.col("csum") / F.col("np").cast("double"), 6)
                    .alias("ap")))


def two_proportion_z(events: DataFrame, event_type: str = "purchase"
                     ) -> DataFrame:
    """Two-proportion z-test of the ``event_type`` share between the two
    portable-hash cohorts (the cuped split): pooled

        z = (p1 − p0) / √( p̂(1−p̂)(1/n0 + 1/n1) )

    from EXACT integer counts — one conditional groupBy pass, identical
    operand order cross-engine. One row:
    (n0, s0, n1, s1, p0, p1, z)."""
    from .portable import hash60
    per = (events.select(
        F.pmod(hash60(F.col("user_id").cast("string")), F.lit(2))
        .cast("int").alias("g"),
        F.when(F.col("event_type") == event_type, 1).otherwise(0)
        .alias("s"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).cast("long").alias("n"),
             F.sum("s").cast("long").alias("sc")))
    return two_proportion_from_arm_counts(per)


def two_proportion_from_arm_counts(per: DataFrame) -> DataFrame:
    """The two-proportion tail over a (g, n, sc) arm-count relation —
    shared with the streaming sibling (counts merge exactly)."""
    agg = per.agg(
        F.sum(F.when(F.col("g") == 0, F.col("n")).otherwise(0))
        .cast("long").alias("n0"),
        F.sum(F.when(F.col("g") == 0, F.col("sc")).otherwise(0))
        .cast("long").alias("s0"),
        F.sum(F.when(F.col("g") == 1, F.col("n")).otherwise(0))
        .cast("long").alias("n1"),
        F.sum(F.when(F.col("g") == 1, F.col("sc")).otherwise(0))
        .cast("long").alias("s1"))
    p0 = F.col("s0").cast("double") / F.col("n0").cast("double")
    p1 = F.col("s1").cast("double") / F.col("n1").cast("double")
    ph = ((F.col("s0") + F.col("s1")).cast("double")
          / (F.col("n0") + F.col("n1")).cast("double"))
    z = (p1 - p0) / F.sqrt(ph * (F.lit(1.0) - ph)
                           * (F.lit(1.0) / F.col("n0").cast("double")
                              + F.lit(1.0) / F.col("n1").cast("double")))
    return agg.select("n0", "s0", "n1", "s1",
                      F.round(p0, 6).alias("p0"),
                      F.round(p1, 6).alias("p1"),
                      F.round(z, 6).alias("z"))


def gains_deciles(events: DataFrame, target: str = "purchase",
                  buckets: int = 10) -> DataFrame:
    """Cumulative gains / lift table (the marketing decile analysis):
    users are scored by activity (event count), cut into ``buckets``
    ntiles ordered (count desc, user_id asc) — the rfm deterministic-
    ntile rule — and each decile reports its converter capture and lift
    against the base rate. Everything after the ONE user groupBy runs on
    exact integers; windows only over the ``buckets``-row relation.
    (decile, n_users, n_buyers, capture, cum_capture, lift) ordered by
    decile."""
    per = (events.groupBy("user_id")
           .agg(F.count(F.lit(1)).cast("long").alias("cnt"),
                F.max(F.when(F.col("event_type") == target, 1)
                      .otherwise(0)).cast("long").alias("buy")))
    return gains_from_user_scores(per, buckets)


def gains_from_user_scores(per: DataFrame, buckets: int = 10) -> DataFrame:
    """The gains/lift tail over a per-user (user_id, cnt, buy) relation —
    shared with the streaming sibling (cnt is additive, buy is a max
    lattice, so the merged state equals batch exactly)."""
    wn = Window.orderBy(F.col("cnt").desc(), F.col("user_id").asc())
    per = per.withColumn("decile", F.ntile(buckets).over(wn).cast("int"))
    g = (per.groupBy("decile")
         .agg(F.count(F.lit(1)).cast("long").alias("n_users"),
              F.sum("buy").cast("long").alias("n_buyers")))
    tot = g.agg(F.sum("n_users").cast("long").alias("nt"),
                F.sum("n_buyers").cast("long").alias("bt"))
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    g = (g.crossJoin(F.broadcast(tot))
         .withColumn("cumb", F.sum("n_buyers").over(wc).cast("long")))
    return (g.select(
        "decile", "n_users", "n_buyers",
        F.round(F.col("n_buyers").cast("double")
                / F.col("bt").cast("double"), 6).alias("capture"),
        F.round(F.col("cumb").cast("double")
                / F.col("bt").cast("double"), 6).alias("cum_capture"),
        F.round((F.col("n_buyers").cast("double")
                 / F.col("n_users").cast("double"))
                / (F.col("bt").cast("double")
                   / F.col("nt").cast("double")), 6).alias("lift"))
        .orderBy("decile"))


def diff_in_diff(events: DataFrame) -> DataFrame:
    """Difference-in-differences estimator (the Card-Krueger causal
    staple, completing the psm/cuped family): cohorts from the portable
    hash, periods from the integer-µs midpoint split (the cuped shape
    exactly); outcome = per-user event count per period. DiD =
    (ȳ₁post − ȳ₁pre) − (ȳ₀post − ȳ₀pre); the standard error comes from
    the per-user post−pre difference variances (raw-sum closed form over
    EXACT integer sums — the matrix_stats rule): se = √(v₁/n₁ + v₀/n₀),
    t = DiD/se. ONE conditional groupBy(user) pass + a 1-row broadcast
    bounds aggregate. One row: (n0, n1, did, se, t_stat)."""
    from .portable import hash60
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    e = events.select("user_id", us.alias("us"))
    bounds = (e.agg(F.min("us").alias("mn"), F.max("us").alias("mx"))
              .select(F.expr("(mn + mx) DIV 2").alias("split")))
    per = (e.crossJoin(F.broadcast(bounds))
           .groupBy("user_id")
           .agg(F.sum(F.when(F.col("us") < F.col("split"), 1)
                      .otherwise(0)).cast("long").alias("pre"),
                F.sum(F.when(F.col("us") >= F.col("split"), 1)
                      .otherwise(0)).cast("long").alias("post"))
           .withColumn("g", F.pmod(hash60(F.col("user_id").cast("string")),
                                   F.lit(2)).cast("int"))
           .withColumn("d", (F.col("post") - F.col("pre")).cast("long")))
    a = per.agg(
        F.sum(F.when(F.col("g") == 0, 1).otherwise(0)).cast("long")
        .alias("n0"),
        F.sum(F.when(F.col("g") == 0, F.col("d")).otherwise(0))
        .cast("long").alias("sd0"),
        F.sum(F.when(F.col("g") == 0, F.col("d") * F.col("d"))
              .otherwise(0)).cast("long").alias("sdd0"),
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("g") == 1, F.col("d")).otherwise(0))
        .cast("long").alias("sd1"),
        F.sum(F.when(F.col("g") == 1, F.col("d") * F.col("d"))
              .otherwise(0)).cast("long").alias("sdd1"))
    m0 = (F.when(F.col("n0") > 0, F.col("sd0").cast("double")
                 / F.col("n0").cast("double")).otherwise(F.lit(0.0)))
    m1 = (F.when(F.col("n1") > 0, F.col("sd1").cast("double")
                 / F.col("n1").cast("double")).otherwise(F.lit(0.0)))
    v0 = (F.when(F.col("n0") > 1,
                 (F.col("sdd0").cast("double")
                  - F.col("sd0").cast("double") * m0)
                 / (F.col("n0") - 1).cast("double")).otherwise(F.lit(0.0)))
    v1 = (F.when(F.col("n1") > 1,
                 (F.col("sdd1").cast("double")
                  - F.col("sd1").cast("double") * m1)
                 / (F.col("n1") - 1).cast("double")).otherwise(F.lit(0.0)))
    did = m1 - m0
    se = F.sqrt(F.when(F.col("n1") > 0, v1 / F.col("n1").cast("double"))
                .otherwise(F.lit(0.0))
                + F.when(F.col("n0") > 0, v0 / F.col("n0").cast("double"))
                .otherwise(F.lit(0.0)))
    a = a.withColumn("did", did).withColumn("se", se)
    return a.select("n0", "n1", F.round("did", 6).alias("did"),
                    F.round("se", 6).alias("se"),
                    F.round(F.when(F.col("se") > 0,
                                   F.col("did") / F.col("se"))
                            .otherwise(F.lit(0.0)), 6).alias("t_stat"))


def page_hinkley(events: DataFrame, delta: float = 0.5,
                 lam: float = 20.0) -> DataFrame:
    """Page-Hinkley drift detector (Page 1954; the streaming-drift
    classic, the running-mean sibling of cusum_changepoints) over daily
    event counts: per day t the deviation x_t − x̄_t − δ (running mean
    x̄_t = s_t/t from EXACT integer cumsums) accumulates into PH_t; an
    alarm fires when PH_t − min_{i≤t} PH_i > λ. Every window runs over
    the ≤|days| bucket relation in deterministic day order, so the
    double folds agree cross-engine; alarms compare UNROUNDED values.
    δ, λ are exact literals. (d, x, ph, alarm) ordered by d."""
    g = (events.select(F.expr(
        f"unix_micros(cast(ts as timestamp)) DIV {_DAY_US}").alias("d"))
        .groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("x")))
    return page_hinkley_from_day_counts(g, delta, lam)


def page_hinkley_from_day_counts(g: DataFrame, delta: float = 0.5,
                                 lam: float = 20.0) -> DataFrame:
    """The Page-Hinkley tail over a (d, x) integer day-count relation —
    shared with the streaming sibling (exact additive counts ⇒ stream ==
    batch bit-for-bit)."""
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    g = (g.withColumn("t", F.count(F.lit(1)).over(w).cast("long"))
         .withColumn("s", F.sum("x").over(w).cast("long")))
    term = (F.col("x").cast("double")
            - F.col("s").cast("double") / F.col("t").cast("double")
            - F.lit(float(delta)))
    g = (g.withColumn("ph", F.sum(term).over(w))
         .withColumn("mn", F.min(F.col("ph")).over(w)))
    return (g.select(
        "d", "x", F.round("ph", 6).alias("ph"),
        F.when(F.col("ph") - F.col("mn") > F.lit(float(lam)), 1)
        .otherwise(0).cast("int").alias("alarm"))
        .orderBy("d"))


def mcnemar_test(docs: DataFrame, len_chars: int = 200,
                 len_tokens: int = 40) -> DataFrame:
    """McNemar's paired test (1947) of marginal homogeneity between two
    binary document-quality rules — rule A: n_chars ≥ ``len_chars``,
    rule B: token count ≥ ``len_tokens`` (row-local flags, same
    tokenization contract as the oracle): only the discordant cells
    matter, b = |A∧¬B|, c = |¬A∧B|, continuity-corrected

        chi² = (|b − c| − 1)² / (b + c)

    entirely in EXACT integer space until one double division. ONE
    conditional-aggregate corpus pass. One row:
    (n, a_only, b_only, n_both, n_neither, chi2)."""
    from .tokenizer import tokens_expr
    fa = (F.col("n_chars") >= len_chars).cast("int")
    fb = (F.size(tokens_expr("text")) >= len_tokens).cast("int")
    r = docs.select(fa.alias("a"), fb.alias("b"))
    agg = r.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when((F.col("a") == 1) & (F.col("b") == 0), 1)
              .otherwise(0)).cast("long").alias("a_only"),
        F.sum(F.when((F.col("a") == 0) & (F.col("b") == 1), 1)
              .otherwise(0)).cast("long").alias("b_only"),
        F.sum(F.when((F.col("a") == 1) & (F.col("b") == 1), 1)
              .otherwise(0)).cast("long").alias("n_both"),
        F.sum(F.when((F.col("a") == 0) & (F.col("b") == 0), 1)
              .otherwise(0)).cast("long").alias("n_neither"))
    bc = F.col("a_only") + F.col("b_only")
    num = (F.abs(F.col("a_only") - F.col("b_only")) - 1)
    chi2 = (F.when(bc > 0, (num * num).cast("double") / bc.cast("double"))
            .otherwise(F.lit(0.0)))
    return agg.select("n", "a_only", "b_only", "n_both", "n_neither",
                      F.round(chi2, 6).alias("chi2"))


def var_es(events: DataFrame, q: float = 0.95) -> DataFrame:
    """Value-at-Risk and expected shortfall (CVaR) of ``value`` per
    event_type — the risk-management tail-statistics pair: VaR = the
    interpolated ``q``-quantile (Spark `percentile` == DuckDB
    quantile_cont — the conversion_time_stats parity rule), ES = the
    mean of values at or beyond the RAW VaR bound (filter compares
    unrounded; outputs round). Two map-side-combined passes + a
    broadcast ≤|types| bound join (the robust_stats shape).
    (event_type, n, n_tail, var_q, es) ordered by event_type."""
    b = (events.groupBy("event_type")
         .agg(F.expr(f"percentile(value, {float(q)!r})").alias("vq")))
    j = events.select("event_type", "value").join(F.broadcast(b),
                                                  "event_type")
    tail = F.col("value") >= F.col("vq")
    g = (j.groupBy("event_type")
         .agg(F.count(F.lit(1)).cast("long").alias("n"),
              F.sum(F.when(tail, 1).otherwise(0)).cast("long")
              .alias("n_tail"),
              F.sum(F.when(tail, F.col("value")).otherwise(F.lit(0.0)))
              .alias("ts"),
              F.min("vq").alias("vq")))
    return (g.select(
        "event_type", "n", "n_tail",
        F.round("vq", 6).alias("var_q"),
        F.round(F.col("ts") / F.col("n_tail").cast("double"), 6)
        .alias("es"))
        .orderBy("event_type"))


def qini_uplift(events: DataFrame, target: str = "purchase",
                buckets: int = 10) -> DataFrame:
    """Qini uplift curve (Radcliffe 2007 — the uplift-model evaluation
    staple): users carry an activity score (event count), a treatment
    arm (portable-hash cohort) and a conversion flag; deciles by score
    (deterministic ntile — the rfm rule) report per-decile uplift
    r_t/n_t − r_c/n_c and the cumulative Qini value
    cumR_t − cumR_c·(cumN_t/cumN_c). Everything is EXACT integers until
    the rounded divisions; windows only over the ``buckets``-row
    relation. (decile, n_t, n_c, r_t, r_c, uplift, qini) ordered by
    decile."""
    per = (events.groupBy("user_id")
           .agg(F.count(F.lit(1)).cast("long").alias("cnt"),
                F.max(F.when(F.col("event_type") == target, 1)
                      .otherwise(0)).cast("long").alias("buy")))
    return qini_from_user_scores(per, buckets)


def qini_from_user_scores(per: DataFrame, buckets: int = 10) -> DataFrame:
    """The Qini tail over a per-user (user_id, cnt, buy) relation — the
    gains_from_user_scores sibling (same exact-merge state shape; the
    hash arm derives from user_id, so it needs no state)."""
    from .portable import hash60
    per = per.withColumn(
        "g", F.pmod(hash60(F.col("user_id").cast("string")),
                    F.lit(2)).cast("int"))
    wn = Window.orderBy(F.col("cnt").desc(), F.col("user_id").asc())
    per = per.withColumn("decile", F.ntile(buckets).over(wn).cast("int"))
    g = (per.groupBy("decile")
         .agg(F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).cast("long")
              .alias("n_t"),
              F.sum(F.when(F.col("g") == 0, 1).otherwise(0)).cast("long")
              .alias("n_c"),
              F.sum(F.when(F.col("g") == 1, F.col("buy")).otherwise(0))
              .cast("long").alias("r_t"),
              F.sum(F.when(F.col("g") == 0, F.col("buy")).otherwise(0))
              .cast("long").alias("r_c")))
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    g = (g.withColumn("cnt_t", F.sum("n_t").over(wc).cast("long"))
         .withColumn("cnt_c", F.sum("n_c").over(wc).cast("long"))
         .withColumn("cr_t", F.sum("r_t").over(wc).cast("long"))
         .withColumn("cr_c", F.sum("r_c").over(wc).cast("long")))
    # tiny fixtures can leave a decile with an empty arm — pin those to
    # 0.0 with the counts still visible (deterministic in both engines)
    uplift = (F.when((F.col("n_t") > 0) & (F.col("n_c") > 0),
                     F.col("r_t").cast("double")
                     / F.col("n_t").cast("double")
                     - F.col("r_c").cast("double")
                     / F.col("n_c").cast("double"))
              .otherwise(F.lit(0.0)))
    qini = (F.when(F.col("cnt_c") > 0,
                   F.col("cr_t").cast("double")
                   - F.col("cr_c").cast("double")
                   * (F.col("cnt_t").cast("double")
                      / F.col("cnt_c").cast("double")))
            .otherwise(F.col("cr_t").cast("double")))
    return (g.select("decile", "n_t", "n_c", "r_t", "r_c",
                     F.round(uplift, 6).alias("uplift"),
                     F.round(qini, 6).alias("qini"))
            .orderBy("decile"))


def mutual_information(events: DataFrame) -> DataFrame:
    """Mutual information / G-test / Cramér's V over the same
    event_type × weekday contingency as chi2_independence — the
    information-theoretic association trio: per cell
    contrib = p_ij·ln(p_ij·n²/(r_i·c_j)) in nats (ROUNDED 6 before Σ —
    the ece rule; every ratio from exact integer products), MI = Σ,
    G = 2n·MI (from the rounded MI — deterministic), and Cramér's V
    from the chi² relation √(chi²/(n·min(r−1, c−1))) computed on the
    SAME rounded-contribution chi². One corpus groupBy; everything else
    on the ≤|cells| relation. One row: (n, mi, g_stat, cramers_v)."""
    cells = (events.select(
        "event_type",
        F.expr("extract(dayofweek FROM cast(ts as timestamp))")
        .cast("int").alias("dow"))
        .groupBy("event_type", "dow")
        .agg(F.count(F.lit(1)).cast("long").alias("o")))
    return mi_from_cells(cells)


def mi_from_cells(cells: DataFrame) -> DataFrame:
    """The MI/G/Cramér tail over an observed-count cell relation —
    shared with streaming.stream_mutual_information (exact-integer
    additive cells, same state shape as stream_chi2_independence)."""
    rm = cells.groupBy("event_type").agg(F.sum("o").cast("long")
                                         .alias("rm"))
    cm = cells.groupBy("dow").agg(F.sum("o").cast("long").alias("cm"))
    tot = cells.agg(F.sum("o").cast("long").alias("n"),
                    F.countDistinct("event_type").cast("long").alias("r"),
                    F.countDistinct("dow").cast("long").alias("c"))
    j = (cells.join(F.broadcast(rm), "event_type")
         .join(F.broadcast(cm), "dow").crossJoin(F.broadcast(tot)))
    p = F.col("o").cast("double") / F.col("n").cast("double")
    ratio = ((F.col("o").cast("double") * F.col("n").cast("double"))
             / (F.col("rm").cast("double") * F.col("cm").cast("double")))
    mi_c = F.round(p * F.log(ratio), 6)
    e = (F.col("rm") * F.col("cm")).cast("double") / F.col("n").cast("double")
    chi_c = F.round((F.col("o").cast("double") - e)
                    * (F.col("o").cast("double") - e) / e, 6)
    agg = j.agg(F.min("n").cast("long").alias("n"),
                F.round(F.sum(mi_c), 6).alias("mi"),
                F.round(F.sum(chi_c), 6).alias("chi2"),
                F.min("r").cast("long").alias("r"),
                F.min("c").cast("long").alias("c"))
    cv = F.sqrt(F.col("chi2")
                / (F.col("n").cast("double")
                   * F.least(F.col("r") - 1, F.col("c") - 1)
                   .cast("double")))
    return agg.select(
        "n", "mi",
        F.round(F.lit(2.0) * F.col("n").cast("double") * F.col("mi"), 6)
        .alias("g_stat"),
        F.round(cv, 6).alias("cramers_v"))


def friedman_test(events: DataFrame) -> DataFrame:
    """Friedman test (1937) — the repeated-measures k-group rank test
    (blocks = days, treatments = event types, response = daily count):
    within each complete block the counts get midranks (rank() + tie
    window — exact .5 fractions), R_j = Σ midranks per treatment,

        chi2 = 12/(n·k(k+1)) · ΣR_j² − 3n(k+1)

    with the tie correction C = 1 − Σ(t³−t)/(n·k(k²−1)) (tie sum in
    exact BIGINT over within-block tie groups). Incomplete blocks (a day
    missing a type) are DROPPED (the balanced-design contract). Every
    window is BLOCK-KEYED over the ≤|days|·k cell relation. Output one
    row per treatment — (event_type, n_blocks, mean_rank) — with
    (chi2, chi2_tie) repeated (the psi rule), ordered by event_type."""
    cells = (events.select(
        F.expr(f"unix_micros(cast(ts as timestamp)) DIV {_DAY_US}")
        .alias("d"), "event_type")
        .groupBy("d", "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt")))
    k = cells.agg(F.countDistinct("event_type").cast("long").alias("k"))
    complete = (cells.groupBy("d")
                .agg(F.count(F.lit(1)).cast("long").alias("nt"))
                .crossJoin(F.broadcast(k))
                .filter(F.col("nt") == F.col("k"))
                .select("d"))
    cells = cells.join(complete, "d")
    wr = Window.partitionBy("d").orderBy("cnt")
    wt = Window.partitionBy("d", "cnt")
    cells = cells.withColumn(
        "mr", F.rank().over(wr)
        + (F.count(F.lit(1)).over(wt) - 1) / F.lit(2.0))
    ties = (cells.groupBy("d", "cnt")
            .agg(F.count(F.lit(1)).cast("long").alias("t"))
            .agg(F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
                 .cast("long").alias("tsum")))
    byt = (cells.groupBy("event_type")
           .agg(F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("mr").alias("rj")))
    tot = (byt.agg(F.min("n").cast("long").alias("n"),
                   F.count(F.lit(1)).cast("long").alias("k"),
                   F.sum(F.col("rj") * F.col("rj")).alias("rr"))
           .crossJoin(F.broadcast(ties)))
    n, kk = F.col("n"), F.col("k")
    chi2 = (F.lit(12.0) / (n * kk * (kk + 1)).cast("double") * F.col("rr")
            - F.lit(3.0) * (n * (kk + 1)).cast("double"))
    corr = (F.lit(1.0) - F.col("tsum").cast("double")
            / (n * kk * (kk * kk - 1)).cast("double"))
    sc = (tot.withColumn("chi2r", F.round(chi2, 6))
          .select("chi2r",
                  F.round(chi2 / corr, 6).alias("chi2_tie"))
          .withColumnRenamed("chi2r", "chi2"))
    return (byt.crossJoin(F.broadcast(sc))
            .select("event_type", F.col("n").alias("n_blocks"),
                    F.round(F.col("rj") / F.col("n").cast("double"), 6)
                    .alias("mean_rank"), "chi2", "chi2_tie")
            .orderBy("event_type"))


def cmh_test(events: DataFrame, event_type: str = "purchase") -> DataFrame:
    """Cochran-Mantel-Haenszel test — the stratified 2×2 association
    test (strata = ISO weekday, arms = the portable-hash cohorts,
    success = ``event_type``): per stratum the hypergeometric
    expectation E = n1·m1/n and variance V = n1·n0·m1·m0/(n²(n−1))
    (exact integer numerators, same operand order cross-engine; the
    logrank machinery on a different grid), continuity-corrected

        CMH = (|Σa − ΣE| − 0.5)² / ΣV

    with per-stratum E/V contributions ROUNDED 6 before the Σ (the ece
    rule). ONE conditional groupBy(dow) corpus pass. One row:
    (n_strata, a_sum, e_sum, v_sum, cmh)."""
    from .portable import hash60
    rows = events.select(
        F.expr("extract(dayofweek FROM cast(ts as timestamp))")
        .cast("int").alias("dow"),
        F.pmod(hash60(F.col("user_id").cast("string")), F.lit(2))
        .cast("int").alias("g"),
        F.when(F.col("event_type") == event_type, 1).otherwise(0)
        .alias("s"))
    st = (rows.groupBy("dow")
          .agg(F.count(F.lit(1)).cast("long").alias("n"),
               F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).cast("long")
               .alias("n1"),
               F.sum("s").cast("long").alias("m1"),
               F.sum(F.when(F.col("g") == 1, F.col("s")).otherwise(0))
               .cast("long").alias("a")))
    e = ((F.col("n1") * F.col("m1")).cast("double")
         / F.col("n").cast("double"))
    n0 = F.col("n") - F.col("n1")
    m0 = F.col("n") - F.col("m1")
    v = (F.when(F.col("n") > 1,
                (F.col("n1") * n0).cast("double")
                * (F.col("m1") * m0).cast("double")
                / ((F.col("n") * F.col("n")).cast("double")
                   * (F.col("n") - 1).cast("double")))
         .otherwise(F.lit(0.0)))
    per = st.select(F.col("a"), F.round(e, 6).alias("ec"),
                    F.round(v, 6).alias("vc"))
    agg = per.agg(F.count(F.lit(1)).cast("long").alias("n_strata"),
                  F.sum("a").cast("long").alias("a_sum"),
                  F.round(F.sum("ec"), 6).alias("e_sum"),
                  F.round(F.sum("vc"), 6).alias("v_sum"))
    num = F.abs(F.col("a_sum").cast("double") - F.col("e_sum")) - F.lit(0.5)
    return agg.select(
        "n_strata", "a_sum", "e_sum", "v_sum",
        F.round(num * num / F.col("v_sum"), 6).alias("cmh"))


def runs_test(events: DataFrame) -> DataFrame:
    """Wald-Wolfowitz runs test of randomness on the daily-count series:
    days sign above/below the interpolated median (quantile_cont parity;
    exact-median days DROP — the standard treatment), runs = 1 +
    Σ(sign ≠ lag sign) over the deterministic day order,

        z = (R − μ)/√σ²,  μ = 2n1n2/(n1+n2) + 1

    with μ/σ² from EXACT integer counts. All windows over the ≤|days|
    bucket relation. One row: (n_above, n_below, runs, mu, z)."""
    g = (events.select(F.expr(
        f"unix_micros(cast(ts as timestamp)) DIV {_DAY_US}").alias("d"))
        .groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("x")))
    med = g.agg(F.expr("percentile(x, 0.5D)").alias("med"))
    s = (g.crossJoin(F.broadcast(med))
         .filter(F.col("x").cast("double") != F.col("med"))
         .withColumn("sgn", F.when(F.col("x").cast("double")
                                   > F.col("med"), 1).otherwise(0)))
    w = Window.orderBy("d")
    s = s.withColumn(
        "chg", F.when(F.lag("sgn").over(w).isNull()
                      | (F.lag("sgn").over(w) != F.col("sgn")), 1)
        .otherwise(0))
    agg = s.agg(F.sum("sgn").cast("long").alias("n1"),
                F.sum(1 - F.col("sgn")).cast("long").alias("n2"),
                F.sum("chg").cast("long").alias("runs"))
    n1, n2 = F.col("n1"), F.col("n2")
    mu = (F.lit(2.0) * (n1 * n2).cast("double")
          / (n1 + n2).cast("double") + F.lit(1.0))
    var = (F.lit(2.0) * (n1 * n2).cast("double")
           * (F.lit(2.0) * (n1 * n2).cast("double")
              - (n1 + n2).cast("double"))
           / ((n1 + n2) * (n1 + n2)).cast("double")
           / (n1 + n2 - 1).cast("double"))
    agg = agg.withColumn("mu", mu).withColumn("var", var)
    return agg.select(
        F.col("n1").alias("n_above"), F.col("n2").alias("n_below"),
        "runs", F.round("mu", 6).alias("mu"),
        F.round((F.col("runs").cast("double") - F.col("mu"))
                / F.sqrt(F.col("var")), 6).alias("z"))


def ks_test_two_sample(events: DataFrame, grp_a: str = "view",
                       grp_b: str = "purchase") -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov test on raw ``value``
    distributions (the raw-value classic; bucket_count_ks_test is the ES
    bucketed variant) — D = max |ECDF_a − ECDF_b| over the bounded
    distinct-value relation (the roc_auc rule: ONE groupBy(value) corpus
    pass, cumulative EXACT integers, one double division per side), and
    the asymptotic statistic z = D·√(n_a·n_b/(n_a+n_b)). One row:
    (n_a, n_b, d_stat, ks_z)."""
    rows = (events.filter(F.col("event_type").isin([grp_a, grp_b]))
            .select(F.col("value").alias("v"),
                    F.when(F.col("event_type") == grp_a, 1)
                    .otherwise(0).alias("ya")))
    g = (rows.groupBy("v")
         .agg(F.sum("ya").cast("long").alias("a"),
              (F.count(F.lit(1)) - F.sum("ya")).cast("long").alias("b")))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    g = (g.withColumn("ca", F.sum("a").over(w).cast("long"))
         .withColumn("cb", F.sum("b").over(w).cast("long")))
    tot = g.agg(F.max("ca").cast("long").alias("na"),
                F.max("cb").cast("long").alias("nb"))
    d = F.abs(F.col("ca").cast("double") / F.col("na").cast("double")
              - F.col("cb").cast("double") / F.col("nb").cast("double"))
    agg = (g.crossJoin(F.broadcast(tot))
           .agg(F.min("na").cast("long").alias("n_a"),
                F.min("nb").cast("long").alias("n_b"),
                F.max(d).alias("d")))
    z = (F.col("d") * F.sqrt((F.col("n_a") * F.col("n_b")).cast("double")
                             / (F.col("n_a") + F.col("n_b"))
                             .cast("double")))
    return agg.select("n_a", "n_b",
                      F.round("d", 6).alias("d_stat"),
                      F.round(z, 6).alias("ks_z"))


def yuen_t_test(events: DataFrame, grp_a: str = "view",
                grp_b: str = "purchase", lo: float = 0.1,
                hi: float = 0.9) -> DataFrame:
    """Yuen's trimmed t-test (Yuen 1974) — the robust Welch sibling:
    compares 20%-style trimmed means of ``value`` between two event
    types using winsorized variances. Per group (the robust_stats
    two-pass shape): interpolated [lo, hi] quantile bounds (percentile
    == quantile_cont parity), trimmed mean over the inside rows,
    winsorized sum-of-squares over clamped values; then

        t = (m_a − m_b)/√(d_a + d_b),  d_g = s²w_g/(h_g(h_g−1))·(n_g−1)

    (the standard Yuen denominators with h = trimmed count), Welch-
    Satterthwaite df from the same d terms. Raw double sums follow the
    extended_stats precedent (value magnitude ~1e2). One row:
    (n_a, n_b, h_a, h_b, m_a, m_b, t_stat, df)."""
    rows = (events.filter(F.col("event_type").isin([grp_a, grp_b]))
            .select(F.when(F.col("event_type") == grp_a, 0).otherwise(1)
                    .alias("g"), F.col("value").alias("v")))
    q = (rows.groupBy("g")
         .agg(F.expr(f"percentile(v, {float(lo)!r})").alias("ql"),
              F.expr(f"percentile(v, {float(hi)!r})").alias("qh")))
    j = rows.join(F.broadcast(q), "g")
    inside = (F.col("v") >= F.col("ql")) & (F.col("v") <= F.col("qh"))
    clamped = F.least(F.greatest(F.col("v"), F.col("ql")), F.col("qh"))
    g = (j.groupBy("g")
         .agg(F.count(F.lit(1)).cast("long").alias("n"),
              F.sum(F.when(inside, 1).otherwise(0)).cast("long")
              .alias("h"),
              F.sum(F.when(inside, F.col("v")).otherwise(F.lit(0.0)))
              .alias("ts"),
              F.sum(clamped).alias("ws"),
              F.sum(clamped * clamped).alias("wss")))
    g = (g.withColumn("m", F.col("ts") / F.col("h").cast("double"))
         .withColumn("wv", (F.col("wss")
                            - F.col("ws") * F.col("ws")
                            / F.col("n").cast("double"))
                     / (F.col("n") - 1).cast("double"))
         .withColumn("d", F.col("wv") * (F.col("n") - 1).cast("double")
                     / (F.col("h") * (F.col("h") - 1)).cast("double")))
    a = (g.filter(F.col("g") == 0)
         .select(F.col("n").alias("n_a"), F.col("h").alias("h_a"),
                 F.col("m").alias("ma"), F.col("d").alias("da")))
    b = (g.filter(F.col("g") == 1)
         .select(F.col("n").alias("n_b"), F.col("h").alias("h_b"),
                 F.col("m").alias("mb"), F.col("d").alias("db")))
    t = (F.col("ma") - F.col("mb")) / F.sqrt(F.col("da") + F.col("db"))
    df = ((F.col("da") + F.col("db")) * (F.col("da") + F.col("db"))
          / (F.col("da") * F.col("da") / (F.col("h_a") - 1).cast("double")
             + F.col("db") * F.col("db")
             / (F.col("h_b") - 1).cast("double")))
    return (a.crossJoin(b)
            .select("n_a", "n_b", "h_a", "h_b",
                    F.round("ma", 6).alias("m_a"),
                    F.round("mb", 6).alias("m_b"),
                    F.round(t, 6).alias("t_stat"),
                    F.round(df, 6).alias("df")))


# two-sided alpha=0.05 / power=0.8 normal quantiles — public constants
# entering BOTH engines as literals (the SPRT log-constant rule; never a
# cross-engine erf/quantile evaluation)
_Z_ALPHA_05 = 1.959963984540054
_Z_BETA_80 = 0.8416212335729143


def power_analysis(events: DataFrame, event_type: str = "purchase",
                   lifts: tuple = (0.05, 0.1, 0.2, 0.5)) -> DataFrame:
    """Two-proportion sample-size calculator (the experiment-design
    staple): the baseline conversion p1 comes from the corpus (exact
    integer counts), each relative lift gives p2 = p1·(1+lift), and

        n/arm = ⌈(z_{α/2} + z_β)² · (p1(1−p1) + p2(1−p2)) / (p1−p2)²⌉

    with the normal quantiles as shared literals. ONE conditional
    corpus aggregate; the lift fan-out is a ≤|lifts|-row literal
    explode. (lift, p1, p2, n_per_arm, total_days) ordered by lift —
    total_days = ceil(2n / daily event volume)."""
    base = events.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("event_type") == event_type, 1).otherwise(0))
        .cast("long").alias("s"),
        F.countDistinct(F.expr(
            f"unix_micros(cast(ts as timestamp)) DIV {_DAY_US}"))
        .cast("long").alias("days"))
    lf = F.explode(F.array(*[F.lit(float(x)) for x in lifts])).alias("lift")
    rows = base.select(lf, "n", "s", "days")
    p1 = F.col("s").cast("double") / F.col("n").cast("double")
    p2 = p1 * (F.lit(1.0) + F.col("lift"))
    zz = F.lit((_Z_ALPHA_05 + _Z_BETA_80) ** 2)
    n_arm = F.ceil(zz * (p1 * (F.lit(1.0) - p1)
                         + p2 * (F.lit(1.0) - p2))
                   / ((p1 - p2) * (p1 - p2))).cast("long")
    daily = (F.col("n").cast("double") / F.col("days").cast("double"))
    rows = rows.withColumn("n_arm", n_arm)
    return (rows.select(
        F.round("lift", 6).alias("lift"),
        F.round(p1, 6).alias("p1"), F.round(p2, 6).alias("p2"),
        F.col("n_arm").alias("n_per_arm"),
        F.ceil(F.lit(2.0) * F.col("n_arm").cast("double") / daily)
        .cast("long").alias("total_days"))
        .orderBy("lift"))


def cohens_kappa(docs: DataFrame, len_chars: int = 200,
                 len_tokens: int = 40) -> DataFrame:
    """Cohen's kappa (1960) — inter-rater agreement between the two
    binary quality rules of mcnemar_test: po = observed agreement, pe =
    chance agreement from the marginals, kappa = (po − pe)/(1 − pe).
    EXACT integer cells until the final divisions (one conditional
    corpus pass). One row: (n, po, pe, kappa)."""
    from .tokenizer import tokens_expr
    fa = (F.col("n_chars") >= len_chars).cast("int")
    fb = (F.size(tokens_expr("text")) >= len_tokens).cast("int")
    r = docs.select(fa.alias("a"), fb.alias("b"))
    agg = r.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when((F.col("a") == 1) & (F.col("b") == 1), 1)
              .otherwise(0)).cast("long").alias("n11"),
        F.sum(F.when((F.col("a") == 0) & (F.col("b") == 0), 1)
              .otherwise(0)).cast("long").alias("n00"),
        F.sum("a").cast("long").alias("na"),
        F.sum("b").cast("long").alias("nb"))
    po = (F.col("n11") + F.col("n00")).cast("double") \
        / F.col("n").cast("double")
    pa = F.col("na").cast("double") / F.col("n").cast("double")
    pb = F.col("nb").cast("double") / F.col("n").cast("double")
    pe = pa * pb + (F.lit(1.0) - pa) * (F.lit(1.0) - pb)
    agg = agg.withColumn("po", po).withColumn("pe", pe)
    return agg.select(
        "n", F.round("po", 6).alias("po"), F.round("pe", 6).alias("pe"),
        F.round((F.col("po") - F.col("pe"))
                / (F.lit(1.0) - F.col("pe")), 6).alias("kappa"))


def partial_spearman(lineitem: DataFrame) -> DataFrame:
    """Partial Spearman correlation of l_quantity and l_extendedprice
    controlling for l_discount: the three pairwise rank correlations
    come from DOUBLED-INTEGER average ranks (the spearman_corr
    machinery — every sum exact BIGINT), then the closed form

        r_xy.z = (r_xy − r_xz·r_yz) / √((1−r_xz²)(1−r_yz²))

    over the ROUNDED pairwise r's (deterministic chaining — the kmeans
    rule). Scale shape: ONE groupBy over the (x, y, z) triple relation;
    rank windows only over bounded distinct-value relations. One row:
    (n, r_xy, r_xz, r_yz, r_xy_z)."""
    rows = lineitem.select(F.col("l_quantity").alias("x"),
                           F.col("l_extendedprice").alias("y"),
                           F.col("l_discount").alias("z"))
    trip = (rows.groupBy("x", "y", "z")
            .agg(F.count(F.lit(1)).cast("long").alias("c")))

    def rank2(col: str) -> DataFrame:
        g = trip.groupBy(col).agg(F.sum("c").cast("long").alias("cc"))
        w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, 0)
        return g.select(
            F.col(col),
            (F.lit(2) * (F.sum("cc").over(w) - F.col("cc"))
             + F.col("cc") + 1).cast("long").alias(f"r{col}"))

    j = (trip.join(rank2("x"), "x").join(rank2("y"), "y")
         .join(rank2("z"), "z"))
    s = j.agg(
        F.sum("c").cast("long").alias("n"),
        *[F.sum(F.col("c") * F.col(f"r{a}")).cast("long").alias(f"s{a}")
          for a in "xyz"],
        *[F.sum(F.col("c") * F.col(f"r{a}") * F.col(f"r{a}"))
          .cast("long").alias(f"s{a}{a}") for a in "xyz"],
        F.sum(F.col("c") * F.col("rx") * F.col("ry")).cast("long")
        .alias("sxy"),
        F.sum(F.col("c") * F.col("rx") * F.col("rz")).cast("long")
        .alias("sxz"),
        F.sum(F.col("c") * F.col("ry") * F.col("rz")).cast("long")
        .alias("syz"))

    def corr(ab, a, b):
        num = (F.col("n").cast("double") * F.col(ab).cast("double")
               - F.col(f"s{a}").cast("double")
               * F.col(f"s{b}").cast("double"))
        da = (F.col("n").cast("double") * F.col(f"s{a}{a}").cast("double")
              - F.col(f"s{a}").cast("double")
              * F.col(f"s{a}").cast("double"))
        db = (F.col("n").cast("double") * F.col(f"s{b}{b}").cast("double")
              - F.col(f"s{b}").cast("double")
              * F.col(f"s{b}").cast("double"))
        return F.round(num / (F.sqrt(da) * F.sqrt(db)), 6)

    s = (s.withColumn("r_xy", corr("sxy", "x", "y"))
         .withColumn("r_xz", corr("sxz", "x", "z"))
         .withColumn("r_yz", corr("syz", "y", "z")))
    part = ((F.col("r_xy") - F.col("r_xz") * F.col("r_yz"))
            / F.sqrt((F.lit(1.0) - F.col("r_xz") * F.col("r_xz"))
                     * (F.lit(1.0) - F.col("r_yz") * F.col("r_yz"))))
    return s.select("n", "r_xy", "r_xz", "r_yz",
                    F.round(part, 6).alias("r_xy_z"))


def levene_test(events: DataFrame) -> DataFrame:
    """Brown-Forsythe test (the robust Levene variant, 1974) for
    variance equality of ``value`` across event types: deviations from
    the per-group MEDIAN (quantile_cont parity), then the one-way ANOVA
    F on the deviations (the anova_f raw-sum closed form; deviation
    magnitudes ~1e2 — the extended_stats double-sum precedent). Two
    map-side-combined passes + a broadcast ≤|types| median join. One
    row: (k, n, w_stat)."""
    med = (events.groupBy("event_type")
           .agg(F.expr("percentile(value, 0.5D)").alias("med")))
    d = (events.select("event_type", "value")
         .join(F.broadcast(med), "event_type")
         .select("event_type",
                 F.abs(F.col("value") - F.col("med")).alias("d")))
    g = (d.groupBy("event_type")
         .agg(F.count(F.lit(1)).cast("long").alias("nj"),
              F.sum("d").alias("sj"),
              F.sum(F.col("d") * F.col("d")).alias("ssj")))
    a = g.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("nj").cast("long").alias("n"),
        F.sum("sj").alias("s"),
        F.sum(F.col("sj") * F.col("sj") / F.col("nj").cast("double"))
        .alias("sq"),
        F.sum("ssj").alias("ss"))
    ssb = F.col("sq") - F.col("s") * F.col("s") / F.col("n").cast("double")
    ssw = F.col("ss") - F.col("sq")
    a = a.withColumn("ssb", ssb).withColumn("ssw", ssw)
    w = ((F.col("ssb") / (F.col("k") - 1).cast("double"))
         / (F.col("ssw") / (F.col("n") - F.col("k")).cast("double")))
    return a.select("k", "n", F.round(w, 6).alias("w_stat"))


def ljung_box(events: DataFrame, max_lag: int = 7) -> DataFrame:
    """Ljung-Box portmanteau white-noise test (1978) on the daily-count
    ACF: Q(m) = n(n+2)·Σ_{k≤m} ρ_k²/(n−k), built from the ROUNDED
    autocorrelation values (deterministic chaining — the kmeans rule);
    n−k is exactly the lag's pair count, carried on the ACF relation.
    Per-lag contributions rounded 6 before the cumulative Σ (the ece
    rule); windows over the ≤max_lag relation. (lag, acf, q_stat)
    ordered by lag."""
    ac = autocorrelation(events, max_lag)
    nd = (F.col("n_pairs") + F.col("lag")).cast("long")
    contrib = F.round(F.col("acf") * F.col("acf")
                      / F.col("n_pairs").cast("double"), 6)
    ac = (ac.withColumn("nd", nd).withColumn("ct", contrib))
    w = Window.orderBy("lag").rowsBetween(Window.unboundedPreceding, 0)
    q = (F.col("nd").cast("double") * (F.col("nd") + 2).cast("double")
         * F.sum("ct").over(w))
    return (ac.select("lag", "acf", F.round(q, 6).alias("q_stat"))
            .orderBy("lag"))


def forecast_mase(events: DataFrame) -> DataFrame:
    """MASE forecast-accuracy evaluation (Hyndman & Koehler 2006) of the
    Holt-Winters one-step fits against the season-7 naive benchmark
    x̂_t = x_{t−7}, on the same rounded daily value-sum series:
    MAE_model = mean |resid| over the fitted days (residuals are the
    already-ROUNDED holt_winters outputs), MAE_naive = mean
    |x_t − x_{t−7}| over the same days, MASE = MAE_model/MAE_naive —
    < 1 means the model beats the seasonal naive. All relations are
    ≤|days| bounded; the lag runs over the deterministic day order.
    One row: (n_eval, mae_model, mae_naive, mase)."""
    hw = holt_winters(events)
    b = (events.groupBy(F.date_format(F.date_trunc("day", F.col("ts")),
                                      "yyyy-MM-dd").alias("day"))
         .agg(F.round(F.sum("value"), 6).alias("x")))
    w = Window.orderBy("day")
    b = b.withColumn("nv", F.lag("x", 7).over(w))
    j = hw.select("day", "resid").join(b.select("day", "x", "nv"), "day")
    agg = j.agg(
        F.count(F.lit(1)).cast("long").alias("n_eval"),
        F.round(F.avg(F.abs(F.col("resid"))), 6).alias("mae_model"),
        F.round(F.avg(F.abs(F.col("x") - F.col("nv"))), 6)
        .alias("mae_naive"))
    # a constant series has MAE_naive == 0 — pin MASE to 0.0 (both
    # engines; ANSI mode raises on 0/0 otherwise)
    return agg.select(
        "n_eval", "mae_model", "mae_naive",
        F.round(F.when(F.col("mae_naive") > 0,
                       F.col("mae_model") / F.col("mae_naive"))
                .otherwise(F.lit(0.0)), 6).alias("mase"))
