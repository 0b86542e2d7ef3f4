"""ES data streams / time-series backing indices (TSDS) with zone-map
pruning — the "query a year, read two weeks" scale path.

ES routes every @timestamp'd document to a time-bounded backing index
(rollover), and range queries touch only the backing indices whose
[min_ts, max_ts] overlaps the query window (`pre_filter_shard_size`
shard skipping). Reference anchor: fafnir publishes snapshot indices the
same segment-addressed way (src/bin/tripadvisor2mimir.rs:172-176); this
module adds the time dimension on top of the existing Catalog protocol.

Layout: ONE Spark write partitioned by the zone key (floor of epoch-µs
over the zone width — integer arithmetic, exact), published as a
catalog segment whose manifest meta carries the ZONE MAP: per zone the
exact (min_us, max_us, n). Queries then:

 1. prune at the METADATA level — overlapping zones are picked from the
    manifest (driver-side, bounded by #zones, no file listing of pruned
    zones), and only those partition directories are handed to the scan;
 2. count fast path — a zone FULLY covered by the window contributes its
    exact ``n`` from the zone map with ZERO IO; only boundary zones are
    scanned and residual-filtered (the ES constant-score count shape).

At 100 TB the zone map is O(#zones) rows of driver state (a year of
weekly zones = 52 entries) while the pruned data is never listed, opened
or scanned.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import Catalog

_US_PER_DAY = 86_400 * 1_000_000


def _zone_expr(width_days: int) -> F.Column:
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = F.lit(width_days * _US_PER_DAY)
    # exact integer floor division (epoch positive): pmod-subtract form
    return ((us - F.pmod(us, w)) / w).cast("long")


def build_data_stream(spark: SparkSession, events: DataFrame, root: str,
                      width_days: int = 7, name: str = "ds") -> dict:
    """Write ``events`` as a time-zoned data stream under ``root`` and
    publish (catalog CAS protocol). Zone maps are computed in the SAME
    job's aggregate (one groupBy over the zone key — bounded output),
    and every bound is integer µs so pruning decisions are exact.
    Returns the published zone map {zone: {min_us, max_us, n}}."""
    ev = events.withColumn("__zone", _zone_expr(width_days))
    cat = Catalog(root)
    seg = cat.write_segment(ev, name, "z0", partition_by=["__zone"])
    rows = (
        ev.groupBy("__zone")
        .agg(F.min(F.unix_micros(F.col("ts").cast("timestamp"))).alias("mn"),
             F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias("mx"),
             F.count(F.lit(1)).alias("n"))
        .collect()
    )
    zones = {int(r["__zone"]): {"min_us": int(r["mn"]), "max_us": int(r["mx"]),
                                "n": int(r["n"]), "segs": [seg]}
             for r in rows}
    cat.publish({name: [seg]},
                meta={"kind": "data_stream", "width_days": width_days,
                      "zones": {str(k): v for k, v in sorted(zones.items())}})
    return zones


def _live_zones(cat: Catalog, name: str,
                snapshot_id: str | None = None) -> tuple[str, dict]:
    """(schema-source segment dir, zone map). Each zone entry lists the
    SEGMENTS that hold rows for it, so multi-segment reads never probe
    the filesystem — the manifest is the only metadata source."""
    m = cat.manifest_at(snapshot_id)
    seg = m["tables"][name][0]
    zones = {int(k): v for k, v in m["meta"]["zones"].items()}
    return seg, zones


def _zone_paths(zones: dict, hit: list) -> list:
    return [os.path.join(s, f"__zone={z}")
            for z in hit for s in zones[z]["segs"]]


def _reader(spark: SparkSession, cat: Catalog, segs: list[str]):
    """``spark.read`` with the declared file schema of the segments about
    to be read, so building the scan runs no inference job; plain
    inference for segments written before schema files existed."""
    schema = cat.data_schema(list(dict.fromkeys(segs)))
    return spark.read if schema is None else spark.read.schema(schema)


def read_data_stream_range(spark: SparkSession, root: str,
                           lo_us: int, hi_us: int, name: str = "ds",
                           snapshot_id: str | None = None) -> DataFrame:
    """Rows with unix_micros(ts) in [lo_us, hi_us]: zone-map pruning picks
    the overlapping partition directories from the MANIFEST (pruned zones
    are never listed), then the residual filter runs on the scan.
    Returns the event columns (no zone key)."""
    cat = Catalog(root)
    seg, zones = _live_zones(cat, name, snapshot_id)
    hit = [z for z, zm in sorted(zones.items())
           if zm["min_us"] <= hi_us and zm["max_us"] >= lo_us]
    if not hit:
        return (_reader(spark, cat, [seg]).option("basePath", seg).parquet(seg)
                .filter(F.lit(False)).drop("__zone"))
    paths = _zone_paths(zones, hit)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    return (
        _reader(spark, cat, [s for z in hit for s in zones[z]["segs"]])
        .option("basePath", os.path.dirname(seg)).parquet(*paths)
        .filter((us >= F.lit(lo_us)) & (us <= F.lit(hi_us)))
        # basePath is the table dir, so BOTH hive-style levels (seg=, 
        # __zone=) surface as partition columns — drop both
        .drop("__zone", "seg")
    )


def count_data_stream_range(spark: SparkSession, root: str,
                            lo_us: int, hi_us: int, name: str = "ds",
                            snapshot_id: str | None = None) -> DataFrame:
    """Count of rows in [lo_us, hi_us] with the metadata fast path: zones
    whose [min_us, max_us] lies FULLY inside the window contribute their
    exact zone-map ``n`` with zero IO; only boundary zones are scanned.
    1-row DataFrame (n BIGINT) so the result stays relational."""
    cat = Catalog(root)
    seg, zones = _live_zones(cat, name, snapshot_id)
    meta_n = 0
    partial = []
    for z, zm in sorted(zones.items()):
        if zm["min_us"] > hi_us or zm["max_us"] < lo_us:
            continue
        if zm["min_us"] >= lo_us and zm["max_us"] <= hi_us:
            meta_n += zm["n"]
        else:
            partial.append(z)
    if partial:
        paths = _zone_paths(zones, partial)
        us = F.unix_micros(F.col("ts").cast("timestamp"))
        scanned = (
            _reader(spark, cat, [s for z in partial for s in zones[z]["segs"]])
            .option("basePath", os.path.dirname(seg)).parquet(*paths)
            .filter((us >= F.lit(lo_us)) & (us <= F.lit(hi_us)))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        return scanned.select(
            (F.col("n") + F.lit(meta_n)).cast("long").alias("n"))
    return spark.createDataFrame([(meta_n,)], "n long")


def data_stream_range_agg(spark: SparkSession, root: str,
                          lo_us: int, hi_us: int, name: str = "ds",
                          snapshot_id: str | None = None) -> DataFrame:
    """Per-event_type (n, total) over the window — the pruned-scan
    aggregation shape. (event_type, n, total), event_type asc."""
    return (
        read_data_stream_range(spark, root, lo_us, hi_us, name, snapshot_id)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"),
             F.round(F.sum("value"), 6).alias("total"))
        .orderBy("event_type")
    )


def append_data_stream(spark: SparkSession, events: DataFrame, root: str,
                       name: str = "ds") -> dict:
    """Append a new batch to the stream (the ES rollover write path): new
    rows land in a NEW immutable segment partitioned by the same zone key
    (published segments are never rewritten — time travel holds), and the
    manifest zone map merges ADDITIVELY per zone (min/max lattice, n sum)
    — the same mergeable-summary law as every other incremental stat in
    the engine. CAS-published against the base snapshot, so interleaved
    appends conflict loudly instead of losing zone counts. Returns the
    merged zone map."""
    import uuid as _uuid

    cat = Catalog(root)
    m = cat.read_manifest()
    base_snap = m.get("snapshot_id")
    meta = m["meta"]
    width_days = int(meta["width_days"])
    ev = events.withColumn("__zone", _zone_expr(width_days))
    seg = cat.write_segment(ev, name, f"a{_uuid.uuid4().hex[:8]}",
                            partition_by=["__zone"])
    rows = (
        ev.groupBy("__zone")
        .agg(F.min(F.unix_micros(F.col("ts").cast("timestamp"))).alias("mn"),
             F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias("mx"),
             F.count(F.lit(1)).alias("n"))
        .collect()
    )
    zones = {int(k): dict(v) for k, v in meta["zones"].items()}
    for r in rows:
        z, mn, mx, n = int(r["__zone"]), int(r["mn"]), int(r["mx"]), int(r["n"])
        if z in zones:
            zones[z] = {"min_us": min(zones[z]["min_us"], mn),
                        "max_us": max(zones[z]["max_us"], mx),
                        "n": zones[z]["n"] + n,
                        "segs": zones[z]["segs"] + [seg]}
        else:
            zones[z] = {"min_us": mn, "max_us": mx, "n": n, "segs": [seg]}
    cat.publish(
        {name: m["tables"][name] + [seg]},
        meta={**meta, "zones": {str(k): v for k, v in sorted(zones.items())}},
        expected_snapshot=base_snap,
    )
    return zones


def expire_data_stream_zones(root: str, before_us: int,
                             name: str = "ds") -> dict:
    """ILM delete phase for the data stream: publish a new snapshot whose
    zone map drops every zone with max_us < before_us. Pure metadata —
    no data files move (segments stay immutable; the pre-expiry snapshot
    still time-travels), and the orphaned zone directories are reclaimed
    later by the catalog's expire_snapshots sweep, exactly like index
    segments. CAS-published. Returns the surviving zone map."""
    cat = Catalog(root)
    m = cat.read_manifest()
    meta = m["meta"]
    zones = {int(k): v for k, v in meta["zones"].items()}
    keep = {k: v for k, v in zones.items() if v["max_us"] >= before_us}
    if len(keep) == len(zones):
        return keep
    cat.publish(
        {name: m["tables"][name]},
        meta={**meta, "zones": {str(k): v for k, v in sorted(keep.items())}},
        expected_snapshot=m.get("snapshot_id"),
    )
    return keep
