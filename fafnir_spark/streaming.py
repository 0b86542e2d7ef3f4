"""Continuous corpus ingestion and micro-batch analytics over Structured
Streaming.

The reference is a bounded-channel pipelined batch job (SURVEY.md §2.8:
channels of 10k docs, buffer_unordered — the reference's
src/bin/openmaptiles2mimir.rs:23,64-82) with no event-time semantics; its
"streaming" is really continuous arrival + incremental indexing. The Spark
translation: a file-source stream over the corpus directory, each
micro-batch appended to the published index as one immutable segment via
foreachBatch (exactly-once per batch id: ``_batch_segment`` names the
segment for the stream's checkpoint and the batch, and a replayed batch
whose segment a snapshot already references is skipped; the manifest
publish is atomic).

Every op runs on the same plumbing, written once:

- ``_read``: the one stream source (parquet files under a path, one file
  per micro-batch unless the caller says otherwise). At scale the same
  code runs against a Kafka/Iceberg CDC source; only ``_read``'s
  ``readStream`` options change.
- ``_start`` / ``_drain``: the foreachBatch sink with its checkpoint;
  ``_drain`` triggers availableNow (drain what exists, stop) and waits.
- ``_to_memory``: the memory sink of the stateful (watermarked, joined or
  applyInPandasWithState) ops, drained the same way; returns the table.
- ``_fold``: per batch, append the op's ``partial(batch)`` to
  ``state_dir/<sub>`` (``_append``); after the drain, read the state back
  (``_state``). An op then states only its partial, its state algebra and
  its tail over the folded state.

The state algebras, chosen by ``_fold``'s ``keys``:

- stamp-keyed additive (``keys=(k, ...)``): sums and counts merge by
  addition, so a replayed batch must count once. Each batch's rows carry
  the batch id in ``_b``; the read keeps one row per ``keys + _b``.
- union-closed distinct (``keys=()``): the state is a set (distinct
  events, bottom-k hashes); union is idempotent, so no stamp is needed
  and the read is ``distinct()``.
- lattice (``keys=None``): min / max merges absorb a replayed partial,
  so the state is read as it is and the tail's min / max does the merge.
  stream_sampled_quantiles reads its sample this way too and keeps one
  row per (group, key) itself.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import Catalog, _scheme
from .incremental import _referenced, append_index
from .portable import empty_frame

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)
DOCS_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"
_DAY_US = 86_400_000_000


def _read(spark: SparkSession, source_path: str, schema: str = EVENTS_SCHEMA,
          max_files: int | None = 1) -> DataFrame:
    """The stream source: parquet files under ``source_path`` (a dir or a
    glob), at most ``max_files`` per micro-batch (None: no cap)."""
    reader = spark.readStream.schema(schema)
    if max_files:
        reader = reader.option("maxFilesPerTrigger", max_files)
    return reader.parquet(source_path)


def _start(stream: DataFrame, checkpoint_dir: str, step, available_now: bool = True):
    """Run ``step(batch_df, batch_id)`` on every micro-batch; returns the
    started query (availableNow stops it once the source is drained)."""
    writer = stream.writeStream.foreachBatch(step).option(
        "checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _batch_segment(index_root: str, kind: str, checkpoint_dir: str, batch_id: int):
    """The segment an index sink writes for micro-batch ``batch_id``:
    ``<kind>-<key of the resolved checkpoint dir>-<batch_id>``, so streams
    with their own checkpoints never share a name. None when the snapshot
    or its history already references it (a replayed batch: skip it)."""
    loc = checkpoint_dir if _scheme(checkpoint_dir) else os.path.realpath(checkpoint_dir)
    seg = f"{kind}-{hashlib.sha1(loc.encode()).hexdigest()[:8]}-{batch_id}"
    done = ("postings", f"seg={seg}") in _referenced(Catalog(index_root).read_manifest())
    return None if done else seg


def _drain(stream: DataFrame, checkpoint_dir: str, step) -> None:
    """``_start`` and wait until every available batch is processed."""
    _start(stream, checkpoint_dir, step).awaitTermination()


def _to_memory(df: DataFrame, name: str, mode: str, checkpoint_dir: str) -> DataFrame:
    """Drain a streaming result into the memory table ``name``."""
    q = (
        df.writeStream.format("memory").queryName(name).outputMode(mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    return df.sparkSession.table(name)


def _append(part: DataFrame, path: str, bid: int | None = None) -> None:
    """Append a batch's state rows; with ``bid`` each carries the stamp ``_b``."""
    if bid is not None:
        part = part.withColumn("_b", F.lit(int(bid)))
    part.write.mode("append").parquet(path)


def _state(spark: SparkSession, path: str, keys: tuple | None) -> DataFrame:
    """Read a state dir back under its algebra (module docstring)."""
    state = spark.read.parquet(path)
    if keys is None:
        return state
    return state.dropDuplicates([*keys, "_b"]) if keys else state.distinct()


def _fold(spark: SparkSession, source_path: str, checkpoint_dir: str, state_dir: str,
          sub: str, partial, keys: tuple | None) -> DataFrame:
    """Drain the event stream, appending ``partial(batch)`` to
    ``state_dir/sub`` (stamped when ``keys`` is non-empty), and return the
    state read back."""
    path = os.path.join(state_dir, sub)
    _drain(_read(spark, source_path), checkpoint_dir,
           lambda df, bid: _append(partial(df), path, bid if keys else None))
    return _state(spark, path, keys)


def _day():
    """The event's calendar day as 'yyyy-MM-dd'."""
    return F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day")


def _day_no(name: str):
    """The event's day as a number of days since the epoch."""
    return F.expr(f"unix_micros(CAST(ts AS TIMESTAMP)) DIV {_DAY_US}").alias(name)


def _us():
    """Event time as microseconds since the epoch."""
    return F.unix_micros(F.col("ts").cast("timestamp")).alias("us")


# ---- folds that two or more ops share; each op adds its own tail ----

def _day_sums(spark, source_path, checkpoint_dir, state_dir, sub, part, out) -> DataFrame:
    """Per-day value sums, additive and stamped, rounded once after the
    merge. (day, <out>)."""
    return _fold(
        spark, source_path, checkpoint_dir, state_dir, sub,
        lambda df: df.groupBy(_day()).agg(F.sum("value").alias(part)),
        keys=("day",),
    ).groupBy("day").agg(F.round(F.sum(part), 6).alias(out))


def _day_counts(spark, source_path, checkpoint_dir, state_dir, sub) -> DataFrame:
    """Per-day event counts, exact-integer additive. (d, x)."""
    return _fold(
        spark, source_path, checkpoint_dir, state_dir, sub,
        lambda df: df.groupBy(_day_no("d")).agg(F.count(F.lit(1)).cast("long").alias("x")),
        keys=("d",),
    ).groupBy("d").agg(F.sum("x").cast("long").alias("x"))


def _dow_cells(spark, source_path, checkpoint_dir, state_dir, sub) -> DataFrame:
    """The event_type × weekday contingency counts, exact-integer
    additive. (event_type, dow, o)."""
    return _fold(
        spark, source_path, checkpoint_dir, state_dir, sub,
        lambda df: df.select(
            "event_type",
            F.expr("extract(dayofweek FROM cast(ts as timestamp))").cast("int").alias("dow"),
        ).groupBy("event_type", "dow").agg(F.count(F.lit(1)).cast("long").alias("o")),
        keys=("event_type", "dow"),
    ).groupBy("event_type", "dow").agg(F.sum("o").cast("long").alias("o"))


def _user_scores(spark, source_path, checkpoint_dir, state_dir, sub, target) -> DataFrame:
    """Per-user event count (additive) and converter flag (a max lattice),
    stamped. (user_id, cnt, buy)."""
    return _fold(
        spark, source_path, checkpoint_dir, state_dir, sub,
        lambda df: df.groupBy("user_id").agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.max(F.when(F.col("event_type") == target, 1).otherwise(0))
            .cast("long").alias("buy"),
        ),
        keys=("user_id",),
    ).groupBy("user_id").agg(
        F.sum("cnt").cast("long").alias("cnt"), F.max("buy").cast("long").alias("buy"))


def stream_corpus(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    index_root: str,
    checkpoint_dir: str,
    tokenizer: str = "code",
    id_cols: tuple[str, ...] = ("repo", "path", "commit"),
    text_col: str = "content",
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
):
    """Stream parquet files arriving in ``source_dir`` into the index.

    Returns the StreamingQuery. ``available_now=True`` drains what exists
    and stops (the testable mode); False runs continuously.
    """

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        seg = _batch_segment(index_root, "stream", checkpoint_dir, batch_id)
        if seg is None or batch_df.isEmpty():
            return
        docs = batch_df.withColumn("doc_id", F.xxhash64(*id_cols)).withColumn(
            "content", F.col(text_col)
        ).withColumn("weight", F.lit(1.0))
        append_index(spark, docs, index_root, segment=seg, tokenizer=tokenizer)

    return _start(_read(spark, source_dir, schema, max_files_per_trigger),
                  checkpoint_dir, sink, available_now)


def stream_tumbling_counts(
    spark: SparkSession,
    source_path: str,
    checkpoint_dir: str,
    name: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    mode: str = "complete",
) -> DataFrame:
    """Event-time tumbling-window aggregation over a parquet stream with a
    watermark for late data: readStream → withWatermark → window().groupBy
    → memory sink. In ``complete`` mode over a drained (availableNow)
    source the result equals the batch aggregation, so the DuckDB oracle
    checks it exactly; ``append`` mode emits only watermark-finalized
    windows (late rows beyond the watermark are dropped — tested).
    Returns the materialized result table."""
    # NOTE: watermarks require TIMESTAMP (not NTZ); the NTZ parquet values
    # are interpreted in the session tz and date_format converts back with
    # the same tz, so the wall-clock window labels round-trip identically —
    # the oracle diverges only under a fractional-hour-offset session tz.
    agg = (
        _read(spark, source_path).withWatermark("ts", watermark)
        .groupBy(F.window(F.col("ts"), window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type", "n", "sum_value",
        )
    )
    return _to_memory(agg, name, mode, checkpoint_dir)


def stream_dedup_exact(
    spark: SparkSession,
    source_path: str,
    checkpoint_dir: str,
    name: str,
    schema: str = DOCS_SCHEMA,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Stateful streaming exact-dedup (applyInPandasWithState): the first
    arrival of each content hash is emitted, every later duplicate —
    within a micro-batch or across micro-batches — is dropped. State is
    one flag per content hash; at 100 TB state lives in the state store
    (RocksDB on a real cluster), partitioned by the hash — the same
    shuffle key the batch dedup uses. Returns (content_hash, doc_id)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = _read(spark, source_path, schema).select(
        F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("content_hash"))

    def fn(key, pdfs, state):
        min_doc = None
        for pdf in pdfs:
            m = int(pdf["doc_id"].min())
            min_doc = m if min_doc is None else min(min_doc, m)
        if state.exists or min_doc is None:
            return
        state.update((1,))
        yield pd.DataFrame({"content_hash": [key[0]], "doc_id": [min_doc]})

    out = stream.groupBy("content_hash").applyInPandasWithState(
        fn, "content_hash string, doc_id long", "seen int",
        "append", GroupStateTimeout.NoTimeout,
    )
    return _to_memory(out, name, "append", checkpoint_dir)


def stream_sliding_counts(
    spark: SparkSession,
    source_path: str,
    checkpoint_dir: str,
    name: str,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding event-time windows over a parquet stream (window+slide →
    each event lands in window/slide overlapping windows). Complete mode
    over a drained source equals the batch sliding aggregation, so the
    same DuckDB oracle checks it."""
    agg = (
        _read(spark, source_path).withWatermark("ts", watermark)
        .groupBy(F.window(F.col("ts"), window, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"), "n")
    )
    return _to_memory(agg, name, "complete", checkpoint_dir)


def stream_session_counts(
    spark: SparkSession,
    source_path: str,
    checkpoint_dir: str,
    name: str,
    gap: str = "2 hours",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming session windows (session_window + watermark, append mode):
    per-user sessions merging events closer than ``gap``; a session is
    emitted once the watermark passes its end (append emits FINALIZED
    sessions only — the batch anchor is pipeline.session_window_agg, and
    equality over a drained multi-batch source is tested with a
    far-future filler batch that finalizes every session)."""
    agg = (
        _read(spark, source_path).withWatermark("ts", watermark)
        .groupBy(F.session_window(F.col("ts"), gap).alias("w"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_end"),
            "user_id", "n", "sum_value",
        )
    )
    return _to_memory(agg, name, "append", checkpoint_dir)


def stream_cdc_apply(
    spark: SparkSession,
    source_path: str,
    checkpoint_dir: str,
    index_root: str,
    tokenizer: str = "whitespace",
) -> None:
    """CDC ingestion: a stream of change rows (op, doc_id, text) applied to
    a published index via foreachBatch — op 'u' rows upsert (stable-id
    replace-or-insert), op 'd' rows delete. Within one micro-batch upserts
    apply BEFORE deletes (a delete in the same batch wins, matching
    last-write-wins tombstone merge). Each batch is ONE commit of the
    maintenance read-modify-commit (incremental._commit): one snapshot
    read, one publish CAS'd against it, so time travel and the
    CommitConflict CAS hold for streaming writers too. The upsert segment
    is named by ``_batch_segment``: several streams (each with its own
    checkpoint) can feed one index, and a replayed batch is skipped."""
    from .build import normalize_docs
    from .incremental import _commit

    def apply_batch(batch_df, batch_id: int) -> None:
        seg = _batch_segment(index_root, "cdc", checkpoint_dir, batch_id)
        if seg is None:
            return
        ups = batch_df.filter(F.col("op") == "u").select("doc_id", "text")
        dels = [
            int(r["doc_id"])
            for r in batch_df.filter(F.col("op") == "d").select("doc_id")
            .distinct().collect()
        ]
        has_ups = bool(ups.limit(1).count())
        if has_ups or dels:
            _commit(spark, index_root,
                    normalize_docs(ups, id_col="doc_id", text_col="text") if has_ups else None,
                    seg, tokenizer, upsert=True, deletes=dels)

    _drain(_read(spark, source_path, "op string, doc_id long, text string"),
           checkpoint_dir, apply_batch)


def stream_zone_counts(
    spark: SparkSession,
    source_path: str,
    checkpoint_dir: str,
    name: str,
) -> DataFrame:
    """Stream-STATIC enrichment join: the event stream joined to the
    broadcast zones dimension on the interval condition (value ∈ [lo, hi))
    — the streaming form of pipeline.zone_lookup and the standard
    enrichment topology (stream ⋈ broadcast dim is stateless, evaluated
    per micro-batch; the dim never shuffles the stream side). Complete
    mode over a drained (availableNow) source equals the batch join, so
    the SAME DuckDB oracle (zone_lookup_sql) checks it exactly.
    (zone_name, n_events)."""
    from .pipeline import ZONES

    zones = spark.createDataFrame(
        ZONES, "zone_id int, zone_name string, lo double, hi double, center double"
    )
    stream = _read(spark, source_path)
    agg = (
        stream.join(
            F.broadcast(zones),
            (stream.value >= zones.lo) & (stream.value < zones.hi),
        )
        .groupBy("zone_name")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return _to_memory(agg, name, "complete", checkpoint_dir)


def _require_fresh_checkpoint(checkpoint_dir: str, what: str) -> None:
    """Fresh-run contract for foreachBatch ops whose RETURN VALUE is a
    per-invocation driver accumulation: re-running against an existing
    checkpoint would skip already-processed batches, silently omitting
    their rows from the result (partial output, not an error). Ops whose
    result is derived from persisted state (stream_hll_cardinality,
    stream_change_point and the stamp-keyed _fold ops such as
    stream_downsample, stream_anomaly_hourly and stream_transform_pivot)
    resume fine and don't take this guard."""
    if os.path.isdir(checkpoint_dir) and os.listdir(checkpoint_dir):
        raise ValueError(
            f"{what}: checkpoint dir {checkpoint_dir!r} is non-empty — "
            "already-processed batches would be skipped and their emitted "
            "rows missing from the return. Use a fresh checkpoint dir."
        )


def stream_percolate(
    spark: SparkSession,
    source_path: str,
    checkpoint_dir: str,
    name: str,
    queries: dict[str, dict],
) -> DataFrame:
    """Percolation on a document STREAM — the percolator's actual use case
    (saved searches fire as documents arrive): each micro-batch is matched
    against the stored query set via the same one-pass broadcast-clause
    relation (query_ext.percolate) inside foreachBatch, matches appended
    to a memory sink. Per-doc matching is stateless, so the drained
    (availableNow) union equals batch percolation — the SAME oracle
    (percolate_sql) checks it exactly. (doc_id, qid), ordered."""
    from .query_ext import percolate

    _require_fresh_checkpoint(checkpoint_dir, "stream_percolate")
    # per-batch matches gathered driver-side: percolator OUTPUT is the
    # alert relation (bounded by matches, the thing a sink receives) —
    # the matching itself stays distributed inside percolate()
    acc: list = []

    def gather(df, _bid):
        rows = percolate(df, queries).collect()
        acc.extend((r["doc_id"], r["qid"]) for r in rows)

    _drain(_read(spark, source_path, DOCS_SCHEMA), checkpoint_dir, gather)
    if not acc:
        return empty_frame(spark, "doc_id long, qid string")
    return spark.createDataFrame(sorted(acc), "doc_id long, qid string")


def stream_minhash_dedup(
    spark: SparkSession,
    source_path: str,
    checkpoint_dir: str,
    state_dir: str,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket: int = 1000,
) -> DataFrame:
    """Streaming MinHash+LSH near-duplicate detection: as documents
    arrive, each micro-batch's band rows are joined against the
    ACCUMULATED band state, so a new doc pairs with every earlier near-dup
    (cross-batch) and with its own batch (within-batch) — the incremental
    form of dedup.minhash_lsh_pairs a continuously-fed training corpus
    needs (flag duplicates at ingest, never re-scan the archive).

    Per batch: candidates = bands(new) ⋈ accumulated band state (never
    old×old — those pairs were emitted when their younger doc arrived),
    normalized to doc_a < doc_b, bucket-capped, then exact-Jaccard
    verified FROM the candidate set (the batch path's scale discipline).
    Per-batch cost is O(batch + candidates), NOT O(state): band rows are
    computed once per doc and PERSISTED (bands/ next to docs/), and the
    Jaccard verify shingles only the candidate-id docs (explicit semi-join
    prune — an equi-join alone would shingle the whole archive). State
    keeps (doc_id, text, _b): shingle verification needs the younger AND
    older doc's text, and the batch stamp both marks the "new" slice and
    makes checkpoint replays idempotent. The cap is evaluated against
    accumulated bands, so the drained (availableNow) union equals the
    batch pair set whenever no bucket ever exceeds the cap (asserted in
    tests; a bucket crossing the cap mid-stream keeps pairs batch mode
    would drop — streaming can't un-emit). (doc_a, doc_b, jaccard)."""
    from .dedup import minhash_band_rows, ngram_jaccard_pairs

    _require_fresh_checkpoint(checkpoint_dir, "stream_minhash_dedup")
    docs_dir = os.path.join(state_dir, "docs")
    bands_dir = os.path.join(state_dir, "bands")
    acc: list = []

    def step(df, bid):
        # land the batch in the state store FIRST, then derive every
        # relation from the parquet-backed read: self-joining frames cut
        # from the streaming batch df collapses to an empty degenerate
        # join (the foreachBatch self-join lineage trap); dropDuplicates
        # makes a checkpoint-replayed batch idempotent
        _append(df.select("doc_id", "text"), docs_dir, bid)
        alld = spark.read.parquet(docs_dir).dropDuplicates(["doc_id"])
        new = alld.filter(F.col("_b") == int(bid))
        # bands of the NEW slice only — O(batch); prior bands come from
        # the persisted band state, never recomputed
        _append(minhash_band_rows(new, num_hashes, bands), bands_dir, bid)
        band_all = spark.read.parquet(bands_dir) \
            .dropDuplicates(["doc_id", "band_key"])
        band_new = band_all.filter(F.col("_b") == int(bid))
        sizes = band_all.groupBy("band_key").agg(F.count(F.lit(1)).alias("bn"))
        small = sizes.filter(F.col("bn") <= max_bucket).select("band_key")
        x, y = band_new.alias("x"), band_all.alias("y")
        cand = (
            x.join(F.broadcast(small), "band_key")
            .join(y, (F.col("x.band_key") == F.col("y.band_key"))
                  & (F.col("x.doc_id") != F.col("y.doc_id")))
            .select(
                F.least("x.doc_id", "y.doc_id").alias("doc_a"),
                F.greatest("x.doc_id", "y.doc_id").alias("doc_b"),
            )
            .distinct()
        )
        # shingle ONLY candidate docs: the verify join is keyed on doc id,
        # so without this semi-join the shingle map stage runs over the
        # full archive every batch
        cand_ids = (
            cand.select(F.col("doc_a").alias("doc_id"))
            .union(cand.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        docs_cand = alld.join(cand_ids, "doc_id", "left_semi")
        rows = ngram_jaccard_pairs(docs_cand, threshold, candidates=cand).collect()
        acc.extend((r["doc_a"], r["doc_b"], r["jaccard"]) for r in rows)

    _drain(_read(spark, source_path, DOCS_SCHEMA), checkpoint_dir, step)
    uniq = sorted(set(acc))
    if not uniq:
        return empty_frame(spark, "doc_a long, doc_b long, jaccard double")
    return spark.createDataFrame(uniq, "doc_a long, doc_b long, jaccard double")


def stream_hll_cardinality(
    spark: SparkSession,
    source_path: str,
    checkpoint_dir: str,
    state_dir: str,
    val_cols: tuple = ("event_id", "user_id"),
    p: int = 8,
) -> DataFrame:
    """Streaming HyperLogLog: continuous distinct-count estimation over an
    event stream. Each micro-batch collapses to its ≤2^p-row register
    relation (sketches.hll_register_rows) and appends it to a
    parquet-backed register state; registers are MAX-MERGEABLE, so the
    drained state folded by groupBy(col, idx).max(rho) is EXACTLY the
    batch sketch — streaming == batch bit-for-bit, with state bounded at
    |cols|·2^p rows no matter how long the stream runs (the property that
    makes HLL the cardinality sketch at 100 TB: per-partition sketches
    merge the same way per-batch ones do).

    Batch-stamped register rows keep checkpoint replays idempotent (a
    replayed batch re-appends identical (col, idx, rho) rows — max absorbs
    them; the state is a lattice, read without a dedupe). (col, n_empty,
    est_raw, est) — sketch-only output; exact counts need the raw stream
    and are the batch path's audit column."""
    from .sketches import hll_estimate_cols, hll_register_rows

    regs_dir = os.path.join(state_dir, "regs")
    rem_bits = 60 - p

    def step(df, bid):
        for c in sorted(val_cols):
            _append(hll_register_rows(df, c, p=p).select(
                F.lit(c).alias("col"), "idx", F.col("maxrho").alias("rho")),
                regs_dir, bid)

    _drain(_read(spark, source_path), checkpoint_dir, step)
    merged = (
        _state(spark, regs_dir, None)
        .groupBy("col", "idx")
        .agg(F.max("rho").alias("maxrho"))
    )
    agg = merged.groupBy("col").agg(
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {rem_bits + 1} - maxrho)"))
        .alias("s_present"),
        F.count(F.lit(1)).cast("long").alias("n_present"),
    )
    n_empty, est_raw, est = hll_estimate_cols(p)
    return agg.select("col", n_empty, est_raw, est).orderBy("col")


def stream_change_point(
    spark: SparkSession,
    source_path: str,
    checkpoint_dir: str,
    state_dir: str,
) -> DataFrame:
    """Streaming change-point detection: each micro-batch collapses to its
    per-day partial sums and appends them to parquet state — day sums are
    ADDITIVE-mergeable (the sum-merge sibling of the HLL register
    max-merge), so the folded state is the batch bucket relation and the
    split scan over it gives the batch answer. State is bounded at
    |days|·|batches| partial rows (compactable by re-summing); batch
    stamps make checkpoint replays detectable. Same output contract (and
    oracle) as pipeline.change_point_agg."""
    from .pipeline import change_point_from_buckets

    return change_point_from_buckets(_day_sums(
        spark, source_path, checkpoint_dir, state_dir, "buckets", "partial", "sum_value"))


def stream_downsample(
    spark: SparkSession,
    source_path: str,
    checkpoint_dir: str,
    state_dir: str,
    interval_hours: int = 6,
) -> DataFrame:
    """Streaming TSDB downsampling: each micro-batch collapses to its
    per-(series, bucket) partial rollup — count/sum are ADDITIVE-merge,
    min/max are MIN/MAX-merge, and last_value rides as max(struct(ts,
    event_id, value)) so the merge is one more struct max — appended to
    parquet state. The folded state IS the batch downsample_tsdb table
    (same rounding, same oracle); state is bounded at |series·buckets|
    ·|batches| partial rows (compactable by re-merging); batch stamps
    make checkpoint replays detectable."""
    secs = 3600 * interval_hours

    def partial(df):
        td = F.col("ts").cast("timestamp").cast("double")
        bucket = (F.floor(td / F.lit(float(secs))) * F.lit(secs)).cast("long")
        return (
            df.select("event_type", bucket.alias("bucket_ts"), "value", "ts", "event_id")
            .groupBy("event_type", "bucket_ts")
            .agg(
                F.count(F.lit(1)).cast("long").alias("pn"),
                F.min("value").alias("pmin"),
                F.max("value").alias("pmax"),
                F.sum("value").alias("psum"),
                F.max(F.struct("ts", "event_id", "value")).alias("plast"),
            )
        )

    return (
        _fold(spark, source_path, checkpoint_dir, state_dir, "buckets", partial,
              keys=("event_type", "bucket_ts"))
        .groupBy("event_type", "bucket_ts")
        .agg(
            F.sum("pn").cast("long").alias("n"),
            F.round(F.min("pmin"), 6).alias("vmin"),
            F.round(F.max("pmax"), 6).alias("vmax"),
            F.round(F.sum("psum"), 6).alias("vsum"),
            F.round(F.max("plast").getField("value"), 6).alias("vlast"),
        )
        .orderBy("event_type", "bucket_ts")
    )


def stream_interval_join(
    spark: SparkSession,
    source_path: str,
    checkpoint_dir: str,
    name: str,
    within_minutes: int = 30,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-STREAM inner join with an event-time interval condition:
    click events joined to error events of the same user arriving within
    [click_ts, click_ts + within]. Both sides carry watermarks and the
    join predicate bounds event time in both directions — the two
    conditions Spark needs to EVICT buffered join state (without them a
    stream-stream join's state grows forever; with them each side's
    buffer is bounded by watermark + interval, the 100 TB contract).
    Drained via availableNow the result equals the batch interval join,
    so the DuckDB oracle checks it exactly. Returns the materialized
    (user_id, click_id, err_id) pair table."""

    def side(etype: str, id_alias: str, ts_alias: str, uid: str) -> DataFrame:
        return (
            _read(spark, source_path)
            .filter(F.col("event_type") == etype)
            .select(
                F.col("event_id").alias(id_alias),
                F.col("ts").alias(ts_alias),
                F.col("user_id").alias(uid),
            )
            .withWatermark(ts_alias, watermark)
        )

    left = side("click", "click_id", "click_ts", "user_id")
    right = side("error", "err_id", "err_ts", "__uid")
    cond = (
        (F.col("user_id") == F.col("__uid"))
        & (F.col("err_ts") >= F.col("click_ts"))
        & (F.col("err_ts") <= F.col("click_ts")
           + F.expr(f"INTERVAL {int(within_minutes)} MINUTES"))
    )
    pairs = left.join(right, cond, "inner").select("user_id", "click_id", "err_id")
    return _to_memory(pairs, name, "append", checkpoint_dir)


def stream_cm_heavy_hitters(
    spark: SparkSession,
    source_path: str,
    checkpoint_dir: str,
    state_dir: str,
    k: int = 20,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Streaming count-min heavy hitters: each micro-batch collapses to
    its CM register PARTIALS (sum-mergeable, ≤ depth·width rows) plus its
    per-term partial counts (vocab-bounded — the audit half of the batch
    op's (est, exact) contract), appended to parquet state with a batch
    stamp. The drained fold (groupBy-sum over both relations) is
    bit-identical to the batch sketch, so the batch cm_heavy_hitters
    oracle checks the result exactly. State ≤ (depth·width + |vocab|) ·
    n_batches rows, compactable by re-summing; derived-from-state, so
    checkpoint resume is safe (no fresh-run guard needed). Returns
    (term, est, exact) top-k."""
    from .sketches import cm_register_rows, cm_topk_from
    from .tokenizer import tokens_expr

    regs_dir = os.path.join(state_dir, "regs")
    terms_dir = os.path.join(state_dir, "terms")

    def step(df, bid):
        toks = df.select(F.explode(tokens_expr("text")).alias("term"))
        _append(cm_register_rows(toks, "term", depth=depth, width=width), regs_dir, bid)
        _append(toks.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("partial")),
                terms_dir, bid)

    _drain(_read(spark, source_path, DOCS_SCHEMA), checkpoint_dir, step)
    regs = (
        _state(spark, regs_dir, ("j", "bucket"))
        .groupBy("j", "bucket")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    exact = (
        _state(spark, terms_dir, ("term",))
        .groupBy("term")
        .agg(F.sum("partial").cast("long").alias("exact"))
    )
    return cm_topk_from(exact, regs, k=k, depth=depth, width=width)


def stream_sampled_quantiles(
    spark: SparkSession,
    source_path: str,
    checkpoint_dir: str,
    state_dir: str,
    group_col: str = "event_type",
    val_col: str = "value",
    key_col: str = "event_id",
    shift: int = 4,
    qs: tuple = (0.5, 0.95),
) -> DataFrame:
    """Streaming quantile sketch via the DETERMINISTIC hash sample
    (sketches.sampled_quantiles' sample rule): each micro-batch keeps the
    rows whose portable 60-bit key hash falls under 2^60/2^shift and
    appends them to parquet state. The sample is a pure row predicate, so
    it is closed under union AND idempotent under checkpoint replay — a
    replayed batch re-appends identical rows and the read-side dedupe on
    (group, key) absorbs them. The drained state is EXACTLY the batch
    sample, so streaming quantiles == batch sampled quantiles bit-for-bit
    (same exact-percentile interpolation over the same rows), with state
    bounded at p·n rows no matter how long the stream runs.

    Unlike the batch op there is no exact-percentile audit column — that
    would require unbounded raw-row state, which is the thing the sketch
    exists to avoid. (group, n_sample, q<q>_est...), group asc."""
    from .portable import hash60

    thr = (1 << 60) >> shift
    merged = _fold(
        spark, source_path, checkpoint_dir, state_dir, "sample",
        lambda df: df.filter(hash60(F.col(key_col).cast("string")) < thr).select(
            F.col(group_col).alias("grp"), F.col(key_col).alias("key"),
            F.col(val_col).alias("val")),
        keys=None,
    ).dropDuplicates(["grp", "key"])
    est_aggs = [
        F.round(F.expr(f"percentile(val, {q!r})"), 6).alias(f"q{int(q * 100)}_est")
        for q in qs
    ]
    return (
        merged.groupBy("grp")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sample"), *est_aggs)
        .select(F.col("grp").alias(group_col), "n_sample",
                *[f"q{int(q * 100)}_est" for q in qs])
        .orderBy(group_col)
    )


def stream_anomaly_hourly(
    spark: SparkSession,
    source_path: str,
    checkpoint_dir: str,
    state_dir: str,
    k: int = 10,
) -> DataFrame:
    """Streaming seasonal count-anomaly detection: each micro-batch
    collapses to its per-(day, hour) partial COUNTS and appends them to
    parquet state — counts are ADDITIVE-mergeable (the stream_change_point
    sum-merge), so the folded state is exactly the batch (day, hour, n)
    bucket relation and the shared scoring tail
    (pipeline.anomaly_from_hour_counts) gives the batch answer. State is
    bounded at |day·hour buckets|·|batches| partial rows (compactable by
    re-summing); batch stamps make checkpoint replays detectable. Same
    output contract (and oracle) as pipeline.anomaly_hourly."""
    from .pipeline import anomaly_from_hour_counts

    merged = _fold(
        spark, source_path, checkpoint_dir, state_dir, "hour_buckets",
        lambda df: df.groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            F.hour("ts").cast("long").alias("hour"),
        ).agg(F.count(F.lit(1)).cast("long").alias("partial")),
        keys=("day", "hour"),
    ).groupBy("day", "hour").agg(F.sum("partial").cast("long").alias("n"))
    return anomaly_from_hour_counts(merged, k=k)


def stream_transform_pivot(
    spark: SparkSession,
    source_path: str,
    checkpoint_dir: str,
    state_dir: str,
) -> DataFrame:
    """ES CONTINUOUS transform (pivot mode): each micro-batch collapses to
    per-user partial aggregates — counts/sums ADDITIVE-merge, max(ts) is
    a lattice merge — appended to parquet state; the folded state equals
    the batch pipeline.transform_pivot table exactly (rounding happens
    only at the fold). State is bounded at |users|·|batches| partial rows
    (compactable by re-merging); batch stamps make checkpoint replays
    detectable. Same output contract (and oracle) as transform_pivot."""
    return (
        _fold(
            spark, source_path, checkpoint_dir, state_dir, "user_partials",
            lambda df: df.groupBy("user_id").agg(
                F.count(F.lit(1)).cast("long").alias("pn"),
                F.count(F.when(F.col("event_type") == "error", F.lit(1)))
                .cast("long").alias("pe"),
                F.sum("value").alias("pv"),
                F.max("ts").alias("pt"),
            ),
            keys=("user_id",),
        )
        .groupBy("user_id")
        .agg(
            F.sum("pn").cast("long").alias("n_events"),
            F.sum("pe").cast("long").alias("n_error"),
            F.round(F.sum("pv"), 6).alias("sum_value"),
            F.date_format(F.max("pt"), "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        )
        .orderBy("user_id")
    )


def stream_hdr_percentiles(
    spark: SparkSession,
    source_path: str,
    checkpoint_dir: str,
    state_dir: str,
    pcts: tuple = (50, 90, 99),
    sub_bits: int = 5,
) -> DataFrame:
    """Streaming HDR percentiles: each micro-batch collapses to its
    (e, sub) partial bucket counts and appends them to parquet state —
    HDR counts are ADDITIVE-mergeable (the change_point sum-merge), so
    the folded state IS the batch bucket relation and the shared
    selection tail (sketches.hdr_percentiles_from_buckets) gives the
    batch answer bit-for-bit. State is bounded at
    (octaves · 2^sub_bits) · |batches| partial rows; batch stamps make
    checkpoint replays idempotent (dropDuplicates on (e, sub, _b)).
    Same output contract (and oracle) as sketches.hdr_percentiles."""
    from .sketches import hdr_buckets, hdr_percentiles_from_buckets

    merged = _fold(
        spark, source_path, checkpoint_dir, state_dir, "hdr_buckets",
        lambda df: hdr_buckets(df, "value", sub_bits), keys=("e", "sub"),
    ).groupBy("e", "sub").agg(F.sum("cnt").cast("long").alias("cnt"))
    return hdr_percentiles_from_buckets(merged, pcts, sub_bits)


def stream_moving_ewma(
    spark: SparkSession,
    source_path: str,
    checkpoint_dir: str,
    state_dir: str,
) -> DataFrame:
    """Streaming ES moving_fn ewma: each micro-batch collapses to its
    per-day partial value sums and appends them to parquet state — sums
    are ADDITIVE-mergeable (the change_point sum-merge), so the folded
    state IS the batch bucket relation (rounded once, after the merge)
    and the shared fold tail (pipeline.ewma_from_buckets) gives the batch
    answer. State is bounded at |days| · |batches| partial rows; batch
    stamps make checkpoint replays idempotent. Same output contract (and
    oracle) as pipeline.moving_ewma."""
    from .pipeline import ewma_from_buckets

    return ewma_from_buckets(_day_sums(spark, source_path, checkpoint_dir, state_dir,
                                       "ewma_buckets", "part", "sum_value"))


def stream_active_users(
    spark: SparkSession,
    source_path: str,
    checkpoint_dir: str,
    state_dir: str,
    window_days: int = 7,
) -> DataFrame:
    """Streaming DAU/WAU: each micro-batch reduces to its DISTINCT
    (day, user_id) rows and appends them to parquet state — set union is
    idempotent AND commutative, so the read-side distinct over the state
    IS the batch relation regardless of batch boundaries or checkpoint
    replays (the union-closed algebra; no batch stamps needed). The
    shared tail (pipeline.active_users_from_distinct) gives the batch
    answer exactly. Same oracle as rolling_active_users."""
    from .pipeline import active_users_from_distinct

    du = _fold(spark, source_path, checkpoint_dir, state_dir, "day_users",
               lambda df: df.select(_day_no("day"), "user_id").distinct(), keys=())
    return active_users_from_distinct(du, window_days)


def stream_rfm_segments(
    spark: SparkSession,
    source_path: str,
    checkpoint_dir: str,
    state_dir: str,
    buckets: int = 4,
) -> DataFrame:
    """Streaming RFM segmentation: each micro-batch collapses purchase
    events to per-user partials (last_us MAX-lattice, freq/value-sum
    ADDITIVE — the downsample_tsdb merge algebra) appended to parquet
    state; the folded state IS the batch per-user relation (monetary
    rounded ONCE post-merge) and the shared scoring tail
    (pipeline.rfm_from_per_user) gives the batch answer. Batch stamps
    make checkpoint replays idempotent. Same oracle as rfm_segments."""
    from .pipeline import rfm_from_per_user

    per_user = _fold(
        spark, source_path, checkpoint_dir, state_dir, "rfm_per_user",
        lambda df: df.filter(F.col("event_type") == "purchase")
        .select("user_id", _us(), "value")
        .groupBy("user_id")
        .agg(F.max("us").alias("last_us"),
             F.count(F.lit(1)).cast("long").alias("freq"),
             F.sum("value").alias("val")),
        keys=("user_id",),
    ).groupBy("user_id").agg(
        F.max("last_us").alias("last_us"),
        F.sum("freq").cast("long").alias("freq"),
        F.round(F.sum("val"), 6).alias("monetary"),
    )
    return rfm_from_per_user(per_user, buckets)


def stream_funnel(
    spark: SparkSession,
    source_path: str,
    checkpoint_dir: str,
    state_dir: str,
    steps: tuple = ("signup", "click", "purchase"),
    window_h: int = 24,
) -> DataFrame:
    """Streaming conversion funnel: each micro-batch reduces to its
    DISTINCT (user_id, event_type, µs) rows for the funnel's step types
    and appends them to parquet state — set union is idempotent AND
    commutative (the stream_active_users rule), so the read-side distinct
    over the state IS the batch step-event relation regardless of batch
    boundaries or checkpoint replays; no batch stamps needed. The min-
    anchor chain is NOT additive across batches (stage N's anchor depends
    on stage N-1's, which a later batch can move earlier), which is why
    the state holds the distinct step events rather than per-stage
    partials. The shared tail (pipeline.funnel_steps over the
    reconstructed relation) gives the batch answer exactly — same oracle
    as funnel_steps."""
    from .pipeline import funnel_steps

    step_list = [str(s) for s in steps]
    ev = _fold(
        spark, source_path, checkpoint_dir, state_dir, "funnel_events",
        lambda df: df.filter(F.col("event_type").isin(step_list))
        .select("user_id", "event_type", _us()).distinct(),
        keys=(),
    ).select("user_id", "event_type", F.timestamp_micros(F.col("us")).alias("ts"))
    return funnel_steps(ev, steps=steps, window_h=window_h)


def stream_attribution(
    spark: SparkSession,
    source_path: str,
    checkpoint_dir: str,
    state_dir: str,
    conversion: str = "purchase",
    channels: tuple = ("click", "signup", "view"),
    window_h: int = 72,
) -> DataFrame:
    """Streaming multi-touch attribution: credit assignment needs the
    conversions ⋈ touches join, which is not additive across batches (a
    late conversion claims touches from earlier batches), so the state
    holds the DISTINCT relevant events — (user, event_id, type, µs) rows
    for the conversion + channel types only (the stream_funnel rule:
    union-closed distinct state, replay-idempotent, no batch stamps).
    The shared tail (pipeline.attribution over the reconstructed
    relation) gives the batch answer exactly — same oracle as batch."""
    from .pipeline import attribution

    types = [str(conversion)] + [str(c) for c in channels]
    ev = _fold(
        spark, source_path, checkpoint_dir, state_dir, "attr_events",
        lambda df: df.filter(F.col("event_type").isin(types))
        .select("user_id", "event_id", "event_type", _us()).distinct(),
        keys=(),
    ).select("user_id", "event_id", "event_type",
             F.timestamp_micros(F.col("us")).alias("ts"))
    return attribution(ev, conversion=conversion, channels=channels,
                       window_h=window_h)


def stream_theil_sen(
    spark: SparkSession,
    source_path: str,
    checkpoint_dir: str,
    state_dir: str,
) -> DataFrame:
    """Streaming Theil-Sen trend: per-day partial value sums are
    ADDITIVE-mergeable (the stream_moving_ewma state algebra — batch
    stamps make replays idempotent, sums rounded ONCE post-merge), and
    the shared tail (pipeline.theil_sen_from_buckets) runs the pairwise-
    slope medians over the merged |days|-row bucket relation. Same
    output contract (and oracle) as pipeline.theil_sen_trend."""
    from .pipeline import theil_sen_from_buckets

    merged = _fold(
        spark, source_path, checkpoint_dir, state_dir, "ts_buckets",
        lambda df: df.groupBy(_day_no("d")).agg(F.sum("value").alias("part")),
        keys=("d",),
    ).groupBy("d").agg(F.round(F.sum("part"), 6).alias("v"))
    return theil_sen_from_buckets(merged)


def stream_survival_km(
    spark: SparkSession,
    source_path: str,
    checkpoint_dir: str,
    state_dir: str,
    event_type: str = "purchase",
) -> DataFrame:
    """Streaming Kaplan-Meier: each micro-batch collapses to per-user span
    partials (t0 = min µs, tp = min conversion µs, t1 = max µs) appended
    to parquet state. min/min/max is a pure LATTICE merge — idempotent
    AND commutative (the stream_active_users rule, stronger than the
    additive stream_rfm algebra), so checkpoint replays need no batch
    stamps: re-folding a replayed partial is absorbed by the min/max.
    The folded state IS the batch span relation (observation end = the
    max-lattice over t1) and the shared estimator tail
    (pipeline.km_from_spans) gives the batch answer exactly — same
    DuckDB oracle as survival_km."""
    from .pipeline import km_from_spans

    per = _fold(
        spark, source_path, checkpoint_dir, state_dir, "km_spans",
        lambda df: df.select("user_id", _us(), "event_type")
        .groupBy("user_id")
        .agg(F.min("us").alias("t0"),
             F.min(F.when(F.col("event_type") == event_type, F.col("us"))).alias("tp"),
             F.max("us").alias("t1")),
        keys=None,
    ).groupBy("user_id").agg(
        F.min("t0").alias("t0"), F.min("tp").alias("tp"), F.max("t1").alias("t1"))
    end = per.agg(F.max("t1").alias("t_end"))
    spans = per.crossJoin(F.broadcast(end)).select(
        "user_id", "t0", "tp", "t_end")
    return km_from_spans(spans)


def stream_autocorrelation(
    spark: SparkSession,
    source_path: str,
    checkpoint_dir: str,
    state_dir: str,
    max_lag: int = 7,
) -> DataFrame:
    """Streaming ACF: each micro-batch reduces to per-day count partials
    appended to parquet state (ADDITIVE merge with batch stamps for
    replay idempotence — the stream_theil_sen algebra); the folded state
    IS the batch daily series and the shared tail
    (pipeline.acf_from_daily) gives the batch answer exactly — same
    DuckDB oracle as autocorrelation."""
    from .pipeline import acf_from_daily

    x = _fold(
        spark, source_path, checkpoint_dir, state_dir, "acf_days",
        lambda df: df.select(_day_no("day")).groupBy("day")
        .agg(F.count(F.lit(1)).cast("long").alias("x")),
        keys=("day",),
    ).groupBy("day").agg(F.sum("x").cast("long").alias("x"))
    return acf_from_daily(x, max_lag)


def stream_kmv_cardinality(
    spark: SparkSession,
    source_path: str,
    checkpoint_dir: str,
    state_dir: str,
    group_col: str = "event_type",
    val_col: str = "user_id",
    k: int = 64,
) -> DataFrame:
    """Streaming KMV (bottom-k) distinct cardinality — the order-sketch
    sibling of stream_hll_cardinality: each micro-batch collapses to its
    per-group bottom-k distinct-hash relation (sketches.kmv_bottomk) and
    appends it to parquet state. Bottom-k is a LATTICE op on
    distinct-hash sets (bottom_k(A∪B) == bottom_k(bottom_k(A) ∪
    bottom_k(B))), so the drained state folded by distinct → bottom-k is
    EXACTLY the batch sketch — streaming == batch bit-for-bit, and
    checkpoint replays are absorbed by the read-side distinct (no batch
    stamps needed, the stream_active_users rule). State grows ≤
    |groups|·k rows per batch and compacts to |groups|·k by re-folding.

    (group, est_distinct, k) — sketch-only output; the exact distinct
    count needs the raw stream and is the batch path's audit column
    (same convention as stream_hll_cardinality)."""
    from .portable import hash60
    from .sketches import kmv_bottomk, kmv_estimate

    hashes = _fold(
        spark, source_path, checkpoint_dir, state_dir, "bottomk",
        lambda df: kmv_bottomk(df.select(
            F.col(group_col).alias("grp"),
            hash60(F.col(val_col).cast("string")).alias("h"),
        ).distinct(), k),
        keys=(),
    )
    return (kmv_estimate(kmv_bottomk(hashes, k), k)
            .select(F.col("grp").alias(group_col), "est_distinct",
                    F.lit(k).cast("long").alias("k"))
            .orderBy(group_col))


def stream_sprt_ab(
    spark: SparkSession,
    source_path: str,
    checkpoint_dir: str,
    state_dir: str,
    event_type: str = "purchase",
) -> DataFrame:
    """Streaming Wald SPRT monitor: per-day (n, successes) counts are
    EXACT-INTEGER additive state (batch stamps + dropDuplicates make
    replays idempotent — the stream_moving_ewma algebra, with no
    post-merge rounding needed because counts merge exactly), and the
    shared pipeline.sprt_from_day_counts tail computes the identical
    LLR/decision table — bit-for-bit equal to batch, so the oracle IS
    the batch SQL."""
    from .pipeline import sprt_from_day_counts

    merged = _fold(
        spark, source_path, checkpoint_dir, state_dir, "sprt_counts",
        lambda df: df.groupBy(_day_no("d")).agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(F.col("event_type") == event_type, 1).otherwise(0))
            .cast("long").alias("sc"),
        ),
        keys=("d",),
    ).groupBy("d").agg(F.sum("n").cast("long").alias("n"),
                       F.sum("sc").cast("long").alias("sc"))
    return sprt_from_day_counts(merged)


def stream_chi2_independence(
    spark: SparkSession,
    source_path: str,
    checkpoint_dir: str,
    state_dir: str,
) -> DataFrame:
    """Streaming chi² independence monitor over the event_type × weekday
    contingency: per-batch observed-cell counts are EXACT-INTEGER
    additive state; the shared pipeline.chi2_from_cells tail recomputes
    marginals/expected/contributions from the merged ≤|cells| relation —
    bit-for-bit equal to batch (oracle = the batch SQL)."""
    from .pipeline import chi2_from_cells

    return chi2_from_cells(_dow_cells(spark, source_path, checkpoint_dir, state_dir,
                                      "chi2_cells"))


def stream_holt_winters(
    spark: SparkSession,
    source_path: str,
    checkpoint_dir: str,
    state_dir: str,
) -> DataFrame:
    """Streaming Holt-Winters: per-day partial value sums are additive
    state (batch stamps + dropDuplicates, rounded ONCE post-merge — the
    stream_theil_sen algebra), then the shared
    pipeline.holt_winters_from_buckets fold. Oracle = the batch SQL."""
    from .pipeline import holt_winters_from_buckets

    return holt_winters_from_buckets(_day_sums(
        spark, source_path, checkpoint_dir, state_dir, "hw_sums", "part", "x"))


def stream_ewma_control_chart(
    spark: SparkSession,
    source_path: str,
    checkpoint_dir: str,
    state_dir: str,
) -> DataFrame:
    """Streaming EWMA control chart: per-day event counts are
    EXACT-INTEGER additive state; the shared
    pipeline.ewma_chart_from_day_counts tail is bit-identical to batch
    (oracle = the batch SQL)."""
    from .pipeline import ewma_chart_from_day_counts

    return ewma_chart_from_day_counts(_day_counts(
        spark, source_path, checkpoint_dir, state_dir, "ewma_counts"))


def stream_page_hinkley(
    spark: SparkSession,
    source_path: str,
    checkpoint_dir: str,
    state_dir: str,
) -> DataFrame:
    """Streaming Page-Hinkley: exact-integer additive day counts; the
    shared pipeline.page_hinkley_from_day_counts tail is bit-identical
    to batch (oracle = the batch SQL)."""
    from .pipeline import page_hinkley_from_day_counts

    return page_hinkley_from_day_counts(_day_counts(
        spark, source_path, checkpoint_dir, state_dir, "ph_counts"))


def stream_gains_deciles(
    spark: SparkSession,
    source_path: str,
    checkpoint_dir: str,
    state_dir: str,
    target: str = "purchase",
) -> DataFrame:
    """Streaming gains/lift deciles: per-user state merges EXACTLY
    (event count additive, converter flag a max lattice — the
    stream_rfm_segments algebra); shared pipeline.gains_from_user_scores
    tail, oracle = the batch SQL."""
    from .pipeline import gains_from_user_scores

    return gains_from_user_scores(_user_scores(
        spark, source_path, checkpoint_dir, state_dir, "gains_users", target))


def stream_mutual_information(
    spark: SparkSession,
    source_path: str,
    checkpoint_dir: str,
    state_dir: str,
) -> DataFrame:
    """Streaming mutual-information monitor: the SAME exact-integer
    additive cell state as stream_chi2_independence, with the
    pipeline.mi_from_cells tail — bit-identical to batch (oracle = the
    batch SQL)."""
    from .pipeline import mi_from_cells

    return mi_from_cells(_dow_cells(spark, source_path, checkpoint_dir, state_dir,
                                    "mi_cells"))


def stream_two_proportion_z(
    spark: SparkSession,
    source_path: str,
    checkpoint_dir: str,
    state_dir: str,
    event_type: str = "purchase",
) -> DataFrame:
    """Streaming two-proportion z monitor: per-arm (n, successes) counts
    are exact-integer additive state; shared
    pipeline.two_proportion_from_arm_counts tail — bit-identical to
    batch (oracle = the batch SQL)."""
    from .portable import hash60
    from .pipeline import two_proportion_from_arm_counts

    merged = _fold(
        spark, source_path, checkpoint_dir, state_dir, "tpz_arms",
        lambda df: df.select(
            F.pmod(hash60(F.col("user_id").cast("string")), F.lit(2)).cast("int").alias("g"),
            F.when(F.col("event_type") == event_type, 1).otherwise(0).alias("s"),
        ).groupBy("g").agg(F.count(F.lit(1)).cast("long").alias("n"),
                           F.sum("s").cast("long").alias("sc")),
        keys=("g",),
    ).groupBy("g").agg(F.sum("n").cast("long").alias("n"),
                       F.sum("sc").cast("long").alias("sc"))
    return two_proportion_from_arm_counts(merged)


def stream_qini_uplift(
    spark: SparkSession,
    source_path: str,
    checkpoint_dir: str,
    state_dir: str,
    target: str = "purchase",
) -> DataFrame:
    """Streaming Qini uplift: the stream_gains_deciles per-user state
    (count additive, converter flag a max lattice); shared
    pipeline.qini_from_user_scores tail (the hash arm derives from
    user_id — no extra state). Oracle = the batch SQL."""
    from .pipeline import qini_from_user_scores

    return qini_from_user_scores(_user_scores(
        spark, source_path, checkpoint_dir, state_dir, "qini_users", target))
