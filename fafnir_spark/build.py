"""Index build: SPIMI-style posting construction as a Spark DAG.

Reference pipeline being re-expressed (SURVEY.md §3.1, /root/reference
src/bin/openmaptiles2mimir.rs:35-149): scan → per-row transform/enrich →
route → bulk index → publish → force-merge. Spark-first translation:

  scan (parquet/Iceberg, pruned)                          — S1/S2
  mapInPandas vectorized tokenize w/ per-doc tf maps      — P7 (the analyzer)
  explode → (term, doc_id, tf, dl, weight, doc_part)
  groupBy(term).agg(df, cf)                               — dictionary (A5)
  repartition(term, doc_part) → local sort → mapInPandas  — posting blocks
  write segments → catalog.publish()                      — S8/S10
  compact()                                               — S11 force-merge

**Shard/skew design (north rule):** every posting row is keyed by
``(term, doc_part)`` where ``doc_part = doc_id mod n_parts`` — a
document-partitioned index exactly like the reference's ES shards
(config/fafnir/default.toml:50 ``number_of_shards``). A hot term ("def",
"return": df ≈ corpus size under the Zipf law) is therefore split across all
``n_parts`` reducers by construction — the salted repartitioning the north
rule demands, with the salt doubling as the query-time parallelism unit so
per-shard top-k stays *exact* (a doc's whole score lives in one shard).

**Why mapInPandas (not applyInPandas) for encoding:** one pandas-UDF
invocation per (term, doc_part) group costs ~ms of per-group overhead and
the long tail of singleton terms makes group count ≈ vocabulary size.
Instead: shuffle on the group key, sort within partitions by
(term, doc_part, doc_id), then stream Arrow batches through one UDF that
detects group boundaries vectorized and carries a partial trailing group
into the next batch. Same result, O(partitions) UDF invocations.

**One write path:** every posting segment — a build shard, an append,
a compaction, a reindex — is laid out by the same few helpers, so no
caller restates the layout: ``_tokenize`` (sha256, passthrough metadata,
the tokenizer UDF, the routed doc_part), ``_write_segment_pair`` (the
doc_map + postings segments of one tokenized frame), ``_encode`` (THE
(term, doc_part) encode exchange at pinned width), ``_write_postings``
(the ``seg`` column, doc_part partitions, term-sorted files),
``_write_dictionary``, ``_decode_blocks``/``_decoded`` (THE block decoder:
posting blocks back to flat posting rows, tombstoned rows dropped — the
input of every re-encode) and ``_stats_doc`` (THE corpus stats document).

**Resumability:** the build runs in ``n_shards`` build shards, each an
independent Spark job writing immutable segments + a checkpoint record with
per-shard lineage and metrics (docs/sec, postings/sec, bytes compressed).
``resume=True`` skips checkpointed shards — fafnir's incremental
``try_skip_reverse`` semantics (/root/reference src/mimir.rs:17-27,
src/addresses.rs:274-295) at segment granularity.

**Scale math (10^12 files):** n_parts is the only knob that must grow with
the corpus: target ≤ ~50M docs per doc_part (postings for one part of one
hot term ≈ 50M × ~10B encoded ≈ 500MB, one reducer's comfortable working
set) → n_parts ≈ 20k at 10^12 docs; n_shards bounds per-job failure blast
radius (e.g. 1k shards of 10^9 docs each). Both are O(1) driver metadata.
"""

from __future__ import annotations

import time
from collections.abc import Iterator
from contextlib import contextmanager

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import B, K1
from .catalog import Catalog
from .codec import (
    delta_decode,
    f64_decode,
    f64_encode,
    positions_encode,
    varint_decode,
    varint_encode_segments,
)
from .tokenizer import TOKENIZERS

POSTINGS_SCHEMA = (
    "term string, doc_part int, block_id int, n int, first_doc long, last_doc long, "
    "max_tf int, min_dl int, max_weight double, "
    "doc_ids binary, tfs binary, dls binary, weights binary"
)
POSTINGS_SCHEMA_POS = POSTINGS_SCHEMA + ", positions binary"

META_COLS = ("repo", "path", "commit", "lang", "source", "content_sha256",
             "n_chars")


def _tokenize_map_fn(
    tokenizer_name: str, n_parts: int, passthrough: list[str], with_positions: bool = False
):
    """Tokenize content and pass metadata columns through, so doc_map needs
    no join back to the source (one scan feeds everything)."""
    tok_fn = TOKENIZERS[tokenizer_name]

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            trip = tok_fn(pdf["content"], with_positions=with_positions)
            doc_id = pdf["doc_id"].to_numpy()
            out = {
                "doc_id": doc_id,
                "doc_part": (doc_id % n_parts).astype(np.int32),
                "dl": np.array([t[2] for t in trip], dtype=np.int64),
                "weight": pdf["weight"].to_numpy(),
                "terms": [t[0] for t in trip],
                "tfs": [t[1] for t in trip],
            }
            if with_positions:
                out["positions"] = [t[3] for t in trip]
            for c in passthrough:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    return fn


def _encode_sorted(pdf: pd.DataFrame, block_size: int) -> pd.DataFrame:
    """Encode a frame sorted by (term, doc_part, doc_id) into block rows.

    Group boundaries found vectorized; per group only cheap numpy slicing.
    A 'positions' column (list of token indexes per posting), if present,
    is delta+varint packed per block (counts = the tfs already stored).
    """
    with_pos = "positions" in pdf.columns
    term = pdf["term"].to_numpy()
    part = pdf["doc_part"].to_numpy()
    ids = pdf["doc_id"].to_numpy(dtype=np.int64)
    tfs = pdf["tf"].to_numpy(dtype=np.int64)
    dls = pdf["dl"].to_numpy(dtype=np.int64)
    ws = pdf["weight"].to_numpy(dtype=np.float64)
    pos = pdf["positions"].tolist() if with_pos else None
    n_rows = len(pdf)
    change = np.flatnonzero((term[1:] != term[:-1]) | (part[1:] != part[:-1])) + 1
    starts = np.concatenate(([0], change))
    ends = np.concatenate((change, [n_rows]))
    # Block tiling fully vectorized (per-block python + per-block
    # varint_encode calls were the encode stage's dominant CPU — 38.8s
    # aggregate at the 30k-doc bench build, small-buffer call overhead):
    # every block [lo, hi) of every (term, part) run, stats via reduceat
    # at the contiguous block starts, byte payloads via ONE varint pass
    # split at value boundaries (bit-identical per block by LEB128
    # independence).
    counts = ends - starts
    nblocks = -(-counts // block_size)
    run_idx = np.repeat(np.arange(len(starts)), nblocks)
    block_id = (np.arange(len(run_idx), dtype=np.int64)
                - np.repeat(np.concatenate(([0], np.cumsum(nblocks)[:-1])),
                            nblocks))
    lo = starts[run_idx] + block_id * block_size
    hi = np.minimum(lo + block_size, ends[run_idx])
    # delta stream: absolute at each block start, in-block diffs elsewhere
    # (uint64 wraparound for negative ids — identical to per-block
    # delta_encode)
    u = ids.astype(np.uint64)
    d = u.copy()
    if n_rows > 1:
        np.subtract(u[1:], u[:-1], out=d[1:])
    d[lo] = u[lo]
    out = {
        "term": term[lo],
        "doc_part": part[lo],
        "block_id": block_id,
        "n": hi - lo,
        "first_doc": ids[lo],
        "last_doc": ids[hi - 1],
        "max_tf": np.maximum.reduceat(tfs, lo),
        "min_dl": np.minimum.reduceat(dls, lo),
        "max_weight": np.maximum.reduceat(ws, lo),
        "doc_ids": varint_encode_segments(d, lo, hi),
        "tfs": varint_encode_segments(tfs.astype(np.uint64), lo, hi),
        "dls": varint_encode_segments(dls.astype(np.uint64), lo, hi),
    }
    # unboosted corpora dominate: elide all-1.0 weight blocks (empty blob
    # decodes as ones) — 8 bytes/posting saved
    wbytes = f64_encode(ws)
    ones_cum = np.concatenate(([0], np.cumsum(ws == 1.0)))
    out["weights"] = [
        b"" if ones_cum[h] - ones_cum[l] == h - l else wbytes[8 * l:8 * h]
        for l, h in zip(lo, hi)
    ]
    if with_pos:
        out["positions"] = [
            positions_encode([np.asarray(p, dtype=np.uint64) for p in pos[l:h]])
            for l, h in zip(lo, hi)
        ]
    return pd.DataFrame(out)


def _iter_group_runs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Yield frames cut at (term, doc_part) group boundaries, carrying the
    trailing partial group into the next Arrow batch — THE carry protocol
    every posting writer must use so a group spanning batches is encoded as
    one run with globally consistent block_ids (format invariant)."""
    carry: pd.DataFrame | None = None
    for pdf in batches:
        if carry is not None and len(carry):
            pdf = pd.concat([carry, pdf], ignore_index=True)
        if not len(pdf):
            continue
        term = pdf["term"].to_numpy()
        part = pdf["doc_part"].to_numpy()
        in_last = (term == term[-1]) & (part == part[-1])
        if in_last.all():
            carry = pdf  # whole batch is one group; keep accumulating
            continue
        cut = len(pdf) - int(np.argmin(in_last[::-1]))
        carry = pdf.iloc[cut:]
        yield pdf.iloc[:cut]
    if carry is not None and len(carry):
        yield carry


def _encode_partition_fn(block_size: int):
    """mapInPandas over partitions pre-sorted by (term, doc_part, doc_id):
    encode complete groups per Arrow batch, carry the trailing partial
    group into the next batch."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for chunk in _iter_group_runs(batches):
            yield _encode_sorted(chunk, block_size)

    return fn


def normalize_docs(
    docs: DataFrame,
    id_col: str | None = None,
    text_col: str = "content",
    weight_expr: F.Column | None = None,
) -> DataFrame:
    """Project any corpus to (doc_id, content, weight [, meta...]).

    Without an id column, doc_id = xxhash64(repo, path, commit) — stable
    across runs and partitionings (the analog of fafnir's namespaced
    global_id_from_imposm ids, /root/reference
    tests/openmaptiles2mimir/data/functions.sql:18-27). Collisions are
    checked at finalize (before publish) and fail the build.
    """
    out = docs
    if id_col is None:
        out = out.withColumn("doc_id", F.xxhash64("repo", "path", "commit"))
    elif id_col != "doc_id":
        out = out.withColumn("doc_id", F.col(id_col))
    if text_col != "content":
        out = out.withColumn("content", F.col(text_col))
    out = out.withColumn("weight", weight_expr if weight_expr is not None else F.lit(1.0))
    return out


def route_part_expr(routes: list, parts_per_route: int, routing_col: str) -> F.Column:
    """doc_part for a ROUTED layout: route_idx * parts_per_route + the pmod
    part already computed by the tokenizer — each routing value owns a
    disjoint doc_part range. Shared by build_index and append_index so the
    two writers can never drift."""
    route_map = F.create_map(
        *[x for i, v in enumerate(routes) for x in (F.lit(v), F.lit(i))])
    return (route_map[F.col(routing_col)] * F.lit(parts_per_route)
            + F.col("doc_part")).cast("int")


@contextmanager
def _tokenize(docs: DataFrame, tokenizer: str, n_parts: int, with_positions: bool,
              routing: dict | None) -> Iterator[DataFrame]:
    """The tokenized frame every writer indexes, persisted for the
    ``with`` block (released even when a check or a write raises): (doc_id,
    doc_part, dl, weight, terms, tfs[, positions]) plus the passthrough
    metadata (META_COLS present in ``docs``, content_sha256 computed here),
    so doc_map needs no join back to the source. ``routing`` (the
    'routing' json) moves each route's pmod parts into its own disjoint
    doc_part range — blocks become tenant-pure with NO encoder change, and
    routing-scoped reads are plain doc_part partition pruning."""
    docs = docs.withColumn("content_sha256", F.sha2(F.col("content"), 256))
    meta = [(c, t) for c, t in docs.dtypes if c in META_COLS]
    schema = (
        "doc_id long, doc_part int, dl int, weight double, "
        "terms array<string>, tfs array<int>"
        + (", positions array<array<int>>" if with_positions else "")
        # typed from the SOURCE schema: numeric metadata (e.g. n_chars)
        # becomes a doc-value column range filters can be served from
        + "".join(f", {c} {t}" for c, t in meta)
    )
    passthrough = [c for c, _ in meta]
    out = docs.select("doc_id", "content", "weight", *passthrough).mapInPandas(
        _tokenize_map_fn(tokenizer, n_parts, passthrough, with_positions), schema=schema)
    if routing is not None:
        out = out.withColumn("doc_part", route_part_expr(
            routing["routes"], int(routing["parts_per_route"]), routing["routing_col"]))
    out = out.persist()
    try:
        yield out
    finally:
        out.unpersist()


def _write_segment_pair(spark: SparkSession, cat: Catalog, tokenized: DataFrame,
                        seg: str, block_size: int, n_parts: int) -> None:
    """The doc_map and postings segments ``seg`` of one tokenized frame.
    doc_map rows carry their segment name so tombstones can be scoped per
    segment (stable-id upsert: old row dead, same-id new row live)."""
    cat.write_segment(tokenized.drop("terms", "tfs", "positions")
                      .withColumn("seg", F.lit(seg)), "doc_map", seg)
    arrays = [F.col("terms").alias("term"), F.col("tfs").alias("tf")]
    if "positions" in tokenized.columns:
        arrays.append(F.col("positions"))
    flat = tokenized.select(
        "doc_id", "doc_part", "dl", "weight", F.explode(F.arrays_zip(*arrays)).alias("z"),
    ).select("doc_id", "doc_part", "dl", "weight", "z.*")
    _write_postings(cat, seg, n_parts, _encode(spark, flat, block_size))


def _encode(spark: SparkSession, flat: DataFrame, block_size: int) -> DataFrame:
    """THE encode exchange: flat (term, doc_part, doc_id, tf, dl, weight
    [, positions]) rows → posting blocks. The one shuffle keys (term,
    doc_part); the explicit partition count pins the exchange width — AQE
    would otherwise coalesce a small shuffle to ~2 tasks and serialize the
    encode stage. (The dictionary needs no second shuffle: df/cf are
    derived from the written blocks, dictionary_from_postings.)"""
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return (
        flat.repartition(n_shuffle, "term", "doc_part")
        .sortWithinPartitions("term", "doc_part", "doc_id")
        .mapInPandas(_encode_partition_fn(block_size), schema=POSTINGS_SCHEMA_POS
                     if "positions" in flat.columns else POSTINGS_SCHEMA)
    )


def _write_postings(cat: Catalog, seg: str, n_parts: int, blocks: DataFrame) -> str:
    """Write posting ``blocks`` as segment ``seg``: one physical partition
    per doc_part, files term-sorted, every row naming its segment (the
    scope of keep_seg tombstones)."""
    return cat.write_segment(
        blocks.repartition(n_parts, "doc_part").withColumn("seg", F.lit(seg)),
        "postings", seg, partition_by=["doc_part"], sort_within_by=["term"])


def _write_dictionary(cat: Catalog, postings: DataFrame, seg: str) -> str:
    """The (term, df, cf) segment ``seg`` of ``postings``, term-sorted."""
    return cat.write_segment(dictionary_from_postings(postings), "dictionary", seg,
                             sort_within_by=["term"])


def _runs(bufs: pd.Series, counts: np.ndarray) -> np.ndarray:
    """Delta-coded runs of ``counts`` values each, one buffer per run
    group, → absolute int64 values: ONE delta_decode over the joined
    buffers (LEB128 is self-delimiting, so it yields the running sum
    across runs), minus the sum before each run's start (uint64
    wraparound, as delta_decode)."""
    cs = np.concatenate((np.zeros(1, np.uint64), delta_decode(b"".join(bufs))))
    return (cs[1:] - cs[np.repeat(np.cumsum(counts) - counts, counts)]).astype(np.int64)


def _decode_blocks(pdf: pd.DataFrame, tombstones=None) -> pd.DataFrame:
    """THE block decoder: posting block rows → flat (term, doc_part,
    doc_id, tf, dl, weight[, positions]) rows in block order, vectorized
    over the whole batch. ``tombstones`` (wand._Tombstones) drops each
    block's excluded ids, scoped by the block's ``seg``."""
    n = pdf["n"].to_numpy(dtype=np.int64)
    tf = varint_decode(b"".join(pdf["tfs"])).astype(np.int64)
    weight = np.ones(len(tf))  # an empty weights blob decodes as ones
    weight[np.repeat(pdf["weights"].map(len).to_numpy() > 0, n)] = f64_decode(
        b"".join(pdf["weights"]))
    flat = pd.DataFrame({
        "term": np.repeat(pdf["term"].to_numpy(), n),
        "doc_part": np.repeat(pdf["doc_part"].to_numpy(), n),
        "doc_id": _runs(pdf["doc_ids"], n),
        "tf": tf,
        "dl": varint_decode(b"".join(pdf["dls"])).astype(np.int64),
        "weight": weight,
    })
    if "positions" in pdf.columns:
        flat["positions"] = np.split(_runs(pdf["positions"], tf), np.cumsum(tf)[:-1])
    if tombstones is not None:
        seg = np.repeat(pdf["seg"].to_numpy(), n)
        keep = np.ones(len(flat), dtype=bool)
        for s in pd.unique(pdf["seg"]):
            rows = seg == s
            keep[rows] = ~np.isin(flat["doc_id"].to_numpy()[rows],
                                  tombstones.excluded_for(s))
        flat = flat[keep]
    return flat


def _decoded(postings: DataFrame, tombstones=None) -> DataFrame:
    """``postings`` decoded to flat rows, map-side (no shuffle)."""
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield _decode_blocks(pdf, tombstones)

    return postings.mapInPandas(fn, schema=(
        "term string, doc_part int, doc_id long, tf long, dl long, weight double"
        + (", positions array<long>" if "positions" in postings.columns else "")))


def _stats_doc(cat: Catalog, n_docs: int, sum_dl: int | None, n_parts: int,
               block_size: int) -> dict:
    """THE corpus stats document, written to the stats json (the manifest
    meta carries the copy queries read). Exact integer sum_dl with avgdl =
    sum_dl / n_docs: deterministic across partitionings and additively
    mergeable by append_index."""
    n_docs, sum_dl = int(n_docs), int(sum_dl or 0)
    doc = {"n_docs": n_docs, "avgdl": sum_dl / n_docs if n_docs else 0.0,
           "sum_dl": sum_dl, "n_parts": n_parts, "block_size": block_size,
           "k1": K1, "b": B}
    cat.write_json("stats", doc)
    return doc


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    index_root: str,
    *,
    n_parts: int = 8,
    block_size: int = 128,
    tokenizer: str = "code",
    n_shards: int = 1,
    resume: bool = True,
    build_id: str = "build0",
    compact_after: bool = False,
    with_positions: bool = False,
    routing_col: str | None = None,
    max_routes: int = 64,
) -> dict:
    """Build (or resume) the inverted index. Returns build metrics.

    ``docs`` must be normalize_docs() output (doc_id/content/weight plus
    optional metadata columns repo/path/commit/lang/source).
    ``with_positions=True`` adds positional postings (index grows ~1 varint
    per token) enabling exact indexed phrase queries (wand.phrase_search).

    ``routing_col`` builds a ROUTED index (ES custom ``_routing``): the
    final doc_part becomes route_idx*n_parts + pmod(doc_id, n_parts), so
    every posting block and every physical partition is tenant-pure and a
    routing-scoped query (wand.routed_search) prunes to its own n_parts
    partitions out of n_routes*n_parts — partition pruning IS the routing.
    Unrouted reads (run_queries etc.) stay correct: scoring is global-stats
    and per-doc_part-local, so HOW docs were assigned to parts is
    invisible; they simply scan all routes, the ES routing-less fan-out.
    Maintenance carries routing implicitly: append/upsert re-derive the
    routed doc_part from the stored routing json (route_part_expr — NEW
    routing values are rejected, the route set is fixed at build like an
    ES shard count), point deletes and doc_map meta updates are doc_id-
    scoped and layout-blind, compaction preserves stored doc_part. Only
    delete_docs_bulk (its cogroup derives doc_part = pmod(doc_id,
    n_parts)) and reindex refuse routed indexes. Route values are
    collected once (<= ``max_routes``, the ES shard-count scale; null
    routing rejected) and persisted in the 'routing' json."""
    cat = Catalog(index_root)
    routing: dict | None = None
    if routing_col is not None:
        if routing_col not in META_COLS or routing_col not in docs.columns:
            raise ValueError(
                f"routing_col {routing_col!r} must be a passthrough metadata "
                f"column (one of {sorted(META_COLS)})")
        rrows = docs.select(routing_col).distinct().collect()
        if any(r[0] is None for r in rrows):
            raise ValueError(
                f"routing_col {routing_col!r} has null values — every doc "
                "must carry a routing value (ES: routing_missing_exception)")
        routes = sorted(r[0] for r in rrows)
        if len(routes) > max_routes:
            raise ValueError(
                f"{len(routes)} distinct routing values exceeds max_routes="
                f"{max_routes} — route on a coarser key")
        routing = {"routing_col": routing_col, "routes": routes,
                   "parts_per_route": n_parts}

    done = cat.read_json("checkpoints") or {"build_id": build_id, "shards": {}}
    if done.get("build_id") != build_id or not resume:
        done = {"build_id": build_id, "shards": {}}

    totals = {"docs": 0, "postings": 0, "bytes": 0, "secs": 0.0}
    for shard in range(n_shards):
        key, seg = str(shard), f"{build_id}-{shard}"
        if key in done["shards"]:
            for m in ("docs", "postings", "bytes"):
                totals[m] += done["shards"][key][m]
            continue
        t0 = time.time()
        part = docs if n_shards == 1 else docs.filter(
            F.pmod(F.xxhash64("doc_id"), F.lit(n_shards)) == shard
        )
        with _tokenize(part, tokenizer, n_parts, with_positions, routing) as tokenized:
            _write_segment_pair(spark, cat, tokenized, seg, block_size, n_parts)

        # per-shard lineage + metrics from the *written* segments (no
        # recompute; north rule: docs/sec, postings/sec, bytes compressed
        # per task; fafnir analog: progress counters,
        # openmaptiles2mimir.rs:130-135)
        n_docs = cat.read_segments(spark, [cat.segment_dir("doc_map", seg)]).count()
        blobs = ["doc_ids", "tfs", "dls", "weights"] + (["positions"] if with_positions else [])
        pstats = (
            cat.read_segments(spark, [cat.segment_dir("postings", seg)])
            .agg(F.sum("n").alias("postings"),
                 sum(F.sum(F.length(c)) for c in blobs).alias("bytes"))
            .collect()[0]
        )
        secs = time.time() - t0
        n_post = int(pstats["postings"] or 0)
        rec = {
            "docs": n_docs,
            "postings": n_post,
            "bytes": int(pstats["bytes"] or 0),
            "secs": round(secs, 3),
            "docs_per_sec": round(n_docs / secs, 2) if secs else 0.0,
            "postings_per_sec": round(n_post / secs, 2) if secs else 0.0,
        }
        done["shards"][key] = rec
        cat.write_json("checkpoints", done)
        for m in ("docs", "postings", "bytes"):
            totals[m] += rec[m]
        totals["secs"] += secs

    if routing is not None:
        cat.write_json("routing", routing)
    finalize_index(spark, cat, build_id, n_shards, n_parts, block_size, with_positions)
    if compact_after:
        compact_index(spark, cat, block_size)
    return totals


def dictionary_from_postings(postings: DataFrame) -> DataFrame:
    """(term, df, cf) derived from posting blocks: df = Σ n; cf = Σ tfs
    (decoded per block, partial-aggregated per partition). Replaces a full
    shuffle of the exploded (doc, term, tf) relation with a scan of the
    ~|vocab|·parts block rows."""
    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            if len(pdf) == 0:
                continue
            # ONE vectorized varint pass over the whole batch: LEB128 is
            # self-delimiting, so the concatenation of block buffers
            # decodes to the concatenation of their values; per-block tf
            # sums come from reduceat at the block value offsets (n values
            # per block). The old per-row itertuples + varint_decode call
            # was the build's second-biggest CPU stage (28.6s aggregate at
            # the 30k-doc bench build — small-buffer numpy call overhead).
            n_arr = pdf["n"].to_numpy(dtype=np.int64)
            vals = varint_decode(b"".join(pdf["tfs"]))
            cf_row = np.zeros(len(pdf), dtype=np.int64)
            nz = n_arr > 0
            if nz.any():
                starts = np.concatenate(([0], np.cumsum(n_arr)[:-1]))
                cf_row[nz] = np.add.reduceat(
                    vals.astype(np.int64), starts[nz])
            out = (
                pd.DataFrame({"term": pdf["term"].to_numpy(),
                              "df": n_arr, "cf": cf_row})
                .groupby("term", sort=False, as_index=False)
                .sum()
            )
            yield out[["term", "df", "cf"]]

    return (
        postings.select("term", "n", "tfs")
        .mapInPandas(partial, "term string, df long, cf long")
        .groupBy("term")
        .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
    )


def finalize_index(
    spark: SparkSession,
    cat: Catalog,
    build_id: str,
    n_shards: int,
    n_parts: int,
    block_size: int,
    with_positions: bool = False,
) -> None:
    """Derive the global dictionary from written postings, compute stats,
    verify doc_id uniqueness, publish the snapshot."""
    post_segs = [cat.segment_dir("postings", f"{build_id}-{s}") for s in range(n_shards)]
    dm_segs = [cat.segment_dir("doc_map", f"{build_id}-{s}") for s in range(n_shards)]
    dict_seg = _write_dictionary(cat, cat.read_segments(spark, post_segs), build_id)
    stats = cat.read_segments(spark, dm_segs).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("doc_id").alias("n_ids"),
        F.sum("dl").alias("sum_dl"),
    ).collect()[0]
    if stats["n_ids"] != stats["n_docs"]:
        raise ValueError(
            f"doc_id collision: {stats['n_docs'] - stats['n_ids']} duplicated ids"
        )
    stats_doc = _stats_doc(cat, stats["n_docs"], stats["sum_dl"], n_parts, block_size)
    cat.publish(
        {"postings": post_segs, "dictionary": [dict_seg], "doc_map": dm_segs},
        meta={"build_id": build_id, "n_shards": n_shards, "n_parts": n_parts,
              "with_positions": with_positions, "stats": stats_doc},
    )


def verify_sha256(spark: SparkSession, index_root: str, source_docs: DataFrame,
                  text_col: str = "content", id_col: str = "doc_id") -> int:
    """Per-row invariant (BASELINE.json input_hint): sha256(content) stored
    in doc_map must equal sha256 recomputed from the source table. Returns
    the number of violating rows (0 = invariant holds)."""
    cat = Catalog(index_root)
    dm = cat.live_doc_map(spark).select("doc_id", "content_sha256")
    src = source_docs.select(
        F.col(id_col).alias("doc_id"),
        F.sha2(F.col(text_col), 256).alias("src_sha256"),
    )
    return (
        dm.join(src, "doc_id", "inner")
        .filter(F.col("content_sha256") != F.col("src_sha256"))
        .count()
    )


def compact_index(
    spark: SparkSession,
    cat: Catalog,
    block_size: int,
    snapshot: dict | None = None,
) -> None:
    """Rewrite multi-segment postings into one sorted run per (term, part),
    draining the tombstones, in ONE commit CAS'd against ``snapshot`` (the
    current one by default).

    fafnir analog: post-publish force-merge to a single segment
    (/root/reference config/elasticsearch/default.toml:26-44).

    The snapshot's point tombstones (read past the query closure envelope:
    this is the op that drains them) are physically dropped during the
    merge, EXCEPT postings whose source segment equals the id's keep_seg
    (the live version written by a stable-id upsert).

    The snapshot's bulk (mass-delete) table is drained with a DISTRIBUTED
    left-anti join on the decoded posting rows (decode → anti-join →
    re-encode through the build encode path); the id set is never
    collected to the driver, so a purge of any size compacts away.

    When there is anything to drain, the live doc_map is rewritten too and
    both tombstone tables leave the manifest. The dictionary and the stats
    are derived from the segments this commit publishes.
    """
    from .incremental import TOMBSTONE_TABLE
    from .wand import BULK_TOMBSTONE_TABLE, _load_bulk_df, _load_tombstones, _snapshot_stats

    m = snapshot or cat.read_manifest()
    ts = _load_tombstones(spark, cat, m, envelope=False)
    ts = ts if len(ts) else None
    bulk = _load_bulk_df(spark, cat, m)
    postings = cat.read_table(spark, "postings", snapshot=m)
    if bulk is not None:
        # two-phase merge: decode to flat rows → distributed anti-join on
        # the bulk tombstone relation → the shared encode exchange
        blocks = _encode(spark, _decoded(postings, ts).join(bulk, "doc_id", "left_anti"),
                         block_size)
    else:
        def merge_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            # partitions are pre-grouped by (term, doc_part) and sorted by
            # block_id, but a group's blocks may span batches → the shared
            # _iter_group_runs carry protocol keeps block_ids unique per
            # (term, doc_part); each run's blocks merge by doc_id
            for chunk in _iter_group_runs(batches):
                flat = _decode_blocks(chunk, ts)
                if len(flat):
                    yield _encode_sorted(flat.sort_values(
                        ["term", "doc_part", "doc_id"], kind="mergesort"), block_size)

        blocks = (
            postings.repartition("term", "doc_part")
            .sortWithinPartitions("term", "doc_part", "block_id")
            .mapInPandas(merge_batches, schema=POSTINGS_SCHEMA_POS
                         if "positions" in postings.columns else POSTINGS_SCHEMA)
        )
    seg = "compacted-" + (m.get("snapshot_id") or "0")
    n_parts = _snapshot_stats(cat, m)["n_parts"]
    tables = dict(m["tables"])
    if ts is not None or bulk is not None:
        # live_doc_map anti-joins bulk, filters point ts
        tables["doc_map"] = [cat.write_segment(cat.live_doc_map(spark, m), "doc_map", seg)]
        tables.pop(TOMBSTONE_TABLE, None)
        tables.pop(BULK_TOMBSTONE_TABLE, None)
    tables["postings"] = [_write_postings(cat, seg, n_parts, blocks)]
    tables["dictionary"] = [_write_dictionary(
        cat, cat.read_segments(spark, tables["postings"]), seg)]
    agg = cat.read_segments(spark, tables["doc_map"]).agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("sum_dl")).collect()[0]
    cat.publish(tables, meta={**(m.get("meta") or {}), "stats": _stats_doc(
        cat, agg["n"], agg["sum_dl"], n_parts, block_size)},
                expected_snapshot=m.get("snapshot_id"))


def reindex(
    spark: SparkSession,
    src_root: str,
    dst_root: str,
    *,
    n_parts: int = 8,
    block_size: int = 128,
) -> None:
    """ES _reindex for layout changes, WITHOUT the original corpus: decode
    the published posting blocks to flat rows, recompute doc_part for the
    new partition count, re-encode through the shared encode exchange, and
    publish a fresh single-segment snapshot at ``dst_root`` (doc_map with
    the new doc_part; the merged dictionary carried over — df/cf are
    invariant under relayout, as are dl/weight, so queries on the new
    layout return bit-identical results; tested in test_index).

    Requires a compacted source snapshot: pending tombstones would need the
    keep_seg-aware drain — run compact_with_tombstones first.

    Scale shape: decode is a map-only pass over posting blocks; the ONE
    shuffle is the same (term, doc_part) encode exchange as build_index
    (pinned width against AQE coalesce); doc_map/dictionary rewrites are
    column-local copies."""
    from .incremental import TOMBSTONE_TABLE
    from .wand import BULK_TOMBSTONE_TABLE, _snapshot_stats

    scat, dcat = Catalog(src_root), Catalog(dst_root)
    m = scat.read_manifest()
    if TOMBSTONE_TABLE in m["tables"] or BULK_TOMBSTONE_TABLE in m["tables"]:
        raise ValueError(
            "reindex requires a compacted snapshot — run compact_with_tombstones first"
        )
    if scat.read_json("routing") is not None:
        raise ValueError(
            "reindex would recompute doc_part = pmod(doc_id, n_parts) and "
            "destroy the routed layout; rebuild with "
            "build_index(routing_col=...) from the corpus instead"
        )
    postings = scat.read_table(spark, "postings")
    part = F.pmod(F.col("doc_id"), F.lit(n_parts)).cast("int")
    seg = "reindex-base"
    tables = {
        "postings": [_write_postings(dcat, seg, n_parts, _encode(
            spark, _decoded(postings).withColumn("doc_part", part), block_size))],
        "doc_map": [dcat.write_segment(scat.live_doc_map(spark, m).withColumn(
            "doc_part", part).withColumn("seg", F.lit(seg)), "doc_map", seg)],
        "dictionary": [dcat.write_segment(scat.read_dictionary(spark, snapshot=m),
                                          "dictionary", seg, sort_within_by=["term"])],
    }
    stats = _snapshot_stats(scat, m)
    dcat.publish(tables, meta={
        "build_id": seg, "n_shards": 1, "n_parts": n_parts,
        "with_positions": (m.get("meta") or {}).get(
            "with_positions", "positions" in postings.columns),
        "stats": _stats_doc(dcat, stats["n_docs"], stats["sum_dl"], n_parts, block_size)})


def split_index(spark: SparkSession, src_root: str, dst_root: str,
                factor: int = 2, block_size: int = 128) -> int:
    """ES ``_split``: multiply the shard count by an integer ``factor``
    (the ES rule — a split target must be a multiple of the source).
    Implemented as a relayout through reindex: doc_part = pmod(doc_id,
    n_parts) keeps every routing invariant intact at the new width, and
    df/cf/dl are relayout-invariant, so queries stay rank-identical.
    Returns the new n_parts."""
    if factor < 2:
        raise ValueError("_split factor must be an integer >= 2")
    m = Catalog(src_root).read_manifest()
    n_parts = int((m.get("meta") or {}).get("n_parts", 8))
    new_parts = n_parts * int(factor)
    reindex(spark, src_root, dst_root, n_parts=new_parts,
            block_size=block_size)
    return new_parts


def shrink_index(spark: SparkSession, src_root: str, dst_root: str,
                 factor: int = 2, block_size: int = 128) -> int:
    """ES ``_shrink``: divide the shard count by an integer ``factor``
    (ES requires the source count to be a multiple of the target).
    Same relayout path as split_index. Returns the new n_parts."""
    m = Catalog(src_root).read_manifest()
    n_parts = int((m.get("meta") or {}).get("n_parts", 8))
    if factor < 2 or n_parts % int(factor) != 0:
        raise ValueError(
            f"_shrink needs an integer factor dividing n_parts={n_parts}")
    new_parts = n_parts // int(factor)
    reindex(spark, src_root, dst_root, n_parts=new_parts,
            block_size=block_size)
    return new_parts


def write_bucketed(df: DataFrame, table: str, col: str = "doc_id",
                   buckets: int = 8) -> None:
    """Persist a DataFrame as a BUCKETED + sorted managed table: rows are
    hash-distributed into ``buckets`` files per partition by ``col`` at
    write time, so equi-joins and aggregations on ``col`` between tables
    bucketed the same way read PRE-SHUFFLED data — Catalyst drops the
    Exchange entirely (plan-asserted in
    test_bucketed_join_skips_exchange). This is the vanilla-Spark
    rendering of Iceberg bucket partition transforms (the reference's
    Iceberg table layout, /root/reference README.md deployment notes):
    at 100 TB the doc-keyed side tables (features, labels, embeddings)
    are written once bucketed by doc_id and every downstream join against
    them is co-located — the shuffle is paid at write time, once, instead
    of per query."""
    (df.write.mode("overwrite").bucketBy(buckets, col).sortBy(col)
       .format("parquet").saveAsTable(table))


def clone_index(src_root: str, dst_root: str) -> str:
    """ES ``_clone``: a ZERO-COPY clone of a published index — every
    segment file is HARDLINKED into the destination root (no data bytes
    move; ES clones shards the same way, by hardlinking Lucene segment
    files) and a fresh manifest is published over the linked dirs. Because
    segments are immutable and every maintenance path writes NEW
    uniquely-named segment dirs, source and clone are fully independent
    afterwards: deletes/appends/compactions/expiry on either side unlink
    only that side's directory entries, and a shared inode is freed when
    its last link drops. The clone starts with fresh history (ES parity:
    a cloned index has no snapshots of its source).

    Sidecar jsons (stats, routing, aliases, checkpoints) are byte-copied
    (they are mutable — a later alias edit must not write through).
    Local-scheme roots only: an object store has no hardlinks, so a cloud
    clone is a server-side copy job behind the same catalog seam.
    Returns the clone's snapshot id."""
    import os
    import shutil

    from .catalog import _is_local, _local_path

    if not (_is_local(src_root) and _is_local(dst_root)):
        raise ValueError(
            "clone_index is hardlink-based (local roots only); clone "
            "object-store indexes with a server-side copy")
    scat, dcat = Catalog(src_root), Catalog(dst_root)
    m = scat.read_manifest()
    if not m.get("snapshot_id"):
        raise FileNotFoundError(f"{src_root} has no published snapshot")
    if dcat.read_manifest().get("snapshot_id"):
        raise ValueError(f"{dst_root} already holds a published index")
    sroot, droot = _local_path(src_root), _local_path(dst_root)
    tables: dict[str, list[str]] = {}
    for name, dirs in m["tables"].items():
        new_dirs = []
        for d in dirs:
            sd = _local_path(d)
            dd = os.path.join(droot, os.path.relpath(sd, sroot))
            for cur, _sub, files in os.walk(sd):
                tgt = os.path.join(dd, os.path.relpath(cur, sd))
                os.makedirs(tgt, exist_ok=True)
                for fn in files:
                    os.link(os.path.join(cur, fn), os.path.join(tgt, fn))
            new_dirs.append(dd)
        tables[name] = new_dirs
    for fn in os.listdir(sroot):
        if fn.endswith(".json") and fn != "_manifest.json":
            shutil.copy2(os.path.join(sroot, fn), os.path.join(droot, fn))
    return dcat.publish(tables, meta=m.get("meta"))
