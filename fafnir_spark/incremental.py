"""Incremental index maintenance: append, delete, upsert, metadata merge.

Reference semantics being re-expressed:
 * tripadvisor2mimir pass 1 inserts docs, passes 2-3 apply point updates
   keyed by document id (UpdateOperation::Set — /root/reference
   src/bin/tripadvisor2mimir.rs:112-165), then publish() atomically swaps
   the index (:172-176).
 * openmaptiles2mimir skips recomputation when the prior index is newer
   (try_skip_reverse, src/mimir.rs:17-27; reuse-unless-moved,
   src/addresses.rs:274-295).

Engine translation (Lucene/ES-faithful, since ES is the reference's actual
index backend):
 * One read-modify-commit (``_commit``) serves append, upsert, point
   delete and a CDC micro-batch: one snapshot read (its stats from the
   manifest, never the mutable stats json), one live-id join, deletes
   applied last, then ONE publish CAS'd against that snapshot — a reader
   sees the old snapshot or the new one, nothing in between.
   compact_with_tombstones is one commit too (build.compact_index).
 * append_index: new docs → one more immutable segment set; the global
   dictionary/stats are re-merged from per-segment raws; publish.
 * delete_docs: tombstones. Queries filter tombstoned doc_ids at decode
   time; like ES, deleted docs still count in df/avgdl until a compaction
   physically drops them and recomputes exact stats.
 * upsert_docs: STABLE-id replace, one commit. The old version is
   tombstoned with keep_seg=<new segment>, and the new content is indexed
   under the SAME doc_id in that segment — decode drops the id from every
   segment except keep_seg, so exactly one version is live. Re-upsert
   overwrites the tombstone (last-write-wins by doc_id) and a later delete
   kills all versions. This matches the reference's update-by-stable-id.
 * update_doc_meta: MERGE INTO over doc_map (field-level Set, the photos/
   reviews property updates) — copy-on-write at SEGMENT granularity: only
   doc_map segments containing touched ids are rewritten; postings are
   untouched (metadata is not indexed text).

Every written segment name is unique (a uuid suffix, or a caller's name
that the commit refuses once any snapshot has published it): segments
referenced by the current or any historical manifest are immutable, so time
travel stays valid across maintenance operations.
"""

from __future__ import annotations

import uuid
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .build import (
    _stats_doc,
    _tokenize,
    _write_dictionary,
    _write_segment_pair,
    compact_index,
)
from .catalog import Catalog

TOMBSTONE_TABLE = "tombstones"


def _tombstone_segment(
    spark: SparkSession, cat: Catalog, merged: dict[int, str | None]
) -> str:
    """Write the full merged tombstone set as a fresh uniquely-named segment
    and return its directory (caller includes it in a publish)."""
    df = spark.createDataFrame(
        [(int(i), merged[i]) for i in sorted(merged)], "doc_id long, keep_seg string"
    )
    seg = f"ts-{uuid.uuid4().hex[:8]}"
    cat.write_segment(df.coalesce(1), TOMBSTONE_TABLE, seg)
    return cat.segment_dir(TOMBSTONE_TABLE, seg)


def _referenced(m: dict) -> set[tuple[str, str]]:
    """(table, segment dir name) of every segment the snapshot ``m`` or its
    history references — matched by name, immune to path normalization
    differences."""
    return {(t, d.rstrip("/").rsplit("/", 1)[-1])
            for snap in [m, *m.get("history", [])]
            for t, dirs in (snap.get("tables") or {}).items() for d in dirs}


def _require_unrouted(cat: Catalog, op: str) -> None:
    """Ops whose relational plumbing derives doc_part = pmod(doc_id,
    n_parts) refuse custom-routed layouts: the bulk-tombstone cogroup
    would pair dead ids against the WRONG route's partition (silently
    missing the delete). Point-scoped maintenance (append/upsert/point
    delete/meta update) is routing-aware and allowed."""
    if cat.read_json("routing") is not None:
        raise ValueError(
            f"{op} on a custom-routed index is not supported (its doc_part "
            "derivation is pmod-based and would target the wrong route); "
            "use point deletes, or rebuild with build_index(routing_col=...)")


def _claim(spark: SparkSession, cat: Catalog, m: dict, ts, tokenized: DataFrame,
           segment: str, upsert: bool) -> dict[int, str]:
    """THE live-id join of an append or upsert: one pass over snapshot
    ``m``'s live doc_map, its point tombstones ``ts`` and its bulk set,
    semi-joined to the new ids (broadcast). A live id collides with an
    append and is replaced by an upsert; a point-tombstoned id is
    resurrected; a bulk-dead id is refused. Returns the tombstones the
    write re-points at ``segment`` — so the version written there is the
    one decode keeps."""
    from .wand import _load_bulk_df

    states = [cat.live_doc_map(spark, m).select("doc_id", F.lit("live").alias("state"))]
    if len(ts):
        states.append(spark.createDataFrame([(int(i), "dead") for i in ts.ids],
                                            "doc_id long, state string"))
    bulk = _load_bulk_df(spark, cat, m)
    if bulk is not None:
        states.append(bulk.withColumn("state", F.lit("bulk")))
    hits: dict[str, set[int]] = {"live": set(), "dead": set(), "bulk": set()}
    for r in reduce(DataFrame.unionByName, states).join(
            F.broadcast(tokenized.select("doc_id")), "doc_id", "left_semi").collect():
        hits[r["state"]].add(int(r["doc_id"]))
    if hits["live"] and not upsert:
        raise ValueError(
            f"append would collide with {len(hits['live'])} live doc_ids; use upsert_docs")
    # bulk tombstones are GLOBAL kills (no keep_seg re-pointing): an id in
    # the bulk set would stay dead after this write — reject until a
    # compaction drains the table
    if hits["bulk"]:
        raise ValueError(
            "append includes ids in the bulk tombstone set; run "
            "compact_with_tombstones first to resurrect them")
    claimed = hits["live"] | hits["dead"]
    # design envelope: upserts are POINT updates (the reference's update
    # passes are keyed single-document Sets) — the tombstone set is
    # driver-resident and shipped in scorer closures, so a bulk replacement
    # must go through a rebuild (or append under new ids) instead
    if upsert and len(claimed) > 100_000:
        raise ValueError(
            "upsert_docs is the point-update path (tombstones are "
            "driver-resident); rebuild or append for bulk replacement")
    return dict.fromkeys(claimed, segment)


def _commit(spark: SparkSession, index_root: str, docs: DataFrame | None = None,
            segment: str | None = None, tokenizer: str = "code", upsert: bool = False,
            deletes=()) -> None:
    """THE read-modify-commit of point maintenance (append, upsert, point
    delete, a CDC micro-batch) — fafnir's insert → keyed update → publish
    (/root/reference src/bin/tripadvisor2mimir.rs:112-176):

    1. read ONE snapshot: tables and stats (wand._open), point tombstones
       (wand._load_tombstones);
    2. tokenize ``docs`` once and run the one live-id join (``_claim``);
    3. merge ``deletes`` last, so a delete wins;
    4. write the doc_map, postings, dictionary and tombstone segments;
    5. publish ONCE, CAS'd against that snapshot.

    Every check raises before the first write, and a failure anywhere
    before the publish leaves the snapshot as it was. ``segment`` must be
    a name no snapshot has published (segments are immutable); an
    unpublished leftover of a crashed write is overwritten."""
    from .wand import _load_tombstones, _open

    cat, m, stats = _open(index_root, None)
    n_parts, block_size = stats["n_parts"], stats["block_size"]
    ts = _load_tombstones(spark, cat, m, envelope=False)
    current = dict(zip(ts.ids.tolist(), ts.keeps.tolist()))
    tables, meta, updates = dict(m["tables"]), m.get("meta"), {}
    if docs is not None:
        if {("doc_map", f"seg={segment}"), ("postings", f"seg={segment}")} & _referenced(m):
            raise ValueError(
                f"segment {segment!r} is already published in this index or its "
                "history; published segments are immutable — pick a new name")
        # routed layout (ES writes-with-routing): re-derive the routed
        # doc_part from the stored routing json so appended segments stay
        # tenant-pure. The route set is fixed at build (an ES shard count):
        # unknown or null routing values are rejected, never silently
        # hashed into a new range.
        rt = cat.read_json("routing")
        if rt is not None:
            rcol = rt["routing_col"]
            if rcol not in docs.columns:
                raise ValueError(
                    f"routed index: appended docs must carry the routing "
                    f"column {rcol!r}")
            vals = [r[0] for r in docs.select(rcol).distinct().collect()]
            unknown = sorted(str(v) for v in vals if v not in rt["routes"])
            if unknown:
                raise ValueError(
                    f"routed index: unknown routing value(s) {unknown} — the "
                    "route set is fixed at build time (rebuild to add routes)")
        # positional indexes must stay positional across appends
        with_pos = bool((meta or {}).get("with_positions"))
        with _tokenize(docs, tokenizer, n_parts, with_pos, rt) as tokenized:
            updates = _claim(spark, cat, m, ts, tokenized, segment, upsert)
            _write_segment_pair(spark, cat, tokenized, segment, block_size, n_parts)

        # per-segment dictionary, merged AT READ (Lucene shape): df and cf
        # are ADDITIVE across segments (tombstone adjustment waits for
        # compaction, ES-faithful stale df), so the write publishes ONLY the
        # new segment's (term, df, cf) — O(new-segment vocab) bytes written,
        # never a rewrite of the global dictionary. Readers aggregate via
        # Catalog.read_dictionary; compaction folds segments back to one.
        new_post, new_dm = cat.segment_dir("postings", segment), cat.segment_dir("doc_map", segment)
        tables["doc_map"] = tables["doc_map"] + [new_dm]
        tables["postings"] = tables["postings"] + [new_post]
        tables["dictionary"] = tables["dictionary"] + [_write_dictionary(
            cat, cat.read_segments(spark, [new_post]), f"seg-{segment}-{uuid.uuid4().hex[:6]}")]

        # stats merge is additive too, from the snapshot's own stats: count +
        # exact integer dl-sum of the NEW doc_map segment only; avgdl =
        # sum_dl/n_docs. Legacy stats without sum_dl seed it with one scan
        # of the prior doc_map (dl column only), then stay additive forever.
        new_agg = cat.read_segments(spark, [new_dm]).agg(
            F.count(F.lit(1)).alias("n"), F.sum("dl").alias("sum_dl")
        ).collect()[0]
        old_sum = stats.get("sum_dl")
        if old_sum is None:
            old_sum = cat.read_segments(spark, m["tables"]["doc_map"]).agg(
                F.sum("dl")).collect()[0][0] or 0
        n_docs = int(stats["n_docs"]) + int(new_agg["n"])
        sum_dl = int(old_sum) + int(new_agg["sum_dl"] or 0)
    updates.update(dict.fromkeys(map(int, deletes)))
    if any(i not in current or current[i] != k for i, k in updates.items()):
        tables[TOMBSTONE_TABLE] = [_tombstone_segment(spark, cat, {**current, **updates})]
    if docs is not None:  # the stats json mirror is written last, by _stats_doc
        meta = {**(meta or {}), "stats": _stats_doc(cat, n_docs, sum_dl, n_parts, block_size)}
    cat.publish(tables, meta=meta, expected_snapshot=m.get("snapshot_id"))


def append_index(
    spark: SparkSession,
    new_docs: DataFrame,
    index_root: str,
    segment: str,
    tokenizer: str = "code",
) -> None:
    """Index new documents as one additional immutable segment set.

    ``new_docs``: normalize_docs() output. doc_ids must not collide with
    LIVE docs (checked against the tombstone-aware doc_map). Appending an
    id that was previously deleted (or upserted away) re-points its
    tombstone at this segment, resurrecting the id with the new content.
    n_parts/block_size come from the snapshot's stats so routing stays
    consistent. ``segment`` must be a name this index never published.
    """
    _commit(spark, index_root, new_docs, segment, tokenizer)


def delete_docs(spark: SparkSession, index_root: str, doc_ids: list[int]) -> None:
    """Tombstone documents (keep_seg=None: dead in EVERY segment, including
    any upserted versions). Results exclude them immediately; df/avgdl stay
    stale (ES-faithful) until compact_with_tombstones().

    This is the POINT-delete path: ids ship in scorer closures (zero extra
    shuffle), right up to ~100k ids. For mass deletes use
    delete_docs_bulk."""
    _commit(spark, index_root, deletes=doc_ids)


def delete_docs_bulk(spark: SparkSession, index_root: str, doc_ids: DataFrame) -> None:
    """Mass-delete path (GDPR purge, whole-repo removal): tombstones as a
    TABLE, never materialized on the driver. ``doc_ids``: DataFrame with a
    doc_id column.

    Crossover vs delete_docs: the closure path is cheaper per query (no
    extra shuffle input) but driver-resident; the bulk table costs one
    doc_part-cogroup of the tombstone relation per query (run_queries) or
    an anti-join (live_doc_map) and scales to any size. Like all
    tombstones, df/avgdl stay stale (ES-faithful) until
    compact_with_tombstones(), which drains the table with a distributed
    anti-join during the merge."""
    from .wand import BULK_TOMBSTONE_TABLE

    cat = Catalog(index_root)
    _require_unrouted(cat, "delete_docs_bulk")
    m = cat.read_manifest()
    seg = f"bts-{uuid.uuid4().hex[:8]}"
    cat.write_segment(doc_ids.select("doc_id").distinct(), BULK_TOMBSTONE_TABLE, seg)
    tables = dict(m["tables"])
    tables[BULK_TOMBSTONE_TABLE] = tables.get(BULK_TOMBSTONE_TABLE, []) + [
        cat.segment_dir(BULK_TOMBSTONE_TABLE, seg)
    ]
    cat.publish(tables, meta=m.get("meta"),
                expected_snapshot=m.get("snapshot_id"))


def upsert_docs(
    spark: SparkSession,
    docs_new: DataFrame,
    index_root: str,
    segment: str,
    tokenizer: str = "code",
) -> None:
    """Replace (or insert) documents by STABLE doc_id, in one commit.

    Live old versions are tombstoned with keep_seg=``segment`` and the new
    content is indexed under the SAME doc_id inside ``segment`` — the
    reference's UpdateOperation::Set keyed by stable document id
    (/root/reference src/bin/tripadvisor2mimir.rs:112-165). Queries return
    the id the caller supplied; a later delete_docs(id) removes the doc
    entirely (the tombstone merge is last-write-wins). At most 100k ids
    per call may be replaced or resurrected (the point-update envelope).
    """
    _commit(spark, index_root, docs_new, segment, tokenizer, upsert=True)


def update_doc_meta(spark: SparkSession, index_root: str, updates: DataFrame) -> None:
    """MERGE INTO doc_map: field-level Set updates keyed by doc_id
    (fafnir's UpdateOperation::Set on properties). ``updates`` columns
    beyond doc_id overwrite matching doc_map columns when non-null.

    Copy-on-write at segment granularity: only doc_map segments that
    contain a touched id are rewritten (to fresh uniquely-named segments);
    untouched segment files stay byte-identical, so a point update at 10^12
    docs rewrites one segment, not the table, and historical snapshots keep
    pointing at valid immutable dirs."""
    cat = Catalog(index_root)
    m = cat.read_manifest()
    upd_cols = [c for c in updates.columns if c != "doc_id"]
    rt = cat.read_json("routing")
    if rt is not None and rt["routing_col"] in upd_cols:
        raise ValueError(
            f"cannot update routing column {rt['routing_col']!r} in place — "
            "a doc's routing decides its physical partition (ES parity: "
            "_routing is immutable); delete + re-append under the new route")
    u = updates.select("doc_id", *[F.col(c).alias(f"__u_{c}") for c in upd_cols])
    ids = updates.select("doc_id")
    new_dirs: list[str] = []
    for d in m["tables"]["doc_map"]:
        seg_df = cat.read_segments(spark, [d])
        touched = seg_df.join(F.broadcast(ids), "doc_id", "left_semi").limit(1).count()
        if not touched:
            new_dirs.append(d)
            continue
        merged = seg_df.join(F.broadcast(u), "doc_id", "left")
        for c in upd_cols:
            merged = merged.withColumn(c, F.coalesce(F.col(f"__u_{c}"), F.col(c)))
        merged = merged.drop(*[f"__u_{c}" for c in upd_cols])
        seg = f"meta-{uuid.uuid4().hex[:8]}"
        cat.write_segment(merged, "doc_map", seg)
        new_dirs.append(cat.segment_dir("doc_map", seg))
    tables = dict(m["tables"])
    tables["doc_map"] = new_dirs
    cat.publish(tables, meta=m.get("meta"),
                expected_snapshot=m.get("snapshot_id"))


def compact_with_tombstones(spark: SparkSession, index_root: str) -> None:
    """Physically drop tombstoned docs, force-merge posting runs
    (the reference's force_merge, S11), recompute exact dictionary/stats —
    one compact_index commit over the current snapshot.

    keep_seg-aware: an upserted doc's live version (row seg == keep_seg)
    survives; every other tombstoned row is dropped. Point tombstones AND
    the bulk (mass-delete) tombstone table are drained in the same pass —
    bulk ids via a distributed anti-join inside the merge, never collected
    to the driver."""
    from .wand import _open

    cat, m, stats = _open(index_root, None)
    compact_index(spark, cat, stats["block_size"], m)


def maybe_compact(spark: SparkSession, index_root: str, max_segments: int = 8) -> bool:
    """Auto force-merge policy: compact when the postings table has grown
    past ``max_segments`` segment dirs (streaming/append churn) — the
    background-merge trigger every real deployment runs. Returns whether a
    compaction happened."""
    cat = Catalog(index_root)
    m = cat.read_manifest()
    if len(m["tables"].get("postings", [])) <= max_segments:
        return False
    compact_with_tombstones(spark, index_root)
    return True


def expire_snapshots(spark: SparkSession, index_root: str, keep_last: int = 3) -> dict:
    """Iceberg expire_snapshots analog: trim manifest history to the last
    ``keep_last`` snapshots and delete segment directories referenced ONLY
    by expired ones. Crash-safe order: the manifest stops referencing the
    dirs BEFORE anything is deleted, so a crash mid-delete leaves orphan
    files, never dangling references. Deletes go through the catalog's
    scheme-aware delete (Hadoop FileSystem on object stores). Returns
    counts."""
    cat = Catalog(index_root)
    m = cat.read_manifest()
    hist = m.get("history", [])
    keep_hist = hist[len(hist) - keep_last:] if keep_last else []
    expired = hist[: len(hist) - keep_last] if keep_last else list(hist)
    if not expired:
        return {"kept": len(keep_hist), "expired": 0, "deleted_dirs": 0}
    live_dirs: set[str] = set()
    for snap in [m, *keep_hist]:
        for dirs in (snap.get("tables") or {}).values():
            live_dirs.update(dirs)
    dead_dirs: set[str] = set()
    for snap in expired:
        for dirs in (snap.get("tables") or {}).values():
            dead_dirs.update(d for d in dirs if d not in live_dirs)
    cat.rewrite_history(keep_hist)
    for d in sorted(dead_dirs):
        cat.delete_dir(d)
    return {"kept": len(keep_hist), "expired": len(expired), "deleted_dirs": len(dead_dirs)}


def snapshot_diff(
    spark: SparkSession,
    index_root: str,
    from_snapshot: str | None,
    to_snapshot: str | None = None,
) -> DataFrame:
    """Iceberg changelog analog: (change, doc_id) between two published
    snapshots — 'added' = live at ``to`` but not ``from``; 'removed' =
    the reverse. Pure anti-joins of the two snapshots' LIVE doc_maps
    (tombstone- and bulk-aware via live_doc_map); postings are never
    touched. An upserted doc (same stable id, new content) is in neither
    set — identity diff, not content diff (pair with content_sha256 for
    that). Ordered (change, doc_id)."""
    cat = Catalog(index_root)
    a = cat.live_doc_map(spark, cat.manifest_at(from_snapshot)).select("doc_id")
    b = cat.live_doc_map(spark, cat.manifest_at(to_snapshot)).select("doc_id")
    added = b.join(a, "doc_id", "left_anti").select(
        F.lit("added").alias("change"), "doc_id"
    )
    removed = a.join(b, "doc_id", "left_anti").select(
        F.lit("removed").alias("change"), "doc_id"
    )
    return added.unionByName(removed).orderBy("change", "doc_id")


def remove_orphan_segments(
    spark: SparkSession,
    index_root: str,
    older_than_s: float = 3600.0,
    now_s: float | None = None,
) -> dict:
    """Iceberg remove_orphan_files analog: delete segment directories on
    STORAGE that no snapshot (current or historical) references. publish()
    is atomic but segment writes are not — a crashed or abandoned writer
    leaves fully- or partially-written ``seg=*`` dirs behind that
    expire_snapshots can never reclaim (it only walks manifests).

    Age guard (the Iceberg ``older_than`` contract): only orphans whose
    mtime is at least ``older_than_s`` old are deleted, so a CONCURRENT
    writer's in-flight segment is never swept. Matching is by
    (table, segment-dir name), immune to path normalization differences.
    ``now_s`` is injectable for tests. Returns counts."""
    import time

    cat = Catalog(index_root)
    m = cat.read_manifest()
    now = time.time() if now_s is None else now_s
    referenced = _referenced(m)
    deleted = scanned = 0
    for tname in cat.list_tables():
        for path, mtime in cat.list_segment_dirs(tname):
            scanned += 1
            seg_name = path.rstrip("/").rsplit("/", 1)[-1]
            if (tname, seg_name) in referenced:
                continue
            if now - mtime < older_than_s:
                continue
            cat.delete_dir(path)
            deleted += 1
    return {"scanned": scanned, "deleted_dirs": deleted,
            "referenced": len(referenced)}


def rollback_to(spark: SparkSession, index_root: str, snapshot_id: str) -> str:
    """ES snapshot-restore / Iceberg rollback: republish an earlier
    snapshot's tables+meta as the NEW current snapshot (a forward commit —
    history is never rewritten, so the rolled-back-from state stays
    time-travelable until expire_snapshots trims it). CAS-guarded against
    interleaved writers. Returns the new snapshot id."""
    cat = Catalog(index_root)
    cur = cat.read_manifest()
    target = cat.manifest_at(snapshot_id)
    return cat.publish(
        dict(target["tables"]), meta=target.get("meta"),
        expected_snapshot=cur.get("snapshot_id"),
    )


def update_by_query(
    spark: SparkSession,
    index_root: str,
    corpus: DataFrame,
    match_terms: list[str],
    transform,
    segment: str,
    tokenizer: str = "whitespace",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> int:
    """ES _update_by_query: select documents with a (conjunctive) query,
    apply ``transform`` (DataFrame -> DataFrame, same schema), and reindex
    ONLY the changed rows through the stable-id upsert path — old versions
    are tombstoned, the new content lands in ``segment``, snapshot/CAS
    semantics hold and the rest of the index is untouched.

    Scale shape: selection + transform are ONE filtered pass over the doc
    store (row-local array_contains eligibility — no index round-trip
    needed since the text must be read anyway); re-encode cost is
    O(matched), the CoW discipline a 100 TB index needs (never a rebuild
    for a point-set update). Inherits upsert_docs' point-update envelope
    (<= 100k changed docs per call). Returns the matched-document count
    (the ES ``updated`` reply)."""
    from functools import reduce

    from .build import normalize_docs
    from .tokenizer import tokens_expr

    toks = tokens_expr(text_col)
    cond = reduce(lambda a, b: a & b,
                  [F.array_contains(toks, t) for t in match_terms])
    # the ES 'updated' reply counts MATCHED docs — measure it on the match
    # set, not on transform's output (a transform that filters/duplicates
    # rows would otherwise skew the count and the upsert envelope)
    matched = corpus.filter(cond)
    n = int(matched.count())
    if n:
        upsert_docs(
            spark,
            normalize_docs(transform(matched), id_col=id_col, text_col=text_col),
            index_root, segment=segment, tokenizer=tokenizer,
        )
    return n


def rollover_generations(base_root: str) -> list[str]:
    """Sorted generation roots under an ILM rollover index (local-FS
    listing; catalog.py's scheme-aware IO is the seam for object
    stores)."""
    import os

    if not os.path.isdir(base_root):
        return []
    return [
        os.path.join(base_root, d)
        for d in sorted(os.listdir(base_root))
        if d.startswith("gen-")
    ]


def rollover_write(
    spark: SparkSession,
    base_root: str,
    docs: DataFrame,
    max_docs_per_gen: int,
    tokenizer: str = "whitespace",
    n_parts: int = 4,
    block_size: int = 128,
) -> str:
    """ES ILM rollover: ingest lands in the NEWEST generation until its
    live doc count crosses ``max_docs_per_gen``, then the generation is
    sealed and the next batch opens gen N+1 (a fresh index root). Sealed
    generations are never rewritten — the Lucene/ES rollover shape that
    keeps per-index segment counts and merge pressure bounded no matter
    how long the feed runs; deletes stay tombstone-local to their
    generation and search goes through the union alias
    (rollover_search == single-corpus BM25, dfs_query_then_fetch).
    The rollover condition is checked at batch boundaries (as ES does on
    its periodic condition poll). Returns the generation root written."""
    import os

    from .build import build_index

    from .wand import _open

    gens = rollover_generations(base_root)
    if gens:
        cur = gens[-1]
        if int(_open(cur, None)[2]["n_docs"]) < max_docs_per_gen:
            append_index(spark, docs, cur, segment=f"roll-{uuid.uuid4().hex[:8]}",
                         tokenizer=tokenizer)
            return cur
    nxt = os.path.join(base_root, f"gen-{len(gens) + 1:06d}")
    build_index(spark, docs, nxt, n_parts=n_parts, block_size=block_size,
                tokenizer=tokenizer, build_id=f"gen{len(gens) + 1}")
    return nxt


def rollover_search(
    spark: SparkSession,
    base_root: str,
    queries: dict[str, list[str]],
    k: int = 10,
) -> DataFrame:
    """Search the rollover alias: all generations with merged global
    statistics — identical to one index holding the union corpus."""
    from .federate import search_federated

    return search_federated(spark, rollover_generations(base_root), queries, k=k)


def follow_index(leader_root: str, follower_root: str) -> dict:
    """ES cross-cluster replication (CCR), one follow/sync cycle: make
    ``follower_root`` a self-contained replica of the leader's CURRENT
    snapshot. Segments are immutable, so replication is copy-once — a
    re-sync after leader appends copies ONLY the new segment dirs (the
    tombstone/bulk tables ride the same generic loop); json sidecars
    (stats/aliases/routing/checkpoints) mirror wholesale; the follower
    manifest is CAS-published with the leader's meta + a ``ccr`` stamp,
    so follower time travel and conflict detection work exactly as on a
    primary. Queries on the follower are rank-identical to the leader
    (same segments, same merged dictionary).

    Scale shape: pure metadata + segment-dir copies — no Spark job, no
    decode; cost is bytes-of-new-segments, independent of corpus size
    already replicated. Local-scheme copy (shutil); on object stores the
    same protocol runs over the FileSystem API — catalog.py is the seam
    (the Iceberg-jar note in CLAUDE.md).

    Returns {"copied", "skipped", "leader_snapshot"}."""
    import os
    import shutil

    from .catalog import _is_local

    if not (_is_local(leader_root) and _is_local(follower_root)):
        raise NotImplementedError(
            "follow_index copies via shutil — object-store roots need the "
            "FileSystem-API copy (catalog.py seam)")
    lcat, fcat = Catalog(leader_root), Catalog(follower_root)
    lm = lcat.read_manifest()
    if lm["snapshot_id"] is None:
        raise ValueError(f"leader {leader_root} has no published snapshot")
    fm = fcat.read_manifest()
    copied = skipped = 0
    tables: dict[str, list[str]] = {}
    for t, dirs in lm["tables"].items():
        new_dirs = []
        for d in dirs:
            rel = os.path.relpath(d, leader_root)
            if rel.startswith(".."):
                raise ValueError(f"segment {d} lies outside leader root")
            dst = os.path.join(follower_root, rel)
            if not os.path.exists(dst):
                shutil.copytree(d, dst)
                copied += 1
            else:
                skipped += 1
            new_dirs.append(dst)
        tables[t] = new_dirs
    for j in ("stats", "aliases", "routing", "checkpoints"):
        obj = lcat.read_json(j)
        if obj is not None:
            fcat.write_json(j, obj)
    meta = dict(lm.get("meta") or {})
    meta["ccr"] = {"leader": leader_root,
                   "leader_snapshot": lm["snapshot_id"]}
    fcat.publish(tables, meta=meta,
                 expected_snapshot=fm.get("snapshot_id"))
    return {"copied": copied, "skipped": skipped,
            "leader_snapshot": lm["snapshot_id"]}
