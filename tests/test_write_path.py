"""The index write path end to end.

* Maintenance converges to a cold build: appends, bulk and point deletes
  and an upsert, then compact_with_tombstones, leave byte-identical
  posting blocks, the same dictionary and the same corpus stats as one
  build_index of the live corpus.
* Every op publishes exactly one snapshot, CAS'd against the snapshot it
  read, and submits a pinned number of Spark jobs.
* A crash at any segment write of an append, an upsert, a point delete or
  a compaction publishes nothing and keeps nothing cached, and re-running
  the op converges to the clean run.
* Faults of the old multi-commit protocol stay fixed: an append after a
  rollback counts the snapshot's docs, an upsert that must fail changes
  nothing, and rollover appends never reuse a segment name."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fafnir_spark.build import build_index, clone_index, normalize_docs, reindex
from fafnir_spark.catalog import Catalog
from fafnir_spark.incremental import (
    append_index,
    compact_with_tombstones,
    delete_docs,
    delete_docs_bulk,
    rollback_to,
    rollover_write,
    upsert_docs,
)
from fafnir_spark.wand import run_queries
from tests.conftest import SF_DIR
from tests.test_plans_and_invariants import _jobs_of

KW = {"n_parts": 4, "block_size": 32, "tokenizer": "whitespace"}
BLOCK_COLS = ("term", "doc_part", "block_id", "n", "first_doc", "last_doc", "max_tf",
              "min_dl", "max_weight", "doc_ids", "tfs", "dls", "weights")
Q = {"q": ["merge", "window", "customer"], "r": ["spark"], "u": ["zzupsert"]}
ZZ = "zzupsert merge window merge"


def _docs(spark):
    return normalize_docs(spark.read.parquet(f"{SF_DIR}/documents.parquet"),
                          id_col="doc_id", text_col="text")


def _fifth(i):
    return F.pmod(F.col("doc_id"), F.lit(5)) == i


def _blocks(spark, root):
    post = Catalog(root).read_table(spark, "postings")
    cols = BLOCK_COLS + (("positions",) if "positions" in post.columns else ())
    return sorted(tuple(r) for r in post.select(*cols).collect())


def _dictionary(spark, root):
    return sorted(tuple(r) for r in Catalog(root).read_dictionary(spark).collect())


def _stats(root):
    st = Catalog(root).read_manifest()["meta"]["stats"]
    return {k: st[k] for k in ("n_docs", "sum_dl", "avgdl")}


def _snapshot(root):
    return Catalog(root).read_manifest()["snapshot_id"]


def _counted(spark, group, root, action):
    """(Spark jobs of ``action()``, its Catalog.publish calls, whether
    every one was CAS'd against the snapshot ``root`` held before)."""
    before = _snapshot(root)
    cas = []
    orig = Catalog.publish

    def publish(self, *a, **kw):
        cas.append(kw.get("expected_snapshot", Catalog._UNSET) == before)
        return orig(self, *a, **kw)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(Catalog, "publish", publish)
        jobs = _jobs_of(spark, group, action)
    return jobs, len(cas), all(cas)


@pytest.fixture(scope="module", params=[False, True], ids=["plain", "positions"])
def maintained(request, spark, tmp_path_factory):
    """A base of 1/5 of the corpus grown by four appends, a bulk delete, a
    point delete and an upsert, then compacted (each step's job and
    publish counts recorded); a cold build of the live corpus; a reindex
    of the compacted index."""
    pos = request.param
    tmp = tmp_path_factory.mktemp("writepath")
    root, cold = str(tmp / "maintained"), str(tmp / "cold")
    docs = _docs(spark)
    doc_id = F.col("doc_id")
    tenth = F.pmod(doc_id, F.lit(10))
    runs = {"build": _counted(spark, "wp_build", root, lambda: build_index(
        spark, docs.filter(_fifth(0)), root, build_id="b", with_positions=pos, **KW))}
    runs["append"] = [
        _counted(spark, f"wp_append_{i}", root, lambda i=i: append_index(
            spark, docs.filter(_fifth(i)), root, f"a{i}", "whitespace"))
        for i in range(1, 5)
    ]
    runs["bulk_delete"] = _counted(spark, "wp_bulk", root, lambda: delete_docs_bulk(
        spark, root, docs.filter(tenth == 9).select("doc_id")))
    ids = sorted(r["doc_id"] for r in docs.filter(tenth == 8).select("doc_id").collect())
    runs["point_delete"] = _counted(spark, "wp_point", root, lambda: delete_docs(
        spark, root, ids[:1]))
    upserted = docs.filter(doc_id == ids[1]).withColumn("content", F.lit(ZZ))
    runs["upsert"] = _counted(spark, "wp_upsert", root, lambda: upsert_docs(
        spark, upserted, root, "u1", "whitespace"))
    runs["compact"] = _counted(spark, "wp_compact", root, lambda: compact_with_tombstones(
        spark, root))
    live = docs.filter((tenth != 9) & ~doc_id.isin(ids[:2])).unionByName(upserted)
    build_index(spark, live, cold, build_id="c", with_positions=pos, **KW)
    runs["reindex"] = _counted(spark, "wp_reindex", root, lambda: reindex(
        spark, root, str(tmp / "reindexed"), n_parts=2, block_size=32))

    def pick(i):
        return {op: [r[i] for r in v] if isinstance(v, list) else v[i]
                for op, v in runs.items()}

    return {"root": root, "cold": cold, "pos": pos,
            "jobs": pick(0), "publishes": pick(1), "cas": pick(2)}


def test_maintenance_converges_to_a_cold_build(spark, maintained):
    root, cold = maintained["root"], maintained["cold"]
    got = _blocks(spark, root)
    assert got and got == _blocks(spark, cold)
    assert ("positions" in Catalog(root).read_table(spark, "postings").columns) \
        == maintained["pos"]
    assert _dictionary(spark, root) == _dictionary(spark, cold)
    assert _stats(root) == _stats(cold)


def test_every_op_publishes_one_snapshot(maintained):
    """One snapshot in, one publish out: every maintenance op commits once,
    CAS'd against the snapshot it read (the build and the reindex publish
    a fresh root, without a CAS)."""
    assert maintained["publishes"] == {
        "build": 1, "append": [1, 1, 1, 1], "bulk_delete": 1, "point_delete": 1,
        "upsert": 1, "compact": 1, "reindex": 1,
    }
    cas = maintained["cas"]
    assert all(cas["append"]) and all(
        cas[op] for op in ("bulk_delete", "point_delete", "upsert", "compact")), cas


def test_write_path_job_counts(maintained):
    """Jobs per write path on the test session (local[8], 8 shuffle
    partitions): an append costs the same from the 2nd segment to the
    5th; an upsert is an append plus the read of the tombstones it
    re-points."""
    if maintained["pos"]:
        pytest.skip("pinned on the plain index")
    assert maintained["jobs"] == {
        "build": 13, "append": [11, 11, 11, 11], "bulk_delete": 2,
        "point_delete": 1, "upsert": 19, "compact": 12, "reindex": 5,
    }


def _results(spark, root):
    return sorted(tuple(r) for r in run_queries(spark, root, Q, k=10).collect())


@pytest.fixture(scope="module", params=[False, True], ids=["plain", "positions"])
def base(request, spark, tmp_path_factory):
    """A build of 1/5 of the corpus and its eight best 'q' hits; tests
    clone it (hard links) instead of building again."""
    root = str(tmp_path_factory.mktemp("wpbase") / "base")
    build_index(spark, _docs(spark).filter(_fifth(0)), root, build_id="b",
                with_positions=request.param, **KW)
    hits = run_queries(spark, root, {"q": Q["q"]}, k=8).collect()
    return root, [int(r["doc_id"]) for r in hits]


def _crash_at(monkeypatch, table):
    """Make write_segment of ``table`` write one row of its segment and
    raise."""
    orig = Catalog.write_segment

    def crash(self, df, name, segment, **kw):
        if name == table:
            orig(self, df.limit(1), name, segment, **kw)
            raise RuntimeError(f"simulated crash writing {name}")
        return orig(self, df, name, segment, **kw)

    monkeypatch.setattr(Catalog, "write_segment", crash)
    return orig


def _crash_case(spark, op, hits):
    """(prepare, run, tables the run writes, ids deleted before it, ids
    deleted by it) of one op of the crash matrix over a clone of the base
    index."""
    docs = _docs(spark)

    def none(root):
        pass

    if op == "append":
        return none, lambda r: append_index(
            spark, docs.filter(_fifth(1)), r, "a1", "whitespace"), \
            ("doc_map", "postings", "dictionary"), set(), set()
    if op == "upsert":
        # replaces a live doc and inserts a new one
        new_id = docs.filter(_fifth(1)).agg(F.min("doc_id")).collect()[0][0]
        ups = docs.filter(F.col("doc_id").isin(hits[0], new_id)).withColumn(
            "content", F.lit(ZZ))
        return none, lambda r: upsert_docs(spark, ups, r, "u1", "whitespace"), \
            ("doc_map", "postings", "dictionary", "tombstones"), set(), set()
    if op == "point_delete":
        return none, lambda r: delete_docs(spark, r, hits[:5]), ("tombstones",), \
            set(), set(hits[:5])

    def prepare(root):  # compact: point deletes, an upsert and a bulk delete
        delete_docs(spark, root, hits[:4])
        upsert_docs(spark, docs.filter(F.col("doc_id") == hits[4]).withColumn(
            "content", F.lit(ZZ)), root, "u1", "whitespace")
        delete_docs_bulk(spark, root, docs.filter(F.col("doc_id").isin(hits[5:])).select(
            "doc_id"))

    return prepare, lambda r: compact_with_tombstones(spark, r), \
        ("doc_map", "postings", "dictionary"), set(hits[:4] + hits[5:]), set()


def _live(spark, root):
    return sorted(tuple(r) for r in Catalog(root).live_doc_map(spark).select(
        "doc_id", "seg", "dl", "content_sha256").collect())


@pytest.mark.parametrize("op,base", [
    ("append", False), ("append", True), ("upsert", False), ("point_delete", False),
    ("compact", False), ("compact", True),
], ids=["append-plain", "append-positions", "upsert-plain", "point_delete-plain",
        "compact-plain", "compact-positions"], indirect=["base"])
def test_crash_mid_maintenance_is_recoverable(spark, base, tmp_path, monkeypatch, op):
    """write_segment of each table the op writes writes one row of its
    segment and raises: each time the snapshot stays as it was, the op's
    cached frame is released and ids deleted before the op stay deleted;
    the same op re-run over the leftovers converges to the clean run —
    its results, blocks, dictionary, stats and live doc_map — and the ids
    it deleted are never returned."""
    base_root, hits = base
    prepare, run, tables, dead, deleting = _crash_case(spark, op, hits)
    clean, root = str(tmp_path / "clean"), str(tmp_path / "crashed")
    clone_index(base_root, clean)
    prepare(clean)
    clone_index(clean, root)
    run(clean)
    before = _snapshot(root)
    cached = spark.sparkContext._jsc.getPersistentRDDs().size()
    for table in tables:
        orig = _crash_at(monkeypatch, table)
        with pytest.raises(RuntimeError, match=f"simulated crash writing {table}"):
            run(root)
        monkeypatch.setattr(Catalog, "write_segment", orig)
        assert _snapshot(root) == before, table
        assert spark.sparkContext._jsc.getPersistentRDDs().size() == cached, table
        if dead:
            assert not dead & {r[2] for r in _results(spark, root)}, table

    run(root)
    got = _results(spark, root)
    assert got == _results(spark, clean)
    assert not (dead | deleting) & {r[2] for r in got}
    assert _blocks(spark, root) == _blocks(spark, clean)
    assert _dictionary(spark, root) == _dictionary(spark, clean)
    assert _stats(root) == _stats(clean)
    assert _live(spark, root) == _live(spark, clean)


@pytest.mark.parametrize("base", [False], ids=["plain"], indirect=True)
def test_append_after_rollback_counts_the_snapshot(spark, base, tmp_path):
    """rollback_to restores an older snapshot whose stats the stats json
    no longer mirrors; the next append adds to the SNAPSHOT's stats."""
    root = str(tmp_path / "idx")
    clone_index(base[0], root)
    docs = _docs(spark)
    snap = _snapshot(root)
    append_index(spark, docs.filter(_fifth(1)), root, "a1", "whitespace")
    rollback_to(spark, root, snap)
    append_index(spark, docs.filter(_fifth(2)), root, "a2", "whitespace")
    live = Catalog(root).live_doc_map(spark).agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("sum_dl")).collect()[0]
    st = _stats(root)
    assert (st["n_docs"], st["sum_dl"]) == (live["n"], live["sum_dl"])
    assert live["n"] == docs.filter(_fifth(0) | _fifth(2)).count()


@pytest.mark.parametrize("base", [False], ids=["plain"], indirect=True)
def test_failed_upsert_changes_nothing(spark, base, tmp_path):
    """An upsert of {a live id, a bulk-deleted id} is refused before any
    write: the snapshot stays, and the live doc keeps its content."""
    root = str(tmp_path / "idx")
    clone_index(base[0], root)
    live_id, dead_id = base[1][0], base[1][1]
    docs = _docs(spark)
    delete_docs_bulk(spark, root, docs.filter(F.col("doc_id") == dead_id).select("doc_id"))
    before, results = _snapshot(root), _results(spark, root)
    ups = docs.filter(F.col("doc_id").isin(live_id, dead_id)).withColumn(
        "content", F.lit(ZZ))
    with pytest.raises(ValueError, match="bulk tombstone"):
        upsert_docs(spark, ups, root, "u1", "whitespace")
    assert _snapshot(root) == before
    assert _results(spark, root) == results
    assert live_id in {r[2] for r in results}


@pytest.mark.parametrize("base", [False], ids=["plain"], indirect=True)
def test_published_segment_name_is_refused(spark, base, tmp_path):
    """A segment name this index already published is refused before any
    write, and the published segment stays as it was."""
    root = str(tmp_path / "idx")
    clone_index(base[0], root)
    docs = _docs(spark)
    append_index(spark, docs.filter(_fifth(1)), root, "a1", "whitespace")
    before, live = _snapshot(root), _live(spark, root)
    with pytest.raises(ValueError, match="already published"):
        append_index(spark, docs.filter(_fifth(2)), root, "a1", "whitespace")
    assert _snapshot(root) == before and _live(spark, root) == live


def test_rollover_appends_never_reuse_a_name(spark, tmp_path):
    """Appends into one open rollover generation each get a new segment
    name, so no batch is overwritten or listed twice."""
    docs = _docs(spark)
    for i in range(3):
        rollover_write(spark, str(tmp_path), docs.filter(_fifth(i)), max_docs_per_gen=10**9)
    (g,) = [str(p) for p in tmp_path.iterdir()]
    dm = Catalog(g).live_doc_map(spark)
    assert len(Catalog(g).read_manifest()["tables"]["doc_map"]) == 3
    want = docs.filter(_fifth(0) | _fifth(1) | _fifth(2)).count()
    assert dm.count() == dm.select("doc_id").distinct().count() == want
