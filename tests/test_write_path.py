"""The index write path end to end.

* Maintenance converges to a cold build: appends, bulk and point deletes
  and an upsert, then compact_with_tombstones, leave byte-identical
  posting blocks, the same dictionary and the same corpus stats as one
  build_index of the live corpus.
* A crash inside append_index (a partial segment written, then an
  error) publishes nothing and keeps nothing cached, and re-running the
  append recovers it.
* Each write path submits a pinned number of Spark jobs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fafnir_spark.build import build_index, normalize_docs, reindex
from fafnir_spark.catalog import Catalog
from fafnir_spark.incremental import (
    append_index,
    compact_with_tombstones,
    delete_docs,
    delete_docs_bulk,
    upsert_docs,
)
from fafnir_spark.wand import run_queries
from tests.conftest import SF_DIR
from tests.test_plans_and_invariants import _jobs_of

KW = {"n_parts": 4, "block_size": 32, "tokenizer": "whitespace"}
BLOCK_COLS = ("term", "doc_part", "block_id", "n", "first_doc", "last_doc", "max_tf",
              "min_dl", "max_weight", "doc_ids", "tfs", "dls", "weights")
Q = {"q": ["merge", "window", "customer"], "r": ["spark"], "u": ["zzupsert"]}


def _docs(spark):
    return normalize_docs(spark.read.parquet(f"{SF_DIR}/documents.parquet"),
                          id_col="doc_id", text_col="text")


def _blocks(spark, root):
    post = Catalog(root).read_table(spark, "postings")
    cols = BLOCK_COLS + (("positions",) if "positions" in post.columns else ())
    return sorted(tuple(r) for r in post.select(*cols).collect())


def _dictionary(spark, root):
    return sorted(tuple(r) for r in Catalog(root).read_dictionary(spark).collect())


def _stats(root):
    st = Catalog(root).read_manifest()["meta"]["stats"]
    return {k: st[k] for k in ("n_docs", "sum_dl", "avgdl")}


@pytest.fixture(scope="module", params=[False, True], ids=["plain", "positions"])
def maintained(request, spark, tmp_path_factory):
    """A base of 1/5 of the corpus grown by four appends, a bulk delete, a
    point delete and an upsert, then compacted (each step's job count
    recorded); a cold build of the live corpus; a reindex of the
    compacted index."""
    pos = request.param
    tmp = tmp_path_factory.mktemp("writepath")
    root, cold = str(tmp / "maintained"), str(tmp / "cold")
    docs = _docs(spark)
    doc_id = F.col("doc_id")
    fifth, tenth = F.pmod(doc_id, F.lit(5)), F.pmod(doc_id, F.lit(10))
    jobs = {"build": _jobs_of(spark, "wp_build", lambda: build_index(
        spark, docs.filter(fifth == 0), root, build_id="b", with_positions=pos, **KW))}
    jobs["append"] = [
        _jobs_of(spark, f"wp_append_{i}", lambda i=i: append_index(
            spark, docs.filter(fifth == i), root, f"a{i}", "whitespace"))
        for i in range(1, 5)
    ]
    jobs["bulk_delete"] = _jobs_of(spark, "wp_bulk", lambda: delete_docs_bulk(
        spark, root, docs.filter(tenth == 9).select("doc_id")))
    ids = sorted(r["doc_id"] for r in docs.filter(tenth == 8).select("doc_id").collect())
    jobs["point_delete"] = _jobs_of(spark, "wp_point", lambda: delete_docs(
        spark, root, ids[:1]))
    upserted = docs.filter(doc_id == ids[1]).withColumn(
        "content", F.lit("zzupsert merge window merge"))
    jobs["upsert"] = _jobs_of(spark, "wp_upsert", lambda: upsert_docs(
        spark, upserted, root, "u1", "whitespace"))
    jobs["compact"] = _jobs_of(spark, "wp_compact", lambda: compact_with_tombstones(
        spark, root))
    live = docs.filter((tenth != 9) & ~doc_id.isin(ids[:2])).unionByName(upserted)
    build_index(spark, live, cold, build_id="c", with_positions=pos, **KW)
    jobs["reindex"] = _jobs_of(spark, "wp_reindex", lambda: reindex(
        spark, root, str(tmp / "reindexed"), n_parts=2, block_size=32))
    return {"root": root, "cold": cold, "jobs": jobs, "pos": pos}


def test_maintenance_converges_to_a_cold_build(spark, maintained):
    root, cold = maintained["root"], maintained["cold"]
    got = _blocks(spark, root)
    assert got and got == _blocks(spark, cold)
    assert ("positions" in Catalog(root).read_table(spark, "postings").columns) \
        == maintained["pos"]
    assert _dictionary(spark, root) == _dictionary(spark, cold)
    assert _stats(root) == _stats(cold)


def test_write_path_job_counts(maintained):
    """Jobs per write path on the test session (local[8], 8 shuffle
    partitions): an append costs the same from the 2nd segment to the
    5th."""
    if maintained["pos"]:
        pytest.skip("pinned on the plain index")
    assert maintained["jobs"] == {
        "build": 13, "append": [12, 12, 12, 12], "bulk_delete": 2,
        "point_delete": 1, "upsert": 29, "compact": 12, "reindex": 5,
    }


def _results(spark, root):
    return sorted(tuple(r) for r in run_queries(spark, root, Q, k=10).collect())


@pytest.mark.parametrize("pos", [False, True], ids=["plain", "positions"])
def test_crash_mid_append_is_recoverable(spark, tmp_path, monkeypatch, pos):
    """write_segment of doc_map, then of postings, then of the dictionary
    writes one row of its segment and raises: each time the snapshot stays
    as it was and the append's cached frame is released, and the same
    append re-run over the leftovers gives the clean run's results and,
    after compaction, its blocks."""
    docs = _docs(spark)
    fifth = F.pmod(F.col("doc_id"), F.lit(5))
    clean, root = str(tmp_path / "clean"), str(tmp_path / "crashed")
    for r in (clean, root):
        build_index(spark, docs.filter(fifth == 0), r, build_id="b", with_positions=pos, **KW)
    append_index(spark, docs.filter(fifth == 1), clean, "a1", "whitespace")
    cat = Catalog(root)
    before = cat.read_manifest()["snapshot_id"]
    cached = spark.sparkContext._jsc.getPersistentRDDs().size()
    orig = Catalog.write_segment
    for table in ("doc_map", "postings", "dictionary"):
        def crash(self, df, name, segment, table=table, **kw):
            if name == table:
                orig(self, df.limit(1), name, segment, **kw)
                raise RuntimeError(f"simulated crash writing {name}")
            return orig(self, df, name, segment, **kw)

        monkeypatch.setattr(Catalog, "write_segment", crash)
        with pytest.raises(RuntimeError, match=f"simulated crash writing {table}"):
            append_index(spark, docs.filter(fifth == 1), root, "a1", "whitespace")
        monkeypatch.setattr(Catalog, "write_segment", orig)
        assert cat.read_manifest()["snapshot_id"] == before, table
        assert spark.sparkContext._jsc.getPersistentRDDs().size() == cached, table

    append_index(spark, docs.filter(fifth == 1), root, "a1", "whitespace")
    assert _results(spark, root) == _results(spark, clean)
    for r in (clean, root):
        compact_with_tombstones(spark, r)
    assert _blocks(spark, root) == _blocks(spark, clean)
