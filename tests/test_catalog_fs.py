"""Catalog IO.

Object-store safety: the manifest/sidecar/delete paths must work through
the Hadoop FileSystem API (the code path s3a/gs/abfs roots take),
exercised here by forcing file: URIs down the Hadoop branch.

Declared segment schemas: every write path leaves a schema file per
segment, reading published tables runs no Spark job, and the result is
the per-segment inference union the catalog returned before (schema,
column order and rows); segments without the file read as before."""

from __future__ import annotations

import glob
import os
from functools import reduce

import pytest
from pyspark.sql import functions as F

import fafnir_spark.catalog as catmod
from fafnir_spark.build import build_index, clone_index, normalize_docs
from fafnir_spark.catalog import SCHEMA_FILE, Catalog
from fafnir_spark.incremental import (
    append_index,
    compact_with_tombstones,
    delete_docs,
    delete_docs_bulk,
    update_doc_meta,
    upsert_docs,
)
from fafnir_spark.wand import run_queries
from tests.conftest import SF_DIR
from tests.test_plans_and_invariants import _jobs_of

Q = {"q": ["merge", "window", "customer"], "r": ["spark"]}


@pytest.fixture()
def hadoop_catalog(spark, tmp_path, monkeypatch):
    """A Catalog whose root is a file: URI with the local fast path
    disabled, so every small-file op goes through Hadoop FileSystem."""
    monkeypatch.setattr(catmod, "_LOCAL_SCHEMES", ())
    os.makedirs(tmp_path, exist_ok=True)
    return Catalog(f"file://{tmp_path}/wh"), tmp_path


def test_manifest_roundtrip_via_hadoop_fs(spark, hadoop_catalog):
    cat, tmp_path = hadoop_catalog
    assert cat.read_manifest()["snapshot_id"] is None
    snap = cat.publish({"t": ["file://%s/wh/t/seg=a" % tmp_path]}, meta={"k": 1})
    m = cat.read_manifest()
    assert m["snapshot_id"] == snap and m["meta"] == {"k": 1}
    snap2 = cat.publish({"t": []})
    m2 = cat.read_manifest()
    assert m2["snapshot_id"] == snap2
    assert [h["snapshot_id"] for h in m2["history"]] == [snap]
    # overwrite-create really replaced the object (no stale tail bytes)
    assert cat.manifest_at(snap)["meta"] == {"k": 1}


def test_sidecar_json_via_hadoop_fs(spark, hadoop_catalog):
    cat, _ = hadoop_catalog
    assert cat.read_json("stats") is None
    cat.write_json("stats", {"n_docs": 7, "avgdl": 3.5})
    assert cat.read_json("stats") == {"n_docs": 7, "avgdl": 3.5}
    cat.write_json("stats", {"n_docs": 8})  # overwrite, not append
    assert cat.read_json("stats") == {"n_docs": 8}


def test_delete_dir_via_hadoop_fs(spark, hadoop_catalog, tmp_path):
    cat, _ = hadoop_catalog
    victim = tmp_path / "wh" / "t" / "seg=dead"
    victim.mkdir(parents=True)
    (victim / "part-0.parquet").write_bytes(b"x")
    cat.delete_dir(f"file://{victim}")
    assert not victim.exists()
    # deleting a missing dir must not raise (expiry is idempotent)
    cat.delete_dir(f"file://{victim}")


def test_segment_schema_via_hadoop_fs(spark, hadoop_catalog, tmp_path):
    cat, _ = hadoop_catalog
    seg = cat.write_segment(
        spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, seg string"), "t", "a")
    assert os.path.exists(tmp_path / "wh" / "t" / "seg=a" / SCHEMA_FILE)
    cat.publish({"t": [seg]})
    assert _jobs_of(spark, "hadoop_read", lambda: cat.read_table(spark, "t")) == 0
    assert sorted(cat.read_table(spark, "t").collect()) == sorted(
        spark.read.parquet(seg).collect())


# ---------- declared segment schemas: the read path ----------
def _docs(spark):
    return normalize_docs(spark.read.parquet(f"{SF_DIR}/documents.parquet"),
                          id_col="doc_id", text_col="text")


def _inferred(spark, segs):
    """The per-segment inference union (the read before schema files)."""
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True),
                  [spark.read.parquet(s) for s in segs])


def _assert_parity(spark, cat, m, declared=True):
    """Every table of snapshot ``m`` reads back with the schema (names,
    types, order) and rows of the inference union."""
    for table, segs in m["tables"].items():
        if declared:
            assert all(os.path.exists(os.path.join(s, SCHEMA_FILE)) for s in segs), table
        got, ref = cat.read_table(spark, table, snapshot=m), _inferred(spark, segs)
        assert got.schema == ref.schema, table
        assert got.exceptAll(ref).count() == 0 and ref.exceptAll(got).count() == 0, table


def _results(spark, root, q=Q, snapshot_id=None):
    return sorted(tuple(r) for r in run_queries(spark, root, q, k=10,
                                                snapshot_id=snapshot_id).collect())


def _strip_schema_files(root):
    files = glob.glob(os.path.join(root, "*", "seg=*", SCHEMA_FILE))
    assert files
    for f in files:
        os.remove(f)


@pytest.fixture(scope="module")
def lifecycle(spark, tmp_path_factory):
    """A 100-doc base build grown by four appends to 5 postings segments
    (the benchmark's ingest shape) and a bulk delete — snapshot ``bulk`` —
    then a point delete, a doc-meta update of doc ``x``, an upsert of ``x``
    and a second meta update of it (its upserted row moves to a meta-*
    segment while its ``seg`` column still names the upsert's segment)."""
    root = str(tmp_path_factory.mktemp("lifecycle"))
    docs = _docs(spark)
    fifth = F.pmod(F.col("doc_id"), F.lit(5))
    build_index(spark, docs.filter(fifth == 0), root, n_parts=4, block_size=32,
                tokenizer="whitespace", build_id="b")
    append_jobs = [
        _jobs_of(spark, f"lifecycle_append_{i}", lambda i=i: append_index(
            spark, docs.filter(fifth == i), root, f"a{i}", "whitespace"))
        for i in range(1, 5)
    ]
    tenth = F.pmod(F.col("doc_id"), F.lit(10))
    delete_docs_bulk(spark, root, docs.filter(tenth == 9).select("doc_id"))
    cat = Catalog(root)
    bulk = cat.read_manifest()["snapshot_id"]
    ids = sorted(r["doc_id"] for r in docs.filter(tenth == 8).select("doc_id").collect())
    delete_docs(spark, root, ids[:1])
    x = ids[1]
    update_doc_meta(spark, root, spark.createDataFrame([(x, "m1")], "doc_id long, source string"))
    upsert_docs(spark, docs.filter(F.col("doc_id") == x)
                .withColumn("content", F.lit("zzupsert merge window")), root, "u1", "whitespace")
    update_doc_meta(spark, root, spark.createDataFrame([(x, "m2")], "doc_id long, source string"))
    return {"root": root, "bulk": bulk, "x": x, "append_jobs": append_jobs}


def test_catalog_reads_build_without_jobs(spark, lifecycle):
    cat = Catalog(lifecycle["root"])
    m = cat.read_manifest()
    assert {"tombstones", "bulk_tombstones"} <= set(m["tables"])
    assert len(m["tables"]["postings"]) == 6
    n = _jobs_of(spark, "catalog_reads", lambda: (
        [cat.read_table(spark, t) for t in m["tables"]],
        cat.read_dictionary(spark), cat.live_doc_map(spark)))
    assert n == 0


def test_declared_reads_equal_inference(spark, lifecycle, tmp_path):
    """Build, append, bulk and point delete, upsert and meta update (the
    current snapshot), the bulk snapshot, and a compaction of a clone
    (which also carries the schema files along)."""
    cat = Catalog(lifecycle["root"])
    _assert_parity(spark, cat, cat.read_manifest())
    _assert_parity(spark, cat, cat.manifest_at(lifecycle["bulk"]))
    dst = str(tmp_path / "clone")
    clone_index(lifecycle["root"], dst)
    compact_with_tombstones(spark, dst)
    _assert_parity(spark, Catalog(dst), Catalog(dst).read_manifest())


def test_positional_build_parity(spark, tmp_path):
    root = str(tmp_path / "pos")
    docs = _docs(spark)
    build_index(spark, docs.filter(F.pmod("doc_id", F.lit(2)) == 0), root, n_parts=4,
                block_size=32, tokenizer="whitespace", with_positions=True)
    append_index(spark, docs.filter(F.pmod("doc_id", F.lit(2)) == 1), root, "a1", "whitespace")
    cat = Catalog(root)
    assert "positions" in cat.read_table(spark, "postings").columns
    _assert_parity(spark, cat, cat.read_manifest())


def test_upsert_keeps_the_files_seg_column(spark, lifecycle):
    """doc_map's ``seg`` column comes from the files: the upserted row of
    ``x``, rewritten into a meta-* segment, still matches its keep_seg
    tombstone, so ``x`` stays live in its upserted version."""
    root, x = lifecycle["root"], lifecycle["x"]
    rows = Catalog(root).live_doc_map(spark).filter(F.col("doc_id") == x).collect()
    assert [(r["seg"], r["source"]) for r in rows] == [("u1", "m2")]
    hits = run_queries(spark, root, {"u": ["zzupsert"]}, k=10).collect()
    assert [r["doc_id"] for r in hits] == [x]


def test_fresh_run_queries_job_pin(spark, lifecycle):
    """A one-shot run_queries over 5 postings segments plus bulk
    tombstones: the dictionary lookup and the AQE stages, no schema
    inference (17 jobs when every segment was inferred)."""
    n = _jobs_of(spark, "fresh_rq", lambda: run_queries(
        spark, lifecycle["root"], Q, k=10, snapshot_id=lifecycle["bulk"]).collect())
    assert n <= 6, n


def test_append_jobs_flat_in_segment_count(spark, lifecycle):
    """The append that makes the 2nd postings segment submits as many
    jobs as the one that makes the 5th (one more per segment when every
    segment was inferred)."""
    jobs = lifecycle["append_jobs"]
    assert jobs[0] == jobs[3], jobs


def test_index_without_schema_files_reads_as_before(spark, tmp_path):
    """An index written before schema files existed: results now and at
    an older snapshot are unchanged once every file is removed, the reads
    fall back to inference, and an append onto it reads correctly."""
    docs = _docs(spark)
    third = F.pmod(F.col("doc_id"), F.lit(3))
    root = str(tmp_path / "a")
    build_index(spark, docs.filter(third == 0), root, n_parts=4, block_size=32,
                tokenizer="whitespace")
    old = Catalog(root).read_manifest()["snapshot_id"]
    append_index(spark, docs.filter(third == 1), root, "a1", "whitespace")
    delete_docs_bulk(spark, root, docs.filter((F.pmod("doc_id", F.lit(7)) == 0) & (third < 2))
                     .select("doc_id"))
    before = (_results(spark, root), _results(spark, root, snapshot_id=old))
    declared = str(tmp_path / "b")
    clone_index(root, declared)  # hard links: keeps its own schema files
    _strip_schema_files(root)
    assert (_results(spark, root), _results(spark, root, snapshot_id=old)) == before
    cat = Catalog(root)
    assert _jobs_of(spark, "stripped_read", lambda: cat.read_table(spark, "postings")) > 0
    for r in (root, declared):
        append_index(spark, docs.filter(third == 2), r, "a2", "whitespace")
    assert _results(spark, root) == _results(spark, declared)
    _assert_parity(spark, cat, cat.read_manifest(), declared=False)


def test_conflicting_column_types_never_cast(spark, tmp_path):
    """Two segments giving one column different types: the read is the
    inference union's (or raises where it raises), never a cast to the
    first segment's type."""
    cat = Catalog(str(tmp_path))
    segs = [
        cat.write_segment(spark.createDataFrame([(1, 2)], "id long, x int"), "t", "a"),
        cat.write_segment(spark.createDataFrame([(2, "y")], "id long, x string"), "t", "b"),
    ]
    cat.publish({"t": segs})

    def rows(read):
        try:
            df = read()
            return df.schema, sorted(df.collect())
        except Exception as e:  # noqa: BLE001 - both sides must fail alike
            return type(e).__name__

    assert rows(lambda: cat.read_table(spark, "t")) == rows(lambda: _inferred(spark, segs))


def test_partitioned_tables_parity(spark, tmp_path):
    """ivf_assign (by centroid_id) and a data stream (by __zone): each is
    a per-segment union whose partition column Spark types from the paths,
    exactly as inference did. The stream's zone-pruned range read builds
    without a job too."""
    from fafnir_spark.datastream import (
        append_data_stream,
        build_data_stream,
        read_data_stream_range,
    )
    from fafnir_spark.simsearch import build_ivf_index, ivf_append

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    half = F.pmod(F.col("vec_id"), F.lit(2))
    ivf = str(tmp_path / "ivf")
    build_ivf_index(spark, emb.filter(half == 0), ivf, n_centroids=8)
    ivf_append(spark, emb.filter(half == 1), ivf, "ap1")
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    ds = str(tmp_path / "ds")
    build_data_stream(spark, ev.filter(F.pmod("event_id", F.lit(2)) == 0), ds, width_days=7)
    append_data_stream(spark, ev.filter(F.pmod("event_id", F.lit(2)) == 1), ds)
    for root, table in ((ivf, "ivf_assign"), (ds, "ds")):
        cat = Catalog(root)
        m = cat.read_manifest()
        assert len(m["tables"][table]) == 2
        assert _jobs_of(spark, f"read_{table}", lambda: cat.read_table(spark, table)) == 0
        _assert_parity(spark, cat, m)
    assert _jobs_of(spark, "read_ds_range", lambda: read_data_stream_range(
        spark, ds, 0, 2**62)) == 0
