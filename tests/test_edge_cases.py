"""Edge-path robustness: absent terms, oversize k, single-term phrases,
empty clause combinations — the paths a user hits on day one."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fafnir_spark.build import build_index, normalize_docs
from fafnir_spark.query import bm25_topk
from fafnir_spark.query_ext import bool_bm25, collapse_topk
from fafnir_spark.wand import bool_search, phrase_search, run_queries
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("edgeidx"))
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    build_index(spark, normalize_docs(docs, id_col="doc_id", text_col="text"),
                root, n_parts=3, block_size=32, tokenizer="whitespace",
                build_id="e", with_positions=True)
    return root


def test_all_absent_terms(spark, idx):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    assert run_queries(spark, idx, {"q": ["zz_never"]}, k=5).count() == 0
    assert bm25_topk(docs, ["zz_never"], k=5).count() == 0
    assert bool_search(spark, idx, {"q": {"must": ["zz_never"], "should": ["merge"]}}).count() == 0
    assert bool_bm25(docs, must=["zz_never"], should=["merge"]).count() == 0


def test_k_larger_than_corpus(spark, idx):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n = docs.count()
    res = run_queries(spark, idx, {"q": ["merge"]}, k=n * 10).collect()
    assert 0 < len(res) <= n
    assert [r["rank"] for r in res] == list(range(1, len(res) + 1))
    direct = bm25_topk(docs, ["merge"], k=n * 10).collect()
    assert [(r["rank"], r["doc_id"], r["score"]) for r in res] == [
        (r["rank"], r["doc_id"], r["score"]) for r in direct]


def test_single_term_phrase(spark, idx):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    hits = {r["doc_id"] for r in phrase_search(spark, idx, {"p": ["merge"]}).collect()}
    want = {r["doc_id"] for r in docs.filter(
        F.concat(F.lit(" "), F.col("text"), F.lit(" ")).contains(" merge ")).collect()}
    assert hits == want and hits


def test_must_not_everything(spark, idx):
    """must_not over a hot term that co-occurs everywhere the should term
    appears → empty, not an error."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = bool_bm25(docs, should=["merge"], must_not=["merge"], k=5)
    assert got.count() == 0
    assert bool_search(spark, idx, {"q": {"should": ["merge"], "must_not": ["merge"]}}).count() == 0


def test_collapse_more_groups_than_k(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = collapse_topk(docs, ["merge", "window"], "source", k=3).collect()
    assert len(got) == 3
    assert len({r["source"] for r in got}) == 3  # one per group


def test_lit_doubles_bit_identical_to_f_lit(spark):
    """The parsed array literal carries exactly the doubles F.lit would:
    signed zero, a tiny and a huge normal, and the smallest subnormal."""
    import struct

    from fafnir_spark.portable import lit_doubles

    vals = [-0.0, 1e-17, 1e+305, 5e-324]
    row = spark.range(1).select(
        lit_doubles(vals).alias("arr"),
        *[F.lit(float(v)).alias(f"v{i}") for i, v in enumerate(vals)],
    ).first()
    for i, v in enumerate(vals):
        want = struct.pack("<d", v)
        assert struct.pack("<d", row["arr"][i]) == want, v
        assert struct.pack("<d", row[f"v{i}"]) == want, v


def test_empty_literal_arrays_are_typed(spark):
    """Empty literals keep their element type, so zip_with/cosine over
    them still resolve."""
    from fafnir_spark.portable import lit_doubles, lit_doubles_2d

    df = spark.range(1).select(lit_doubles([]).alias("v"), lit_doubles_2d([]).alias("m"),
                               lit_doubles_2d([[1.5], []]).alias("r"))
    assert df.schema["v"].dataType.simpleString() == "array<double>"
    assert df.schema["m"].dataType.simpleString() == "array<array<double>>"
    assert df.schema["r"].dataType.simpleString() == "array<array<double>>"
    assert df.first().asDict() == {"v": [], "m": [], "r": [[1.5], []]}


def _write_zip(path, modules: dict[str, str]) -> None:
    import zipfile

    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_zip_cache_skips_unchanged_archives(tmp_path, monkeypatch):
    """After install(), invalidating import caches reads no unchanged zip
    directory, and a rewritten archive is still re-read."""
    import importlib
    import sys
    import zipimport

    from fafnir_spark import _zipcache

    archive = tmp_path / "zc.zip"
    _write_zip(archive, {"zc_one": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    for name in ("zc_one", "zc_two"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    # restored at teardown, so the patch does not leak into other tests
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    assert importlib.import_module("zc_one").X == 1

    _zipcache.install()
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda a: reads.append(a) or read_directory(a))
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []

    _write_zip(archive, {"zc_one": "X = 1\n", "zc_two": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads == [str(archive)]
    assert importlib.import_module("zc_two").Y == 2


def test_zip_cache_installed_in_workers_only(spark):
    """A pandas UDF task that runs package code finds zipimporter patched
    in its worker (second task: the patch outlives the task that installed
    it) and re-reads no zip directory on the per-task invalidation; the
    driver process stays unpatched."""
    import zipimport

    def report(pdf):  # nested, so it pickles by value
        import importlib
        import zipimport

        import pandas as pd

        from fafnir_spark.wand import _bm25_idf

        reads = []
        read_directory = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or read_directory(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        return pd.DataFrame({
            "module": [zipimport.zipimporter.invalidate_caches.__module__],
            "reads": [len(reads)],
            "idf": [_bm25_idf(10, 1)],
        })

    df = spark.range(1).groupBy("id").applyInPandas(
        report, "module string, reads long, idf double")
    df.collect()
    row = df.collect()[0]
    assert row["module"] == "fafnir_spark._zipcache"
    assert row["reads"] == 0
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
