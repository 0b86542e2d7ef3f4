"""Index build + indexed query tests: the SPIMI build must produce results
rank-identical to both the direct DataFrame path and the DuckDB oracle;
both ``algo`` values must give the same results; resumed builds must equal cold
builds (index-equivalence, SURVEY.md §5)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from fafnir_spark import oracles
from fafnir_spark.build import build_index, normalize_docs
from fafnir_spark.catalog import Catalog
from fafnir_spark.codec import delta_decode, varint_decode
from fafnir_spark.wand import run_queries
from tests.conftest import SF_DIR

QUERIES = {
    "q_mwc": ["merge", "window", "customer"],
    "q_ss": ["spark", "slow"],
    "q_rare": ["vector", "batch"],
    "q_missing": ["zzz_not_a_term"],
}


@pytest.fixture(scope="module")
def index_root(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("idx"))
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    norm = normalize_docs(docs, id_col="doc_id", text_col="text")
    build_index(
        spark, norm, root, n_parts=4, block_size=32, tokenizer="whitespace", build_id="t1"
    )
    return root


def _oracle_topk(ddb, terms, k=10):
    return ddb.execute(oracles.bm25_topk_sql(terms, k=k)).fetchall()


@pytest.mark.parametrize("algo", ["exhaustive", "bmw"])
def test_indexed_topk_matches_oracle(spark, ddb, index_root, algo):
    res = run_queries(spark, index_root, QUERIES, k=10, algo=algo).collect()
    by_qid: dict[str, list] = {}
    for r in res:
        by_qid.setdefault(r["qid"], []).append(r)
    assert "q_missing" not in by_qid
    for qid, terms in QUERIES.items():
        if qid == "q_missing":
            continue
        want = _oracle_topk(ddb, terms)
        got = by_qid[qid]
        assert [(g["rank"], g["doc_id"]) for g in got] == [(w[0], w[1]) for w in want], qid
        for g, w in zip(got, want):
            assert g["score"] == pytest.approx(w[2], abs=1e-6)


def test_bmw_equals_exhaustive_bigk(spark, index_root):
    a = run_queries(spark, index_root, QUERIES, k=100, algo="bmw").collect()
    b = run_queries(spark, index_root, QUERIES, k=100, algo="exhaustive").collect()
    assert [(r["qid"], r["rank"], r["doc_id"], r["score"]) for r in a] == [
        (r["qid"], r["rank"], r["doc_id"], r["score"]) for r in b
    ]


def test_dictionary_matches_oracle(spark, ddb, index_root):
    cat = Catalog(index_root)
    got = {
        r["term"]: (r["df"], r["cf"]) for r in cat.read_table(spark, "dictionary").collect()
    }
    want = {w[0]: (w[1], w[2]) for w in ddb.execute(oracles.term_stats_sql()).fetchall()}
    assert got == want


def test_doc_part_routing(spark, index_root):
    """Every posting's doc_ids decode within the block's declared range and
    route to the right doc_part — hot terms provably spread across parts."""
    cat = Catalog(index_root)
    rows = cat.read_table(spark, "postings").collect()
    parts_per_term: dict[str, set] = {}
    for r in rows:
        ids = delta_decode(r["doc_ids"]).astype(np.int64)
        assert ids[0] == r["first_doc"] and ids[-1] == r["last_doc"]
        assert (ids % 4 == r["doc_part"]).all()
        assert len(ids) == r["n"] == len(varint_decode(r["tfs"]))
        assert (np.diff(ids) > 0).all()
        parts_per_term.setdefault(r["term"], set()).add(r["doc_part"])
    # the most common term must be spread over all 4 parts (skew salting)
    assert max(len(v) for v in parts_per_term.values()) == 4


def test_resume_equals_cold(spark, tmp_path):
    """Kill/resume: shard-0-only checkpointed build, resumed, must equal a
    cold 2-shard build (fafnir try_skip_reverse semantics)."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    norm = normalize_docs(docs, id_col="doc_id", text_col="text")

    cold_root, warm_root = str(tmp_path / "cold"), str(tmp_path / "warm")
    build_index(spark, norm, cold_root, n_parts=2, block_size=32,
                tokenizer="whitespace", n_shards=2, build_id="b1")

    # simulate a killed build: crash while writing shard 1's segments
    cat = Catalog(warm_root)
    orig = Catalog.write_segment

    def crash_on_shard1(self, df, name, segment, **kw):
        if segment.endswith("-1"):
            raise RuntimeError("simulated crash during shard 1")
        return orig(self, df, name, segment, **kw)

    Catalog.write_segment = crash_on_shard1
    try:
        with pytest.raises(RuntimeError, match="simulated crash"):
            build_index(spark, norm, warm_root, n_parts=2, block_size=32,
                        tokenizer="whitespace", n_shards=2, build_id="b1")
    finally:
        Catalog.write_segment = orig
    ck = cat.read_json("checkpoints")
    assert list(ck["shards"]) == ["0"]  # shard 0 checkpointed, shard 1 not

    # resume with full input: shard 0 skipped, shard 1 built
    build_index(spark, norm, warm_root, n_parts=2, block_size=32,
                tokenizer="whitespace", n_shards=2, build_id="b1", resume=True)

    q = {"q": ["merge", "window", "customer"]}
    a = run_queries(spark, cold_root, q, k=20).collect()
    b = run_queries(spark, warm_root, q, k=20).collect()
    assert [(r["rank"], r["doc_id"], r["score"]) for r in a] == [
        (r["rank"], r["doc_id"], r["score"]) for r in b
    ]


def test_compaction_preserves_results(spark, ddb, index_root, tmp_path):
    from fafnir_spark.build import compact_index

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    norm = normalize_docs(docs, id_col="doc_id", text_col="text")
    root = str(tmp_path / "cidx")
    build_index(spark, norm, root, n_parts=2, block_size=16,
                tokenizer="whitespace", n_shards=2, build_id="c1")
    before = run_queries(spark, root, QUERIES, k=10).collect()
    compact_index(spark, Catalog(root), block_size=16)
    after = run_queries(spark, root, QUERIES, k=10).collect()
    assert [tuple(r) for r in before] == [tuple(r) for r in after]


def test_reindex_relayout_is_rank_identical(spark, tmp_path):
    """reindex into a different (n_parts, block_size) layout without the
    corpus: BM25 AND positional phrase results are bit-identical to the
    source index; stats/dictionary survive; the new doc_part really is
    doc_id mod n_parts_new."""
    from fafnir_spark.build import reindex
    from fafnir_spark.catalog import Catalog
    from fafnir_spark.wand import phrase_search

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    norm = normalize_docs(docs, id_col="doc_id", text_col="text")
    build_index(spark, norm, src, n_parts=4, block_size=32,
                tokenizer="whitespace", build_id="r1", with_positions=True)
    reindex(spark, src, dst, n_parts=8, block_size=16)

    a = run_queries(spark, src, QUERIES, k=20, algo="bmw").collect()
    b = run_queries(spark, dst, QUERIES, k=20, algo="bmw").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    pa = phrase_search(spark, src, {"p": ["key", "agg"]}).collect()
    pb = phrase_search(spark, dst, {"p": ["key", "agg"]}).collect()
    assert sorted(tuple(r) for r in pa) == sorted(tuple(r) for r in pb)

    scat, dcat = Catalog(src), Catalog(dst)
    assert (dcat.read_json("stats")["n_docs"] == scat.read_json("stats")["n_docs"])
    assert dcat.read_json("stats")["n_parts"] == 8
    sd = {r["term"]: (r["df"], r["cf"]) for r in scat.read_dictionary(spark).collect()}
    dd = {r["term"]: (r["df"], r["cf"]) for r in dcat.read_dictionary(spark).collect()}
    assert sd == dd
    from pyspark.sql import functions as F

    bad = (
        dcat.read_table(spark, "doc_map")
        .filter(F.col("doc_part") != F.pmod(F.col("doc_id"), F.lit(8)).cast("int"))
        .count()
    )
    assert bad == 0


def test_reindex_refuses_tombstoned_snapshot(spark, tmp_path):
    from fafnir_spark.build import reindex
    from fafnir_spark.incremental import delete_docs

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    norm = normalize_docs(docs, id_col="doc_id", text_col="text")
    build_index(spark, norm, src, n_parts=2, block_size=32,
                tokenizer="whitespace", build_id="r2")
    delete_docs(spark, src, [0, 1])
    with pytest.raises(ValueError, match="compact"):
        reindex(spark, src, dst, n_parts=4, block_size=16)
