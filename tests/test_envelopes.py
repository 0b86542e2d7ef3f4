"""Driver-side materialization envelopes (round-5 VERDICT item 3).

Every place the engine pulls a term expansion or a tombstone set onto the
driver must be bounded: limit(cap+1) + raise, never an unbounded collect.
These tests prove the caps trip — the scale property is that a pathological
input ("*" over a 10^9-term vocabulary, upsert churn without compaction)
fails loudly instead of OOMing the coordinator.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_expand_wildcard_star_raises_at_cap(spark):
    from fafnir_spark.query_ext import expand_wildcard

    with pytest.raises(ValueError, match="max_expansions"):
        expand_wildcard(_docs(spark), "*", max_expansions=5)
    # a narrow pattern under the cap still expands fine
    terms = expand_wildcard(_docs(spark), "merg*", max_expansions=5)
    assert terms and all(t.startswith("merg") for t in terms)


def test_expand_prefix_and_regexp_raise_at_cap(spark):
    from fafnir_spark.query_ext import expand_prefix, expand_regexp

    with pytest.raises(ValueError, match="max_expansions"):
        expand_prefix(_docs(spark), "", max_expansions=3)
    with pytest.raises(ValueError, match="max_expansions"):
        expand_regexp(_docs(spark), ".*", max_expansions=3)


def test_indexed_expansions_raise_at_cap(spark, tmp_path, monkeypatch):
    import fafnir_spark.query_ext as qe
    from fafnir_spark.build import build_index, normalize_docs
    from fafnir_spark.wand import expand_wildcard_indexed

    root = str(tmp_path / "idx")
    build_index(spark, normalize_docs(_docs(spark).limit(50), id_col="doc_id",
                                      text_col="text"),
                root, n_parts=2, block_size=32, tokenizer="whitespace",
                build_id="env")
    monkeypatch.setattr(qe, "MAX_EXPANSIONS", 2)
    with pytest.raises(ValueError, match="max_expansions"):
        expand_wildcard_indexed(spark, root, "*")


def test_point_tombstones_raise_at_closure_limit(spark, tmp_path, monkeypatch):
    import fafnir_spark.wand as wand
    from fafnir_spark.build import build_index, normalize_docs
    from fafnir_spark.incremental import compact_with_tombstones, delete_docs
    from fafnir_spark.wand import search_text_indexed

    docs = _docs(spark).limit(60)
    root = str(tmp_path / "idx")
    build_index(spark, normalize_docs(docs, id_col="doc_id", text_col="text"),
                root, n_parts=2, block_size=32, tokenizer="whitespace",
                build_id="tomb")
    rows = docs.select("doc_id").limit(4).collect()
    victims = [int(r["doc_id"]) for r in rows]
    delete_docs(spark, root, victims[:3])
    monkeypatch.setattr(wand, "_BULK_CLOSURE_LIMIT", 2)
    with pytest.raises(ValueError, match="closure envelope"):
        search_text_indexed(spark, root, "merge", k=5)
    # under the envelope the same query works
    monkeypatch.setattr(wand, "_BULK_CLOSURE_LIMIT", 1_000_000)
    res = search_text_indexed(spark, root, "merge", k=5)
    got = {int(r["doc_id"]) for r in res.collect()}
    assert not (got & set(victims[:3]))
    # the envelope binds queries only: writers read past it, and the
    # compaction drains the set it guards
    monkeypatch.setattr(wand, "_BULK_CLOSURE_LIMIT", 2)
    delete_docs(spark, root, victims[3:])
    compact_with_tombstones(spark, root)
    got = {int(r["doc_id"]) for r in search_text_indexed(spark, root, "merge", k=5).collect()}
    assert got and not (got & set(victims))


def test_stream_accumulator_requires_fresh_checkpoint(tmp_path):
    from fafnir_spark.streaming import _require_fresh_checkpoint

    empty = tmp_path / "ckpt_empty"
    _require_fresh_checkpoint(str(empty), "x")  # missing dir: fine
    empty.mkdir()
    _require_fresh_checkpoint(str(empty), "x")  # empty dir: fine
    (empty / "offsets").mkdir()
    with pytest.raises(ValueError, match="non-empty"):
        _require_fresh_checkpoint(str(empty), "x")


def test_minhash_fast_hash_finds_planted_dups(spark):
    """fast=True (xxhash64 signatures — the production hash) must find the
    planted near-duplicate pairs the portable-hash path finds; the Jaccard
    verify stage is hash-free, so emitted pairs are exact either way."""
    from fafnir_spark.dedup import minhash_lsh_pairs

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(1, base), (2, base + " mu"), (3, "totally different words here now"),
            (4, base.replace("delta", "delta2")), (5, "another unrelated doc text")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    slow = {(r["doc_a"], r["doc_b"]) for r in
            minhash_lsh_pairs(docs, num_hashes=12, bands=6, threshold=0.3).collect()}
    fast = {(r["doc_a"], r["doc_b"]) for r in
            minhash_lsh_pairs(docs, num_hashes=12, bands=6, threshold=0.3,
                              fast=True).collect()}
    assert (1, 2) in fast and (1, 4) in fast
    assert fast == slow  # 6 bands of 2 rows: near-identical docs collide in both
