#!/usr/bin/env python
"""Benchmark harness — prints ONE JSON line for the driver.

Measures the engine's headline paths at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]:

  build_testdata      index build over the testdata documents table
  bm25_direct         index-free DataFrame BM25 top-10 (batch of queries)
  bm25_indexed_bmw    indexed BM25, algo="bmw" (the one exact kernel)
  bm25_indexed_exh    indexed BM25, algo="exhaustive" (the same kernel)
  conjunctive         posting intersection
  synth_build         SPIMI build over a synthetic source-code corpus
                      (input_hint schema, Zipf term skew), read from
                      pre-materialized parquet — docs/sec is the headline
                      indexing-throughput number
  synth_query         20-query BM25 batch on the synthetic index

Protocol notes:
 * the synthetic corpus is generated and written to parquet UNTIMED (in
   production the corpus is an existing Iceberg table; generating it is not
   indexing work), and a small warmup build runs untimed first so JIT/codegen
   warmup doesn't pollute the measurement (executors on a real cluster are
   long-lived).
 * scaling protocol (BASELINE.md): scripts/scaling.py runs this file at
   SPARK_GRAFT_CPUS=8 and =32 on the same corpus and writes BENCH/BASELINE.md
   with efficiency = docs_per_sec(32) / (4 * docs_per_sec(8)).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_synth = int(os.environ.get("SPARK_GRAFT_SYNTH_DOCS", "30000"))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from fafnir_spark.build import build_index, normalize_docs
    from fafnir_spark.corpus import synth_corpus
    from fafnir_spark.query import bm25_topk_batch, conjunctive_match
    from fafnir_spark.session import get_spark
    from fafnir_spark.wand import run_queries

    spark = get_spark("fafnir-bench", cores=cpus)
    work = tempfile.mkdtemp(prefix="fafnir_bench_")
    timings: dict[str, float] = {}
    extras: dict[str, float] = {}

    def timed(name: str, fn):
        t0 = time.time()
        out = fn()
        timings[name] = round(time.time() - t0, 3)
        return out

    # ---------- setup (untimed): materialize corpus, warm up JIT ----------
    corpus_path = os.path.join(work, "corpus")
    synth_corpus(spark, n_synth).write.parquet(corpus_path)
    warm = normalize_docs(spark.read.parquet(corpus_path).limit(2000))
    build_index(spark, warm, os.path.join(work, "warmup"), n_parts=cpus,
                tokenizer="code", build_id="warm", resume=False)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()
    queries = {
        "q_mwc": ["merge", "window", "customer"],
        "q_ss": ["spark", "slow"],
        "q_vb": ["vector", "batch"],
        "q_qsf": ["query", "sort", "filter"],
    }

    # ---------- timed: testdata paths ----------
    idx1 = os.path.join(work, "idx_testdata")
    norm = normalize_docs(docs, id_col="doc_id", text_col="text")
    timed("build_testdata", lambda: build_index(
        spark, norm, idx1, n_parts=cpus, block_size=128,
        tokenizer="whitespace", build_id="bench", resume=False))
    extras["testdata_docs_per_sec"] = round(n_docs / timings["build_testdata"], 1)

    timed("bm25_direct", lambda: bm25_topk_batch(docs, queries, k=10).collect())
    timed("bm25_indexed_bmw", lambda: run_queries(spark, idx1, queries, k=10, algo="bmw").collect())
    timed("bm25_indexed_exh", lambda: run_queries(spark, idx1, queries, k=10, algo="exhaustive").collect())
    timed("conjunctive", lambda: conjunctive_match(docs, queries["q_mwc"]).count())

    # hot-phrase (stop-word bigram) over a positional index: conjunctive
    # candidates ≈ the whole corpus — guards the vectorized positional
    # adjacency check (wand._phrase_part_fn) against per-candidate blowup.
    # The positional build itself is untimed (build cost measured above).
    from fafnir_spark.wand import phrase_bm25, phrase_search

    idx_pos = os.path.join(work, "idx_pos")
    build_index(spark, norm, idx_pos, n_parts=cpus, block_size=128,
                tokenizer="whitespace", build_id="pos", resume=False,
                with_positions=True)
    timed("phrase_hot", lambda: phrase_search(
        spark, idx_pos, {"p1": ["the", "a"], "p2": ["a", "the"], "p3": ["key", "agg"]}
    ).count())
    timed("phrase_bm25", lambda: phrase_bm25(
        spark, idx_pos, {"p": ["key", "agg"]}, k=10).collect())

    # training-data curation sweep: the LLM-pipeline op family in one timed
    # pass — hashed-shingle decontamination, sequence packing, PII scrub,
    # unigram-LM scoring (each a one-shuffle-or-less declarative plan)
    from pyspark.sql import functions as F

    from fafnir_spark.curation import (
        decontaminate,
        inject_pii,
        pack_sequences,
        pii_scrub,
        unigram_logprob,
    )

    def _curation_sweep() -> int:
        train = docs.filter(F.pmod(F.col("doc_id"), F.lit(17)) != 0)
        bench_docs = docs.filter(F.pmod(F.col("doc_id"), F.lit(17)) == 0)
        n = decontaminate(train, bench_docs, n=3).count()
        n += pack_sequences(docs, budget=512).count()
        n += pii_scrub(inject_pii(docs)).count()
        n += unigram_logprob(docs).count()
        return n

    timed("curation_sweep", _curation_sweep)

    # ANN sweep: brute-force exact top-10 for a batch of 8 query vectors
    # (two-level top-k path) + persisted-IVF probe queries (partition-
    # pruned scan). IVF build is untimed (a build artifact at scale).
    from fafnir_spark.simsearch import build_ivf_index, cosine_topk, ivf_search

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvecs = {
        f"bq{i}": [((d * 31 + i * 7) % 29 - 14) / 15.0 for d in range(64)]
        for i in range(8)
    }
    ivf_root = os.path.join(work, "ivf")
    build_ivf_index(spark, emb, ivf_root, n_centroids=16)

    def _ann_sweep() -> int:
        n = cosine_topk(emb, qvecs, k=10).count()
        n += ivf_search(spark, ivf_root, qvecs, k=10, nprobe=4).count()
        return n

    timed("ann_sweep", _ann_sweep)

    # scoring + fingerprint sweep (round-4 additions, NEW key — earlier
    # keys stay round-over-round comparable): compound-query scoring,
    # blended-statistics cross_fields, winnowing fingerprints, PQ ADC top-k
    from fafnir_spark.dedup import winnow_fingerprints
    from fafnir_spark.query_ext import multi_match_cross_fields
    from fafnir_spark.scoring import dis_max, function_score_gauss
    from fafnir_spark.simsearch import pq_cosine_topk

    def _scoring_sweep() -> int:
        n = dis_max(docs, [["merge", "window"], ["spark", "slow"]], k=10).count()
        n += function_score_gauss(docs, ["merge", "window"], 200.0, 100.0, k=10).count()
        dt = docs.withColumn(
            "title", F.array_join(F.slice(F.split(F.col("text"), " "), 1, 5), " ")
        )
        n += multi_match_cross_fields(
            dt, ["merge", "window"], {"text": 1.0, "title": 2.0}, k=10
        ).count()
        n += winnow_fingerprints(docs).count()
        n += pq_cosine_topk(emb, qvecs["bq0"], k=10).count()
        return n

    timed("scoring_sweep", _scoring_sweep)

    # session-7 sweep (NEW key — earlier keys stay comparable): mergeable
    # sketches, quantized ANN with rescore, late interaction, term graph,
    # compiled ES|QL
    from fafnir_spark.esql import esql
    from fafnir_spark.query_ext import graph_explore
    from fafnir_spark.simsearch import maxsim_topk, sq8_cosine_topk
    from fafnir_spark.sketches import hll_cardinality

    def _extras_sweep() -> int:
        events = spark.read.parquet(f"{sf_dir}/events.parquet")
        n = hll_cardinality(events).count()
        n += sq8_cosine_topk(emb, qvecs, k=10).count()
        qtoks = [[((i * 53 + t * 17) % 31 - 15) / 16.0 for i in range(16)]
                 for t in range(2)]
        n += maxsim_topk(emb, qtoks, k=10).count()
        n += graph_explore(docs, ["merge"], hops=2, k=5, min_cooc=2).count()
        n += esql(spark, 'FROM events | WHERE value >= 5.0 | STATS n = count(*), '
                         'total = sum(value) BY event_type | SORT total DESC | '
                         'LIMIT 5', {"events": events}).count()
        return n

    timed("extras_sweep", _extras_sweep)

    # round-5 ops: analyzer chain, binary quantization, order-insensitive
    # dedup, duplicate-filtered significance (NEW key — old keys comparable)
    from fafnir_spark.dedup import fingerprint_duplicates
    from fafnir_spark.query_ext import (
        html_strip_bm25,
        htmlify_docs,
        significant_text,
        stemmed_bm25,
    )
    from fafnir_spark.simsearch import bq_cosine_topk

    def _r5_sweep() -> int:
        n = stemmed_bm25(docs, ["merges", "queries", "windows"], k=10).count()
        n += html_strip_bm25(htmlify_docs(docs), ["merge", "anchor"], k=10).count()
        n += bq_cosine_topk(emb, qvecs, k=10).count()
        n += fingerprint_duplicates(docs).count()
        n += significant_text(docs, ["merge"], k=10).count()
        return n

    timed("r5_sweep", _r5_sweep)

    # session-9 ops: lenient bool grammar, TSDB rollup, best-hits sample,
    # tokenizer train->apply (NEW key — old keys stay comparable)
    from fafnir_spark.pipeline import downsample_tsdb, sampler_agg_terms
    from fafnir_spark.query_ext import simple_query_string_bm25
    from fafnir_spark.textstats import bpe_apply

    def _s9_sweep() -> int:
        events = spark.read.parquet(f"{sf_dir}/events.parquet")
        n = simple_query_string_bm25(docs, "merge window | vector -slow", k=10).count()
        n += downsample_tsdb(events, interval_hours=6).count()
        n += sampler_agg_terms(docs, ["merge", "window", "customer"],
                               shard_size=100).count()
        n += bpe_apply(docs, ["e r", "e s", "t h"], k=20).count()
        return n

    timed("s9_sweep", _s9_sweep)

    # session-10 ops: time-series joins + routed serving (NEW key — old
    # keys stay comparable). The routed build is part of the key: routing
    # is a build-time layout choice.
    from fafnir_spark.pipeline import asof_join, range_join
    from fafnir_spark.wand import routed_search

    def _s10_sweep() -> int:
        from pyspark.sql import functions as F

        events = spark.read.parquet(f"{sf_dir}/events.parquet")
        clicks = events.filter(F.col("event_type") == "click")
        n = asof_join(
            clicks, events.filter(F.col("event_type") == "purchase"),
            key="user_id", bucket_hours=24).count()
        iv = events.filter(F.col("event_type") == "error").select(
            F.col("event_id").alias("err_id"), "user_id",
            F.col("ts").alias("start"),
            (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("end"))
        n += range_join(clicks.select("user_id", "ts", "event_id"), iv,
                        key="user_id").count()
        rroot = os.path.join(work, "idx_routed")
        build_index(spark, normalize_docs(
            spark.read.parquet(f"{sf_dir}/documents.parquet"),
            id_col="doc_id", text_col="text"), rroot,
            n_parts=4, block_size=128, tokenizer="whitespace",
            build_id="bench_r", resume=False, routing_col="source")
        n += routed_search(spark, rroot, "src3",
                           {"q": ["merge", "window", "customer"]}, k=10).count()
        return n

    timed("s10_sweep", _s10_sweep)

    # session-11 sweep (NEW key): the EQL state machine, data-stream zone
    # pruning + count fast path, rollup-search merge, geo_shape SAT test,
    # KQL filter, anomaly baseline — this session's op families in one job
    def _s11_sweep() -> int:
        from pyspark.sql import functions as F

        from fafnir_spark.datastream import (
            build_data_stream, count_data_stream_range, data_stream_range_agg)
        from fafnir_spark.eql import eql_sequence
        from fafnir_spark.geo import trajectory_envelope_match
        from fafnir_spark.kql import kql_filter
        from fafnir_spark.pipeline import (
            anomaly_hourly, downsample_tsdb, rollup_search)

        events = spark.read.parquet(f"{sf_dir}/events.parquet")
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        n = eql_sequence(events, ["signup", "purchase"],
                         maxspan_secs=48 * 3600, until="error").count()
        dsroot = os.path.join(work, "ds_bench")
        build_data_stream(spark, events, dsroot)
        lo, hi = 1704412800 * 10**6, 1705968000 * 10**6 - 1
        n += data_stream_range_agg(spark, dsroot, lo, hi).count()
        n += count_data_stream_range(spark, dsroot, lo, hi).count()
        n += rollup_search(events, downsample_tsdb(events),
                           1705363200 * 10**6).count()
        n += trajectory_envelope_match(events, 0, 40, 25, 50).count()
        n += kql_filter(
            docs, "lang:en and (text:merge or text:window) "
                  "and n_chars >= 150").count()
        n += anomaly_hourly(events).count()
        return n

    timed("s11_sweep", _s11_sweep)

    def _s12_sweep() -> int:
        from fafnir_spark.curation import kneser_ney_logprob
        from fafnir_spark.pipeline import children_agg, derive_client_ips
        from fafnir_spark.esql import esql
        from fafnir_spark.query_ext import span_multi_prefix, suggest_context
        from fafnir_spark.scoring import search_as_you_type
        from fafnir_spark.search_api import runtime_search
        from fafnir_spark.simsearch import nested_knn_topk

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        events = spark.read.parquet(f"{sf_dir}/events.parquet")
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        qv = [((i * 37) % 29 - 14) / 15.0 for i in range(64)]
        n = search_as_you_type(docs, ["group", "merge", "cu"], k=10).count()
        n += kneser_ney_logprob(docs).count()
        n += nested_knn_topk(emb, qv, k=10).count()
        n += children_agg(docs, events).count()
        n += span_multi_prefix(docs, "s", "merge", slop=1).count()
        n += suggest_context(docs, "s", {"en": 2.0, "de": 1.0}).count()
        n += runtime_search(orders, {
            "runtime_mappings": {"band": {"type": "keyword", "script":
                "CASE(o_totalprice >= 150000, 'big', 'small')"}},
            "aggs": {"b": {"terms": {"field": "band", "size": 10}}},
        }).count()
        n += esql(spark, 'FROM access | WHERE CIDR_MATCH(ip, "10.3.0.0/16") '
                         '| STATS n = count(*) BY event_type',
                  {"access": derive_client_ips(events)}).count()
        return n

    timed("s12_sweep", _s12_sweep)

    def _s13_sweep() -> int:
        from fafnir_spark.es_sql import es_sql
        from fafnir_spark.esql import esql
        from fafnir_spark.layout import zorder_cells
        from fafnir_spark.search_api import scripted_metric
        from fafnir_spark.textstats import unigram_segment

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        events = spark.read.parquet(f"{sf_dir}/events.parquet")
        n = unigram_segment(docs, vocab_size=24, min_freq=2,
                            max_piece_len=4, seg_max_len=10).count()
        n += zorder_cells(events, "value", "user_id", bits=5).count()
        n += es_sql(docs, "SELECT source, count(*) AS n FROM documents "
                          "WHERE lang = 'en' GROUP BY source "
                          "HAVING n >= 2 ORDER BY n DESC, source ASC "
                          "LIMIT 10").count()
        n += scripted_metric(events, "event_type",
                             "CASE(value >= 50, value * 2, round(value, 0))",
                             "sum").count()
        n += esql(spark, 'FROM documents '
                         '| FORK ( EVAL _score = to_double(n_chars) '
                         '| SORT _score DESC, doc_id ASC | LIMIT 20 ) '
                         '( WHERE lang == "en" | EVAL nl = length(text) '
                         '| EVAL _score = to_double(nl) '
                         '| SORT _score DESC, doc_id ASC | LIMIT 20 ) '
                         '| FUSE 60 | LIMIT 15',
                  {"documents": docs}).count()
        return n

    timed("s13_sweep", _s13_sweep)

    # session-14 ops: event analytics + graph kernels + analyzers (NEW key
    # — old keys stay comparable)
    def _s14_sweep() -> int:
        from fafnir_spark.pipeline import (
            cohort_retention,
            funnel_steps,
            graph_bfs_hops,
        )
        from fafnir_spark.query_ext import accentify_docs, asciifolding_bm25
        from fafnir_spark.scoring import bm25_plus_topk
        from fafnir_spark.textstats import (
            hashing_tf,
            textrank_keywords,
            token_graph_triangles,
        )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        events = spark.read.parquet(f"{sf_dir}/events.parquet")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        n = funnel_steps(events).count()
        n += cohort_retention(events).count()
        n += textrank_keywords(docs).count()
        n += token_graph_triangles(docs).count()
        n += hashing_tf(docs).count()
        n += bm25_plus_topk(docs, ["merge", "window", "customer"], k=10).count()
        n += asciifolding_bm25(accentify_docs(docs), ["merge", "window"],
                               k=10).count()
        n += graph_bfs_hops(orders, li, [1, 2, 3, 5, 8], max_hops=3).count()
        return n

    timed("s14_sweep", _s14_sweep)

    # session-15 ops: attribution / journeys / T5 pairs / graph kernels /
    # Holt / CSV source (NEW key — old keys stay comparable)
    def _s15_sweep() -> int:
        from fafnir_spark.curation import span_corruption
        from fafnir_spark.pipeline import (
            attribution,
            graph_kcore,
            holt_linear,
            link_prediction,
            top_paths,
        )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        events = spark.read.parquet(f"{sf_dir}/events.parquet")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        n = attribution(events).count()
        n += top_paths(events).count()
        n += holt_linear(events).count()
        n += span_corruption(docs).count()
        n += graph_kcore(orders, li, k=3, rounds=5).count()
        n += link_prediction(orders, li, k=20).count()
        return n

    timed("s15_sweep", _s15_sweep)

    def _s17_sweep() -> int:
        from fafnir_spark.curation import ctfidf_terms
        from fafnir_spark.pipeline import (
            als_rank1,
            grouping_sets_agg,
            hampel_outliers,
            kruskal_wallis,
            pricing_summary,
            rake_keywords,
            scd2_build,
        )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        events = spark.read.parquet(f"{sf_dir}/events.parquet")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        n = kruskal_wallis(events).count()
        n += scd2_build(orders).count()
        n += pricing_summary(li).count()
        n += grouping_sets_agg(li).count()
        n += als_rank1(orders, li).count()
        n += hampel_outliers(events).count()
        n += rake_keywords(docs).count()
        n += ctfidf_terms(docs).count()
        return n

    timed("s17_sweep", _s17_sweep)

    # ---------- timed: synthetic corpus build + query (the scale proxy) ----
    # best of N reps: single-machine timings are noisy (shared sandbox);
    # the best rep is the least-contended measurement of the same work
    reps = int(os.environ.get("SPARK_GRAFT_BUILD_REPS", "2"))
    idx2 = os.path.join(work, "idx_synth")
    corpus = normalize_docs(spark.read.parquet(corpus_path))
    best = None
    for r in range(reps):
        t0 = time.time()
        build_index(spark, corpus, os.path.join(work, f"idx_synth{r}"), n_parts=max(8, cpus),
                    block_size=128, tokenizer="code", build_id="bench", resume=False)
        dt = time.time() - t0
        if best is None or dt < best:
            best, idx2 = dt, os.path.join(work, f"idx_synth{r}")
    timings["synth_build"] = round(best, 3)
    extras["synth_docs"] = n_synth
    extras["synth_docs_per_sec"] = round(n_synth / timings["synth_build"], 1)

    synth_q = {
        f"sq{i}": terms
        for i, terms in enumerate(
            [
                ["def", "return"],
                ["merge", "shard", "posting"],
                ["varint", "delta", "encode"],
                ["spawn", "channel", "retry"],
                ["bm25", "wand"],
                ["index", "query", "score"],
                ["struct", "impl", "match"],
                ["tokenize", "parse"],
                ["checkpoint", "resume", "snapshot"],
                ["broadcast", "shuffle", "partition"],
            ]
        )
    }
    timed("synth_query", lambda: run_queries(spark, idx2, synth_q, k=10, algo="bmw").collect())
    extras["synth_queries_per_sec"] = round(len(synth_q) / timings["synth_query"], 2)

    # warm-session latency: a long-lived Searcher (cached dictionary +
    # persisted postings) — what a deployed search service sees per batch
    from fafnir_spark.wand import Searcher

    s = Searcher(spark, idx2, persist_postings=True)
    s.search(synth_q, k=10).collect()  # warm the cache (untimed)
    timed("synth_query_warm", lambda: s.search(synth_q, k=10, algo="bmw").collect())
    s.close()
    extras["warm_queries_per_sec"] = round(len(synth_q) / timings["synth_query_warm"], 2)

    total = round(sum(timings.values()), 3)
    result = {
        "metric": "suite_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        **extras,
    }
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    sys.exit(main())
