#!/usr/bin/env python
"""Large-scale witness runs: one entry point for every scale suite.

    python scripts/scale.py SUITE [--fraction F]

SUITE is a key of ``SUITES`` (``1m``, ``ann``, ``joins``, ``s12``, ``s13``,
``s14``, ``s15``, ``s17``, ``skew``). ``--fraction`` scales every default
input size (never below ``MIN_ROWS``); key cardinalities follow the sizes,
so a smaller run keeps the shape of the full one. Cores come from
``$SPARK_GRAFT_CPUS`` (default 16). Run exclusively: a concurrent Spark job
skews task times.

Every op, input generation included, runs in its own ``Tracer`` span (one
Spark job group). Right after it, the status store is read through
``perfbench/sparkstats.read_groups``, so each op's record carries its own
jobs, stages, tasks, executor time, shuffle, spill, task skew and driver
gap before the store can evict them. ``max_stage_skew`` adds the max/median
task-time ratio over all of the op's stages (``task_skew`` covers the
widest stage only).

Writes ``BENCH/scale_<suite>.json`` for the full-size headline run (fraction 1
at 16 cores) and ``BENCH/scale_<suite>_f<F>_c<cores>.json`` for any other, so
a reduced run never overwrites the headline. The record holds the sizes,
headline keys per op
(``<op>_rows``, ``<op>_sec``, ``<op>_<size>_per_sec``, plus op extras such
as recall or ``bytes_per_posting``) and ``ops``, the per-op records. The
work dir is removed when the suite ends. Importing this module starts no
Spark; ``run_suite`` runs a suite on a caller's session.
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import shutil
import sys
import tempfile
from types import SimpleNamespace

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)
sys.path.append(os.path.join(REPO, "perfbench"))

from pyspark.sql import functions as F  # noqa: E402
from sparkstats import _QUANTILES, _seq, read_groups  # noqa: E402
from tracing import Tracer  # noqa: E402

from fafnir_spark import curation, dedup, layout, pipeline, textstats  # noqa: E402
from fafnir_spark.build import build_index, normalize_docs  # noqa: E402
from fafnir_spark.corpus import synth_corpus  # noqa: E402
from fafnir_spark.es_sql import es_sql  # noqa: E402
from fafnir_spark.query import bm25_topk  # noqa: E402
from fafnir_spark.scoring import search_as_you_type  # noqa: E402
from fafnir_spark.simsearch import build_ivf_index, ivf_search  # noqa: E402
from fafnir_spark.wand import run_queries  # noqa: E402

MIN_ROWS = 1000
CENTROIDS = 64  # IVF centroids: constant, whatever the fraction
HEADLINE_CPUS = 16  # cores behind the committed BENCH/scale_<suite>.json
DIM = 64
HOT = "hotskewterm"


def _h(i: int = 0):
    """A deterministic per-row hash of spark.range's ``id``."""
    return F.xxhash64(F.col("id") + F.lit(i))


def _mod(i: int, n: int):
    return F.pmod(_h(i), F.lit(max(1, n)))


def _parquet(S, name: str, df):
    path = os.path.join(S.work, name)
    df.write.parquet(path)
    return S.spark.read.parquet(path)


# ---- generators: one per synthetic input ---------------------------------

def code_corpus(S, hot: str | None = None) -> int:
    """Synthetic source files; ``hot`` appends one term to EVERY document
    (df = n_docs, the skew witness)."""
    df = synth_corpus(S.spark, S.n["docs"])
    if hot:
        df = df.withColumn("content", F.concat(F.col("content"), F.lit(" " + hot)))
    S.corpus = normalize_docs(_parquet(S, "corpus", df))
    S.docs = S.corpus.select("doc_id", F.col("content").alias("text"))
    return S.n["docs"]


def clickstream(S) -> int:
    """Events of 5 types over 60 days, one user per 50 events."""
    n = S.n["events"]
    types = F.array(*[F.lit(t) for t in ("signup", "view", "click", "purchase", "error")])
    S.events = _parquet(S, "events", S.spark.range(n).select(
        F.col("id").alias("event_id"),
        F.timestamp_seconds(F.lit(1704067200) + _mod(0, 86400 * 60)).alias("ts"),
        _mod(1, n // 50).alias("user_id"),
        F.element_at(types, (_mod(2, 5) + 1).cast("int")).alias("event_type"),
        (_mod(7, 1000) / 10.0).alias("value")))
    return n


def order_tables(S, n_orders: int, n_lines: int, custs: int, supps: int) -> int:
    """TPC-H-style orders and lineitem; their (o_custkey, l_suppkey) join is
    the order graph."""
    prio = F.array(*[F.lit(p) for p in ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT", "5-LOW")])
    S.orders = _parquet(S, "orders", S.spark.range(n_orders).select(
        F.col("id").alias("o_orderkey"),
        _mod(3, custs).alias("o_custkey"),
        F.lit("O").alias("o_orderstatus"),
        (_mod(4, 100000) / 100.0 + 1.0).alias("o_totalprice"),
        F.timestamp_seconds(F.lit(694224000) + _mod(5, 86400 * 2000)).alias("o_orderdate"),
        F.element_at(prio, (_mod(6, 5) + 1).cast("int")).alias("o_orderpriority")))
    S.lineitem = _parquet(S, "lineitem", S.spark.range(n_lines).select(
        _mod(0, n_orders).alias("l_orderkey"),
        _mod(1, n_lines // 200).alias("l_partkey"),
        _mod(2, supps).alias("l_suppkey"),
        F.lit(1).alias("l_linenumber"),
        (_mod(3, 50) + 1).cast("double").alias("l_quantity"),
        (_mod(4, 9_000_000) / 100.0 + 900.0).alias("l_extendedprice"),
        (_mod(5, 11) / 100.0).alias("l_discount"),
        (_mod(6, 9) / 100.0).alias("l_tax"),
        F.element_at(F.array(F.lit("A"), F.lit("N"), F.lit("R")),
                     (_mod(7, 3) + 1).cast("int")).alias("l_returnflag"),
        F.element_at(F.array(F.lit("F"), F.lit("O")),
                     (_mod(8, 2) + 1).cast("int")).alias("l_linestatus"),
        F.timestamp_seconds(F.lit(694224000) + _mod(9, 86400 * 2400)).alias("l_shipdate")))
    return n_orders + n_lines


def order_graph(S) -> int:
    """~4 lines per order, 5 orders per customer, 200 lines per supplier."""
    e = S.n["edges"]
    return order_tables(S, e // 4, e, custs=e // 20, supps=e // 200)


def vectors(S) -> int:
    """DIM-d vectors in [-1, 1] from xxhash64(vec_id, i), label = id % 8."""
    comp = [(F.pmod(F.xxhash64(F.col("id"), F.lit(i)), F.lit(2000001)) - F.lit(1000000))
            / F.lit(1000000.0) for i in range(DIM)]
    S.vecs = _parquet(S, "vectors", S.spark.range(S.n["vectors"]).select(
        F.col("id").alias("vec_id"), F.array(*comp).alias("embedding"),
        F.pmod(F.col("id"), F.lit(8)).cast("int").alias("label")))
    return S.n["vectors"]


def join_events(S) -> int:
    """Events over ~3 years on 1000 keys, squared-hash folded so about half
    of the rows fall on <2% of the keys (the hot-key witness)."""
    h1, h2 = F.abs(_h(0)), F.abs(F.xxhash64("id", F.lit(1)))
    S.jev = _parquet(S, "join_events", S.spark.range(S.n["rows"]).select(
        F.col("id").alias("event_id"),
        F.pmod(F.pmod(h1, F.lit(1000)) * F.pmod(h1, F.lit(1000)), F.lit(1000))
        .cast("long").alias("key"),
        F.timestamp_micros((F.lit(1_700_000_000_000_000)
                            + F.pmod(h2, F.lit(100_000_000_000_000))).cast("long")).alias("ts"),
        F.pmod(F.col("id"), F.lit(4)).alias("side"),
        (F.pmod(h2, F.lit(10_000)) / 100.0).alias("value")))
    S.points = S.jev.filter(F.col("side") != 0)  # 3/4 of the rows
    S.right = S.jev.filter(F.col("side") == 0)
    return S.n["rows"]


def name_registry(S) -> int:
    S.names = _parquet(S, "names", S.spark.range(S.n["names"]).select(
        F.col("id").alias("c_custkey"),
        F.format_string("Customer#%09d", F.col("id")).alias("c_name")))
    return S.n["names"]


# ---- ops that need more than one call ------------------------------------

def _build(S, n_parts: int) -> dict:
    m = build_index(S.spark, S.corpus, os.path.join(S.work, "idx"), n_parts=n_parts,
                    block_size=128, tokenizer="code", build_id="big", resume=False)
    return {"rows": m["postings"], "bytes_compressed": m["bytes"],
            "bytes_per_posting": round(m["bytes"] / m["postings"], 2)}


def _dedup_docs(S):
    every = max(1, S.n["docs"] // S.n["dedup_docs"])
    return S.docs.filter(F.pmod(F.col("doc_id"), F.lit(every)) == 0)


QUERIES = {f"q{i}": t for i, t in enumerate([
    ["def", "return"], ["merge", "shard", "posting"], ["varint", "delta"],
    ["bm25", "wand"], ["checkpoint", "resume", "snapshot"],
    ["broadcast", "shuffle", "partition"], ["tokenize", "parse"],
    ["index", "query", "score"], ["spawn", "channel", "retry"], ["struct", "impl"]])}
QVECS = {f"q{j}": [((j * 131 + i * 37) % 29 - 14) / 15.0 for i in range(DIM)]
         for j in range(8)}


def _ivf(S, nprobe: int, **kw) -> dict:
    rows = ivf_search(S.spark, os.path.join(S.work, "ivf"), QVECS, k=10, nprobe=nprobe,
                      **kw).collect()
    S.hits[nprobe] = {(r["qid"], r["vec_id"]) for r in rows}
    return {"rows": len(rows)}


def _recall(S) -> dict:
    """nprobe = CENTROIDS is exhaustive. Near-uniform synthetic vectors are
    IVF's worst case, so these recalls are a floor."""
    out = _ivf(S, CENTROIDS)
    full = S.hits[CENTROIDS]
    for p in (4, 16):
        out[f"recall_nprobe{p}_vs_exhaustive"] = round(
            len(S.hits[p] & full) / max(len(full), 1), 3)
    return out


def _ivf_build(S) -> int:
    build_ivf_index(S.spark, S.vecs, os.path.join(S.work, "ivf"), n_centroids=CENTROIDS)
    return S.n["vectors"]


def _zorder_write(S) -> int:
    """Z-order clusters uniform (x, y) points, generated inside the op."""
    pts = S.spark.range(S.n["points"]).select(
        F.col("id").alias("rid"), (_mod(0, 100_000) / 100.0).alias("x"),
        (_mod(3, 100_000) / 100.0).alias("y"))
    layout.write_zordered(pts, "x", "y", os.path.join(S.work, "z"), n_files=64, bits=8)
    return S.n["points"]


def _zorder_box(S) -> dict:
    df, info = layout.read_zordered_box(S.spark, os.path.join(S.work, "z"),
                                        (100.0, 150.0), (100.0, 150.0))
    return {"rows": df.count(), "files_read": info["files_read"],
            "files_total": info["files_total"],
            "prune_ratio": round(info["files_read"] / max(1, info["files_total"]), 3)}


def _span_corruption(S) -> dict:
    a = curation.span_corruption(S.docs).agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_tokens").alias("nt"),
        F.sum("n_masked").alias("nm")).collect()[0]
    return {"rows": a.n, "mask_rate": round(a.nm / a.nt, 4)}


def _asof(S) -> int:
    return pipeline.asof_join(S.points, S.right, key="key", bucket_hours=24 * 7).filter(
        F.col("asof_value").isNotNull()).count()


def _range(S) -> int:
    iv = S.right.select(F.col("event_id").alias("iv_id"), "key", F.col("ts").alias("start"),
                        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("end"))
    return pipeline.range_join(S.points.select("key", "ts", "event_id"), iv,
                               key="key").count()


# ---- the suites: (op, fn(S) -> rows | {"rows": ..., extras}, per-sec size)

def _count(f):
    return lambda S: f(S).count()


EVENT_OPS = {
    "s14": ["funnel_steps", "cohort_retention", "event_transitions", "rfm_segments",
            "association_rules"],
    "s15": ["attribution", "top_paths", "holt_linear"],
    "s17": ["kruskal_wallis", "chi2_independence", "logrank_test", "gains_deciles",
            "qini_uplift", "diff_in_diff"],
}


def _event_ops(suite: str) -> list:
    return [(name, _count(lambda S, fn=getattr(pipeline, name): fn(S.events)), "events")
            for name in EVENT_OPS[suite]]


SUITES = {
    "1m": ({"docs": 1_000_000, "dedup_docs": 250_000}, [
        ("corpus", code_corpus, "docs"),
        ("warmup_build", lambda S: build_index(
            S.spark, S.corpus.limit(2000), os.path.join(S.work, "w"), n_parts=8,
            tokenizer="code", build_id="w", resume=False)["postings"], None),
        ("build", lambda S: _build(S, max(16, S.cpus)), "docs"),
        ("query_batch", lambda S: len(run_queries(
            S.spark, os.path.join(S.work, "idx"), QUERIES, k=10, algo="bmw").collect()), None),
        ("minhash_lsh", _count(lambda S: dedup.minhash_lsh_pairs(
            _dedup_docs(S), num_hashes=12, bands=4, threshold=0.5)), "dedup_docs"),
        ("minhash_fast", _count(lambda S: dedup.minhash_lsh_pairs(
            _dedup_docs(S), num_hashes=12, bands=4, threshold=0.5, fast=True)), "dedup_docs"),
        ("winnow", _count(lambda S: dedup.winnow_overlap(
            _dedup_docs(S), k=4, w=5, min_shared=3)), "dedup_docs"),
    ]),
    "ann": ({"vectors": 500_000}, [
        ("vectors", vectors, "vectors"),
        ("ivf_build", _ivf_build, "vectors"),
        ("warmup_search", lambda S: len(ivf_search(
            S.spark, os.path.join(S.work, "ivf"), {"w": QVECS["q0"]}, k=5,
            nprobe=2).collect()), None),
        ("search8_nprobe4", lambda S: _ivf(S, 4), None),
        ("search8_nprobe16", lambda S: _ivf(S, 16), None),
        (f"search8_nprobe{CENTROIDS}", _recall, None),
        ("filtered_search8_nprobe16", lambda S: _ivf(
            S, 16, eligible=S.vecs.filter(F.col("label").isin([1, 3])).select("vec_id")),
         None),
    ]),
    "joins": ({"rows": 10_000_000}, [
        ("join_events", join_events, "rows"),
        ("warmup_asof", lambda S: pipeline.asof_join(
            S.points.limit(10_000), S.right.limit(10_000), key="key", bucket_hours=24).count(),
         None),
        ("asof", _asof, "rows"),
        ("range", _range, "rows"),
    ]),
    "s12": ({"docs": 250_000, "edges": 2_000_000}, [
        ("corpus", code_corpus, "docs"),
        ("containment", _count(lambda S: dedup.containment_pairs(
            dedup.excerpt_docs(S.docs), threshold=0.8)), "docs"),
        ("kneser_ney", _count(lambda S: curation.kneser_ney_logprob(S.docs)), "docs"),
        ("sayt", lambda S: len(search_as_you_type(
            S.docs, ["def", "return", "me"], k=10).collect()), None),
        ("order_graph", order_graph, "edges"),
        ("pagerank", _count(lambda S: pipeline.graph_pagerank(
            S.orders, S.lineitem, iters=3, damping=0.85, k=20)), "edges"),
    ]),
    "s13": ({"docs": 250_000, "points": 5_000_000, "events": 5_000_000}, [
        ("corpus", code_corpus, "docs"),
        ("unigram_vocab", _count(lambda S: textstats.unigram_vocab(S.docs, vocab_size=256)),
         None),
        ("unigram_segment", _count(lambda S: textstats.unigram_segment(
            S.docs, vocab_size=256, seg_max_len=10)), "docs"),
        ("zorder_write", _zorder_write, "points"),
        ("zorder_box", _zorder_box, None),
        ("clickstream", clickstream, "events"),
        ("ewma", _count(lambda S: pipeline.moving_ewma(S.events)), None),
        ("es_sql", _count(lambda S: es_sql(
            S.events, "SELECT event_type, count(*) AS n, round(avg(value), 6) AS a "
            "FROM events WHERE value >= 50.0 GROUP BY event_type HAVING n >= 2 "
            "ORDER BY n DESC, event_type ASC LIMIT 20")), None),
    ]),
    "s14": ({"docs": 250_000, "events": 5_000_000, "names": 1_000_000}, [
        ("clickstream", clickstream, "events"),
        *_event_ops("s14"),
        ("corpus", code_corpus, "docs"),
        ("textrank", _count(lambda S: textstats.textrank_keywords(S.docs, iters=3, k=20)),
         None),
        ("triangles", _count(lambda S: textstats.token_graph_triangles(S.docs, k=20)), None),
        ("hashing_tf", _count(lambda S: textstats.hashing_tf(S.docs, doc_mod=1)), "docs"),
        ("names", name_registry, "names"),
        ("linkage", _count(lambda S: dedup.record_linkage_pairs(
            dedup.dirtify_names(S.names), S.names)), "names"),
    ]),
    "s15": ({"docs": 250_000, "events": 5_000_000, "edges": 2_000_000}, [
        ("clickstream", clickstream, "events"),
        *_event_ops("s15"),
        ("corpus", code_corpus, "docs"),
        ("span_corruption", _span_corruption, "docs"),
        ("order_graph", order_graph, "edges"),
        ("kcore", _count(lambda S: pipeline.graph_kcore(S.orders, S.lineitem, k=8, rounds=5)),
         "edges"),
        ("linkpred", _count(lambda S: pipeline.link_prediction(
            S.orders, S.lineitem, k=20, max_deg=64)), "edges"),
    ]),
    "s17": ({"events": 5_000_000, "orders": 5_000_000, "lines": 10_000_000}, [
        ("clickstream", clickstream, "events"),
        *_event_ops("s17"),
        ("order_tables", lambda S: order_tables(
            S, S.n["orders"], S.n["lines"], custs=S.n["orders"] // 25,
            supps=S.n["lines"] // 2000), None),
        ("scd2", _count(lambda S: pipeline.scd2_build(S.orders)), "orders"),
        ("pricing", _count(lambda S: pipeline.pricing_summary(S.lineitem)), "lines"),
        ("rollup", _count(lambda S: pipeline.grouping_sets_agg(S.lineitem)), None),
        ("als", _count(lambda S: pipeline.als_rank1(S.orders, S.lineitem)), "lines"),
    ]),
    "skew": ({"docs": 1_000_000}, [
        ("corpus", lambda S: code_corpus(S, hot=HOT), "docs"),
        ("build", lambda S: _build(S, 16), "docs"),
        ("indexed_hot_query", lambda S: len(run_queries(
            S.spark, os.path.join(S.work, "idx"), {"hot": [HOT], "hot2": [HOT, "def"]},
            k=10, algo="exhaustive").collect()), None),
        ("direct_hot_query", lambda S: len(bm25_topk(S.docs, [HOT, "def"], k=10).collect()),
         None),
    ]),
}


# ---- the loop -------------------------------------------------------------

_TRACER: Tracer | None = None


def _tracer(sc) -> Tracer:
    """One tracer per SparkContext: its span ids, and so its job-group
    names, never repeat within the status store."""
    global _TRACER
    if _TRACER is None or _TRACER.sc is not sc:
        _TRACER = Tracer(sc, enabled=True)
    return _TRACER


def max_stage_skew(sc, group: str) -> float | None:
    """Max over the group's stages (with ≥ 2 tasks) of max/median task
    time, from the same status store ``read_groups`` reads; looked up by
    the group's job ids, so the cost does not grow with the store."""
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    q = gw.new_array(gw.jvm.double, len(_QUANTILES))
    for i, v in enumerate(_QUANTILES):
        q[i] = v
    worst = None
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        for sid in _seq(store.job(jid).stageIds()):
            for s in _seq(store.stageData(sid, False, None, True, q)):
                if s.numCompleteTasks() < 2 or not s.taskMetricsDistributions().isDefined():
                    continue
                med, mx = _seq(s.taskMetricsDistributions().get().executorRunTime())
                if med > 0:
                    worst = max(worst or 0.0, mx / med)
    return None if worst is None else round(worst, 2)


def _op_record(sc, g, sp, rows) -> dict:
    return {
        "rows": rows, "sec": round(sp.seconds, 2), "jobs": g.jobs, "stages": g.stages,
        "tasks": g.tasks, "executor_ms": round(g.executor_ms),
        "shuffle_read_mb": round(g.shuffle_read_bytes / 1e6, 1),
        "shuffle_write_mb": round(g.shuffle_write_bytes / 1e6, 1),
        "spill_mb": round(g.spill_bytes / 1e6, 1), "task_skew": round(g.task_skew, 2),
        "max_stage_skew": max_stage_skew(sc, sp.group),
        "driver_gap_s": round(g.driver_gap_s(sp.start, sp.end), 2),
    }


def sizes(suite: str, fraction: float) -> dict:
    return {k: max(MIN_ROWS, int(v * fraction)) for k, v in SUITES[suite][0].items()}


def run_suite(spark, suite: str, fraction: float = 1.0, tmp: str | None = None) -> dict:
    """Run one suite on ``spark``; return its record. The work dir is made
    under ``tmp`` (default: the system temp dir) and always removed.

    ``read_groups`` walks the whole status store (~2.4 s per call at the
    default 1000-job retention on a 4-vCPU host), so finished ops wait for
    one shared read. The read comes before the ops since the last one have
    submitted half as many stages as the store retains, so none of their
    jobs or stages can be evicted first."""
    sc = spark.sparkContext
    tracer = _tracer(sc)
    conf = sc.getConf()
    read_every = min(int(conf.get("spark.ui.retainedJobs", "1000")),
                     int(conf.get("spark.ui.retainedStages", "1000"))) // 2
    n = sizes(suite, fraction)
    out = {"suite": suite, "fraction": fraction, "cpus": sc.defaultParallelism, **n}
    ops = out["ops"] = {}
    pending, stages = [], 0

    def read() -> None:
        groups = read_groups(sc)
        for name, sp, rows in pending:
            ops[name] = _op_record(sc, groups[sp.group], sp, rows)
            print(json.dumps({"op": name, **ops[name]}), flush=True)
        pending.clear()

    S = SimpleNamespace(spark=spark, n=n, cpus=sc.defaultParallelism, hits={},
                        work=tempfile.mkdtemp(prefix=f"fafnir_scale_{suite}_", dir=tmp))
    try:
        for name, fn, per in SUITES[suite][1]:
            with tracer.span(name) as sp:
                res = fn(S)
            res = res if isinstance(res, dict) else {"rows": res}
            rows = res.pop("rows")
            pending.append((name, sp, rows))
            out[f"{name}_rows"] = rows
            out[f"{name}_sec"] = round(sp.seconds, 2)
            if per:
                out[f"{name}_{per}_per_sec"] = round(n[per] / max(sp.seconds, 1e-9), 1)
            out.update({f"{name}_{k}": v for k, v in res.items()})
            st = sc.statusTracker()
            stages += sum(len(st.getJobInfo(j).stageIds) for j in st.getJobIdsForGroup(sp.group))
            if stages >= read_every:
                read()
                stages = 0
        read()
    finally:
        shutil.rmtree(S.work, ignore_errors=True)
    out["generated_at"] = datetime.datetime.now().isoformat(timespec="seconds")
    return out


def out_path(suite: str, fraction: float, cpus: int) -> str:
    """Where a run's record goes: the plain name only for the headline run."""
    tag = "" if (fraction, cpus) == (1.0, HEADLINE_CPUS) else f"_f{fraction:g}_c{cpus}"
    return os.path.join(REPO, "BENCH", f"scale_{suite}{tag}.json")


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("suite", choices=sorted(SUITES))
    ap.add_argument("--fraction", type=float, default=1.0,
                    help="scale every default input size by F")
    args = ap.parse_args(argv)
    from fafnir_spark.session import get_spark

    # Python workers import fafnir_spark too, whatever the working dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", HEADLINE_CPUS))
    spark = get_spark(f"scale-{args.suite}", cores=cpus)
    try:
        out = run_suite(spark, args.suite, args.fraction)
    finally:
        spark.stop()
    with open(out_path(args.suite, args.fraction, cpus), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({k: v for k, v in out.items() if k != "ops"}))


if __name__ == "__main__":
    main()
