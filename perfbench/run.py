"""perfbench: the repository benchmark for fafnir_spark.

Usage, from the repository root:

    python3 perfbench/run.py --workload search --seed 1 --seconds 10 --trace 0

Runs one workload (see workloads.py and perfbench/README.md) against the
package's public API in one Python process driving one local Spark session
with at most 4 cores. The inputs are written once; the program's set-up
runs several times and reports its median; then requests run in a closed
loop for ``--seconds``; then every result is checked against an independent
computation.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
line before it is the run's input record. Records and spans are also written
under ``.perfbench/out/``. Exits non-zero if any check failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
MAX_CORES = 4

END_TO_END = {"setup_s": "s", "memory_mb": "MB", "cpu_ms_per_op": "ms"}

# per-layer metric -> unit; a layer a workload leaves idle reports 0
PER_LAYER = {
    "tokenizer.docs_per_s": "docs/s",
    "build.jobs": "count", "build.stages": "count", "build.tasks": "count",
    "build.executor_s": "s", "build.driver_gap_s": "s", "build.shuffle_write_mb": "MB",
    "build.spill_mb": "MB", "build.task_skew": "ratio",
    "codec.encode_mb_per_s": "MB/s", "codec.decode_mb_per_s": "MB/s",
    "codec.bytes_per_posting": "B/posting",
    "catalog.manifest_read_ms": "ms", "catalog.postings_segments": "count",
    "catalog.index_mb": "MB",
    "wand.query_jobs": "count", "wand.query_tasks": "count", "wand.query_executor_ms": "ms",
    "wand.query_driver_gap_ms": "ms", "wand.dict_lookup_ms": "ms", "wand.block_read_ms": "ms",
    "wand.kernel_ms": "ms", "wand.kernel_exhaustive_ms": "ms", "wand.blocks_total": "count",
    "wand.blocks_decoded": "count", "wand.decode_ratio": "ratio", "wand.bmw_fallbacks": "count",
    "incremental.append_ms": "ms", "incremental.delete_ms": "ms", "incremental.compact_s": "s",
    "incremental.compactions": "count", "incremental.bulk_tombstones": "count",
    "query.jobs": "count", "query.tasks": "count", "query.executor_ms": "ms",
    "query.shuffle_write_mb": "MB", "query.driver_gap_ms": "ms",
    "query.bm25_batch_ms": "ms", "scoring.bm25_plus_ms": "ms", "scoring.lm_ms": "ms",
    "trace.overhead_pct": "%",
    "self_s.bench": "s", "self_s.build": "s", "self_s.incremental": "s", "self_s.wand": "s",
    "self_s.catalog": "s", "self_s.query": "s", "self_s.scoring": "s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("search", "ingest"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(root: str, work: str) -> None:
    """Keep every file Spark and its workers write inside ``work``, and let
    the Python workers import the package and the benchmark modules."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ.pop("SPARK_GRAFT_UI", None)  # keep spark.ui.enabled=false
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        # the status store must still hold every job of the run at its end
        "--conf spark.ui.retainedJobs=100000 --conf spark.ui.retainedStages=100000",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"--driver-java-options=-Djava.io.tmpdir={tmp}",
        "pyspark-shell",
    ])


def group_means(spans, groups, names) -> dict | None:
    """Status-store numbers of the spans called ``names``, averaged per call."""
    pairs = [(s, groups[s.group]) for s in spans if s.name in names and s.group in groups]
    if not pairs:
        return None

    def mean(f):
        return statistics.mean(f(s, g) for s, g in pairs)

    return {
        "jobs": mean(lambda s, g: g.jobs), "stages": mean(lambda s, g: g.stages),
        "tasks": mean(lambda s, g: g.tasks), "executor_ms": mean(lambda s, g: g.executor_ms),
        "driver_gap_ms": mean(lambda s, g: 1000 * g.driver_gap_s(s.start, s.end)),
        "shuffle_write_mb": mean(lambda s, g: g.shuffle_write_bytes / 1e6),
        "spill_mb": mean(lambda s, g: g.spill_bytes / 1e6),
        "task_skew": mean(lambda s, g: g.task_skew),
    }


def status_metrics(spans, groups) -> dict:
    out = {}
    m = group_means(spans, groups, ("incremental.append_index",))
    if m:
        out.update({f"build.{k}": m[k] for k in
                    ("jobs", "stages", "tasks", "shuffle_write_mb", "spill_mb", "task_skew")})
        out["build.executor_s"] = m["executor_ms"] / 1000
        out["build.driver_gap_s"] = m["driver_gap_ms"] / 1000
    m = group_means(spans, groups, ("wand.search", "wand.run_queries"))
    if m:
        out.update({f"wand.query_{k}": m[k] for k in
                    ("jobs", "tasks", "executor_ms", "driver_gap_ms")})
    m = group_means(spans, groups, ("query.bm25_topk_batch", "scoring.bm25_plus_topk",
                                    "scoring.lm_topk"))
    if m:
        out.update({f"query.{k}": m[k] for k in
                    ("jobs", "tasks", "executor_ms", "driver_gap_ms", "shuffle_write_mb")})
    return out


def layer_metrics(w, tracer, sc) -> dict:
    from sparkstats import read_groups
    from tracing import self_seconds_by_layer
    from workloads import CLASSES

    out = {name: 0.0 for name in PER_LAYER}
    for kind, key in (("append", "incremental.append_ms"), ("delete", "incremental.delete_ms")):
        ms = [o.ms for o in w.ops if o.kind == kind]
        if ms:
            out[key] = statistics.median(ms)
    # tracing overhead: traced over untraced median latency of requests of
    # the same query class, so the seed's class order does not bias it; a
    # run with no class on both sides (one ingest round) compares all
    # requests
    reqs = list(zip(w.reqs, (o for o in w.ops if o.kind in w.request_kinds)))

    def ratio(group):
        traced = [o.ms for _, o in group if o.traced]
        plain = [o.ms for _, o in group if not o.traced]
        return statistics.median(traced) / statistics.median(plain) if traced and plain else None

    ratios = [x for c in CLASSES if (x := ratio([p for p in reqs if p[0].cls == c]))]
    if not ratios and ratio(reqs):
        ratios = [ratio(reqs)]
    if ratios:
        out["trace.overhead_pct"] = 100 * (statistics.mean(ratios) - 1)
    for layer, secs in self_seconds_by_layer(tracer.spans).items():
        if f"self_s.{layer}" in out:
            out[f"self_s.{layer}"] = secs
    # replays run traced after the window, so their spans land in the trace
    tracer.enabled = True
    w.probe_layers(out)
    tracer.enabled = False
    out.update(status_metrics(tracer.spans, read_groups(sc)))
    return out


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "fafnir_spark", "__init__.py")):
        print("perfbench: fafnir_spark/ not found; run from the repository root",
              file=sys.stderr)
        return 2
    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    out_dir = os.path.join(base, "out")
    os.makedirs(out_dir, exist_ok=True)
    prepare_env(root, work)
    sys.path[:0] = [root, HERE]

    from fafnir_spark.session import get_spark
    from record import (PythonRssSampler, cpu_probe, cpu_ticks, jvm_retained_bytes,
                        revision, steal_share, tree_cpu_seconds)
    from tracing import Tracer
    from workloads import SETUP_REPS, WORKLOADS

    cores = min(MAX_CORES, os.cpu_count() or 1)
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", cores=cores)
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    try:
        tracer = Tracer(spark.sparkContext, enabled=False)
        w = WORKLOADS[args.workload](spark, tracer, args.seed, work, cores, bool(args.trace))
        errors: list[str] = []
        with PythonRssSampler() as rss:
            t0 = time.perf_counter()
            w.prepare()
            prepare_s = time.perf_counter() - t0
            setup_s = []
            for rep in range(SETUP_REPS):
                t0 = time.perf_counter()
                w.setup(rep)
                setup_s.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            w.fill()
            fill_s = time.perf_counter() - t0
            probe_start = cpu_probe(spark, cores)
            ticks, cpu0 = cpu_ticks(), tree_cpu_seconds(os.getpid())
            t_start = time.perf_counter()
            deadline = t_start + args.seconds
            while time.perf_counter() < deadline + w.untimed_s:
                try:
                    w.step()
                except Exception:
                    errors.append(traceback.format_exc())
                    break
            tracer.enabled = False
            window_s = time.perf_counter() - t_start - w.untimed_s
            window_cpu_s = tree_cpu_seconds(os.getpid()) - cpu0 - w.untimed_cpu_s
            steal = steal_share(ticks, cpu_ticks())
        # after the window: a full collection before it would shrink the
        # heap the window starts with and so move its CPU time
        jvm_bytes = jvm_retained_bytes(spark)
        if args.trace:
            metrics = layer_metrics(w, tracer, spark.sparkContext)
            tracer.write(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
            units = PER_LAYER
        else:
            metrics = {"setup_s": statistics.median(setup_s),
                       "memory_mb": (jvm_bytes + rss.peak_bytes) / 1e6,
                       "cpu_ms_per_op": 1000 * window_cpu_s / len(w.ops)}
            units = END_TO_END
        t0 = time.perf_counter()
        w.check()
        check_s = time.perf_counter() - t0
        probe_end = cpu_probe(spark, cores)
        conf = spark.conf
        attempted = len(w.ops)
        failed = len(w.failures) + len(errors)
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "revision": revision(root),
            "spark": {"cores": cores, "shuffle_partitions": int(conf.get("spark.sql.shuffle.partitions")),
                      "driver_memory": conf.get("spark.driver.memory")},
            "cpu_probe": {"start": probe_start, "end": probe_end},
            "window_cpu_steal": round(steal, 4),
            "session_start_s": round(session_s, 3), "prepare_s": round(prepare_s, 3), "setup_s": [round(s, 3) for s in setup_s],
            "fill_s": round(fill_s, 3),
            "memory_mb": {"jvm_retained": round(jvm_bytes / 1e6, 1),
                          "python_rss_peak": round(rss.peak_bytes / 1e6, 1)},
            "window_s": round(window_s, 3), "window_cpu_s": round(window_cpu_s, 3),
            "check_s": round(check_s, 3),
            "requests": len(w.latencies()), "ops": attempted,
            "ops_per_s": 1000 * attempted / sum(o.ms for o in w.ops),
            "inputs": w.inputs(),
            "named": {k: {"value": v, "unit": u} for k, (v, u) in w.named().items()},
            "error_rate": failed / max(attempted, 1),
            "failures": (w.failures + errors)[:20],
        }
        w.close()
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(out_dir, f"record-{args.workload}-{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    for failure in record["failures"]:
        print(failure, file=sys.stderr)
    print("record " + json.dumps(record, separators=(",", ":")))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
