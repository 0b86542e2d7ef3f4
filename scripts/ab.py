"""Interleaved A/B of the repo benchmark: a base revision against the
working tree, in alternating fresh processes.

Usage: python scripts/ab.py BASE_REV --perfbench WORKLOAD --seed N [--pairs P]
                            [--trace 0|1]

``git archive BASE_REV`` is unpacked into a temporary directory under
/tmp. Each pair runs ``perfbench/run.py`` once from that directory (the
parent) and once from the repository root (the change), each in a fresh
process; odd pairs run the parent first and even pairs the change first,
so a drifting host does not favour one side. The window length is
BENCHMARK.json's run_seconds. The host swings up to ~2x between windows,
so only paired ratios say which side is faster.

Prints, per end-to-end metric of BENCHMARK.json (or per reported metric
with --trace 1): each side's median and quartiles, the paired ratios
(change / parent), the number of pairs the change wins, and each side's
failed operations. Writes the runs and the summary to
``BENCH/ab/<workload>-seed<N>-t<trace>-<base>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("base_rev")
    p.add_argument("--perfbench", required=True, metavar="WORKLOAD")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--pairs", type=int, default=3)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def run_once(cwd: str, args, seconds: float) -> dict:
    """One fresh-process perfbench run; its last stdout line, plus the
    window's CPU steal from the record line."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", args.perfbench,
           "--seed", str(args.seed), "--seconds", str(seconds), "--trace", str(args.trace)]
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        out = json.loads(lines[-1])
        record = json.loads(next(ln for ln in lines if ln.startswith("record "))[7:])
    except (IndexError, StopIteration, json.JSONDecodeError):
        return {"returncode": proc.returncode, "failed": None, "metrics": {},
                "stderr_tail": proc.stderr[-2000:]}
    return {"returncode": proc.returncode, "failed": out["failed"],
            "attempted": out["attempted"],
            "metrics": {k: v["value"] for k, v in out["metrics"].items()},
            "window_cpu_steal": record.get("window_cpu_steal")}


def quartiles(xs: list[float]) -> list[float]:
    if len(xs) < 2:
        return [xs[0]] * 3 if xs else []
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return [q1, q2, q3]


def summarize(pairs: list[dict], better: dict[str, str]) -> dict:
    names = sorted({k for p in pairs for side in ("parent", "change")
                    for k in p[side]["metrics"]})
    out = {}
    for name in names:
        both = [p for p in pairs
                if name in p["parent"]["metrics"] and name in p["change"]["metrics"]]
        par = [p["parent"]["metrics"][name] for p in both]
        chg = [p["change"]["metrics"][name] for p in both]
        ratios = [c / b if b else float("nan") for b, c in zip(par, chg)]
        lower = better.get(name, "lower") == "lower"
        wins = sum((c < b) if lower else (c > b) for b, c in zip(par, chg))
        qp, qc = quartiles(par), quartiles(chg)
        out[name] = {
            "better": "lower" if lower else "higher",
            "parent": par, "change": chg,
            "parent_q1_median_q3": qp, "change_q1_median_q3": qc,
            "parent_iqr": (qp[2] - qp[0]) if qp else None,
            "ratios": ratios, "change_wins": wins, "pairs": len(both),
        }
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    better = {m["name"]: m["better"]
              for m in bench.get("end_to_end", []) + bench.get("per_layer", [])}
    base_dir = tempfile.mkdtemp(prefix="ab-base-", dir="/tmp")
    try:
        archive = subprocess.run(["git", "archive", args.base_rev], cwd=ROOT,
                                 capture_output=True, check=True).stdout
        subprocess.run(["tar", "-x", "-C", base_dir], input=archive, check=True)
        pairs = []
        for i in range(args.pairs):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            pair = {"order": list(order)}
            for side in order:
                pair[side] = run_once(base_dir if side == "parent" else ROOT, args, seconds)
            pairs.append(pair)
            print(f"pair {i + 1}/{args.pairs} ({'-'.join(order)}): " + json.dumps(
                {s: pair[s]["metrics"] for s in ("parent", "change")}), flush=True)
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)

    summary = summarize(pairs, better)
    failed = {s: [p[s]["failed"] for p in pairs] for s in ("parent", "change")}
    steal = {s: [p[s].get("window_cpu_steal") for p in pairs] for s in ("parent", "change")}
    for name, m in summary.items():
        print(f"{name} ({m['better']} is better): "
              f"parent q1/med/q3 {'/'.join(f'{x:.4g}' for x in m['parent_q1_median_q3'])}, "
              f"change {'/'.join(f'{x:.4g}' for x in m['change_q1_median_q3'])}; "
              f"ratios {' '.join(f'{r:.3f}' for r in m['ratios'])}; "
              f"change wins {m['change_wins']}/{m['pairs']}")
    print(f"failed ops: parent {failed['parent']}, change {failed['change']}")
    print(f"window cpu steal: parent {steal['parent']}, change {steal['change']}")

    rev = subprocess.run(["git", "rev-parse", "--short", args.base_rev], cwd=ROOT,
                         capture_output=True, text=True).stdout.strip() or args.base_rev
    out_dir = os.path.join(ROOT, "BENCH", "ab")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.perfbench}-seed{args.seed}-t{args.trace}-{rev}.json")
    with open(path, "w") as f:
        json.dump({"base_rev": args.base_rev, "workload": args.perfbench, "seed": args.seed,
                   "seconds": seconds, "trace": args.trace, "pairs": pairs,
                   "summary": summary, "failed": failed}, f, indent=1)
    print(f"wrote {os.path.relpath(path, ROOT)}")
    return 0 if all(f == 0 for fs in failed.values() for f in fs) else 1


if __name__ == "__main__":
    sys.exit(main())
