"""Fixed CPU cost of a Python UDF task, read from /proc.

Usage: python scripts/udf_task_cost.py [JOBS]

Runs two do-nothing jobs whose UDF calls package code (so the worker
imports ``fafnir_spark`` as every engine UDF does) on a local[4] session:

  apply  a trivial ``applyInPandas`` over one group (one Python task)
  map    ``mapInPandas`` over 8 partitions (eight Python tasks)

Each case warms up for 2 jobs, then runs JOBS (default 10) measured jobs.
CPU is the utime+stime (+ reaped children) of this process tree, split by
executable as perfbench/record.py does: Python workers (python processes
other than this driver), the JVM, and this driver. Prints one JSON line
per case with ms per job and Python-worker ms per task.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# the session's Python workers import the package from the repo
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

from fafnir_spark.session import get_spark  # noqa: E402
from fafnir_spark.wand import RESULT_SCHEMA, _result_frame  # noqa: E402
from perfbench.record import _children_of, _exe  # noqa: E402

_TCK = os.sysconf("SC_CLK_TCK")


def cpu_by_exe() -> dict[str, float]:
    """CPU seconds of this process tree by role: worker, jvm, driver."""
    me = os.getpid()
    kids = _children_of()
    out = {"worker": 0.0, "jvm": 0.0, "driver": 0.0}
    todo = [me]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        s = sum(int(x) for x in fields[11:15]) / _TCK
        if pid == me:
            # this driver's reaped children would include the JVM at exit;
            # while it runs, utime+stime alone are the driver's own CPU
            out["driver"] += sum(int(x) for x in fields[11:13]) / _TCK
        elif os.path.basename(_exe(pid)).startswith("python"):
            out["worker"] += s
        else:
            out["jvm"] += s
    return out


def _empty(pdf):
    return _result_frame([])


def _empty_iter(it):
    for _ in it:
        yield _result_frame([])


def main() -> None:
    jobs = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    spark = get_spark("udf-task-cost", cores=4)
    cases = {
        "apply": (1, lambda: spark.range(1).groupBy("id")
                  .applyInPandas(_empty, RESULT_SCHEMA).collect()),
        "map": (8, lambda: spark.range(0, 8, numPartitions=8)
                .mapInPandas(_empty_iter, RESULT_SCHEMA).collect()),
    }
    for name, (tasks, run) in cases.items():
        for _ in range(2):
            run()
        before = cpu_by_exe()
        for _ in range(jobs):
            run()
        after = cpu_by_exe()
        ms = {r: (after[r] - before[r]) * 1000 / jobs for r in before}
        print(json.dumps({
            "case": name, "jobs": jobs, "python_tasks_per_job": tasks,
            "worker_ms_per_task": round(ms["worker"] / tasks, 1),
            "worker_ms_per_job": round(ms["worker"], 1),
            "jvm_ms_per_job": round(ms["jvm"], 1),
            "driver_ms_per_job": round(ms["driver"], 1),
        }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
