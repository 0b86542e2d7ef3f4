"""The operational scripts: the scale runner and the driver simulator's
single-run lock."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GROUP_FIELDS = ("jobs", "stages", "tasks", "executor_ms", "shuffle_read_mb",
                "shuffle_write_mb", "spill_mb", "task_skew", "max_stage_skew",
                "driver_gap_s")


def test_scale_import_starts_no_spark():
    code = ("import scripts.scale as s\n"
            "from pyspark import SparkContext\n"
            "assert SparkContext._active_spark_context is None\n"
            "print(len(s.SUITES))")
    out = subprocess.run([sys.executable, "-c", code], cwd=REPO, capture_output=True,
                         text=True, timeout=120)
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip() == "9"


def test_only_the_headline_scale_run_writes_the_plain_name():
    from scripts.scale import HEADLINE_CPUS, out_path

    bench = os.path.join(REPO, "BENCH")
    assert out_path("1m", 1.0, HEADLINE_CPUS) == os.path.join(bench, "scale_1m.json")
    assert out_path("1m", 0.05, 4) == os.path.join(bench, "scale_1m_f0.05_c4.json")
    assert out_path("ann", 1.0, 4) == os.path.join(bench, "scale_ann_f1_c4.json")
    assert out_path("ann", 0.5, HEADLINE_CPUS) == os.path.join(bench, "scale_ann_f0.5_c16.json")


def test_every_scale_suite_records_per_op_group_stats(spark, tmp_path):
    from scripts import scale

    for suite in scale.SUITES:
        rec = scale.run_suite(spark, suite, fraction=1e-6, tmp=str(tmp_path))
        assert set(rec["ops"]) == {name for name, _, _ in scale.SUITES[suite][1]}, suite
        for name, op in rec["ops"].items():
            assert isinstance(op["rows"], int) and op["sec"] > 0, (suite, name)
            assert op["jobs"] >= 1 and op["tasks"] >= op["stages"] >= 1, (suite, name, op)
            assert set(GROUP_FIELDS) <= set(op), (suite, name)
            assert rec[f"{name}_rows"] == op["rows"]
        assert os.listdir(tmp_path) == [], suite  # the work dir is gone
    # the widest-stage skew is one of the stages max_stage_skew ranges over
    build = rec["ops"]["build"]
    assert build["max_stage_skew"] is not None
    assert build["max_stage_skew"] >= build["task_skew"] - 0.01


def test_driver_sim_refuses_while_another_run_holds_the_lock(tmp_path):
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    try:
        from driver_sim import lock_entry_index
    finally:
        sys.path.pop(0)
    holder = subprocess.Popen(
        [sys.executable, "-c",
         "import fcntl, sys, time\n"
         f"f = open({str(tmp_path / 'fafnir_entry_idx.lock')!r}, 'w')\n"
         "fcntl.flock(f, fcntl.LOCK_EX)\n"
         "print('held', flush=True)\n"
         "time.sleep(60)\n"],
        stdout=subprocess.PIPE, text=True)
    try:
        assert holder.stdout.readline().strip() == "held"
        with pytest.raises(SystemExit) as exc:
            lock_entry_index(str(tmp_path))
        assert exc.value.code == 3
    finally:
        holder.kill()
        holder.wait()
    # the dead holder's lock is gone with it: the next run takes it
    lock_entry_index(str(tmp_path)).close()
