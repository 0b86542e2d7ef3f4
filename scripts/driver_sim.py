"""Simulate the driver's correctness gate at sf0.01.

Runs every __spark_entry__.queries() entry against its oracle_sql() via
DuckDB with a STRICT comparator: values must be exactly equal AND of the
same kind (an int result vs a float oracle is a FAIL, mirroring the
driver's value-hash, which diverges on type — the round-1 term_dictionary
lesson). Floats are compared with an absolute tolerance of 1e-12 — i.e.
slightly LAXER than the driver's exact value-hash; both engines round
score-like outputs to 6 decimals first, so anything beyond 1e-12 is a real
divergence, while sub-1e-12 residue only appears on non-rounded analytic
columns (percentile interpolation and the like).

Usage: python scripts/driver_sim.py [sf_dir] [only_query ...]

Runs cannot overlap: ``entry`` rebuilds the fixed
``<tempdir>/fafnir_entry_idx``, so a run holds an flock on
``<tempdir>/fafnir_entry_idx.lock`` and a second concurrent run exits 3.
"""

from __future__ import annotations

import fcntl
import importlib
import os
import sys
import tempfile
import time

import duckdb

sys.path.insert(0, ".")

TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()


def _kind(v):
    import numpy as np
    if isinstance(v, (bool, np.bool_)):
        return "bool"
    if isinstance(v, (int, np.integer)):
        return "int"
    if isinstance(v, (float, np.floating)):
        return "float"
    return type(v).__name__


def compare(got_rows, got_cols, want_df):
    wcols = sorted(want_df.columns)
    if sorted(got_cols) != wcols:
        return False, f"schema {sorted(got_cols)} != {wcols}"
    # column-wise extraction (NOT iterrows, which upcasts mixed rows to
    # float): per-column dtypes survive, so genuine HUGEINT→float drift is
    # caught while legit int columns stay ints
    want = sorted(zip(*[want_df[c].tolist() for c in wcols])) if len(want_df) else []
    got = sorted(tuple(r[c] for c in sorted(got_cols)) for r in got_rows)
    if len(got) != len(want):
        return False, f"rows {len(got)} != {len(want)}"
    for i, (g, w) in enumerate(zip(got, want)):
        for a, b in zip(g, w):
            if _kind(a) != _kind(b):
                return False, f"row {i}: TYPE {a!r}({_kind(a)}) vs {b!r}({_kind(b)})"
            if _kind(a) == "float":
                if a != b and abs(a - b) > 1e-12:
                    return False, f"row {i}: {a!r} != {b!r}"
            elif a != b:
                return False, f"row {i}: {a!r} != {b!r}"
    return True, f"{len(got)} rows"


def lock_entry_index(tmp: str | None = None):
    """Hold an exclusive flock on ``<tmp>/fafnir_entry_idx.lock`` for the
    life of the process (the OS drops it when the process dies, so it never
    goes stale), or exit 3 if another run holds it."""
    path = os.path.join(tmp or tempfile.gettempdir(), "fafnir_entry_idx.lock")
    f = open(path, "w")
    try:
        fcntl.flock(f, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        f.close()
        print(f"REFUSED: another driver_sim run holds {path}; "
              "run them one after the other", file=sys.stderr)
        sys.exit(3)
    return f


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 and "/" in sys.argv[1] else "/root/testdata/sf0.01"
    only = [a for a in sys.argv[1:] if "/" not in a]
    from fafnir_spark.session import get_spark

    lock = lock_entry_index()  # noqa: F841 - held until the process exits
    m = importlib.import_module("__spark_entry__")
    spark = get_spark("driver-sim", cores=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    e = m.entry(spark)
    print("entry rows:", len(e.collect()), flush=True)
    qs, osql = m.queries(), m.oracle_sql()
    n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            got = fn(spark, sf)
            rows = got.collect()
            if name not in osql:
                print(f"{name:28s} rows-only: {len(rows)}  [{time.time()-t0:.1f}s]", flush=True)
                continue
            want = con.execute(osql[name]).fetch_df()
            ok, msg = compare(rows, got.columns, want)
        except Exception as ex:  # noqa: BLE001
            ok, msg = False, f"EXC {type(ex).__name__}: {ex}"
        n_fail += not ok
        print(f"{name:28s} {'OK ' if ok else 'FAIL'} {msg}  [{time.time()-t0:.1f}s]", flush=True)
    spark.stop()
    print("FAILURES:", n_fail)
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
