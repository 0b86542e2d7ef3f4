"""CI gate for BASELINE.json input_hint: vectorized pandas/Arrow UDFs only,
no per-row Python in the engine (SURVEY.md §7 risk 4)."""

import ast
import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "fafnir_spark"

ROW_UDF = re.compile(r"(?<!pandas_)\budf\s*\(|F\.udf\b|@udf\b|spark\.udf\.register")
RDD_API = re.compile(r"\.rdd\b|sparkContext\.parallelize|\.toLocalIterator\(")
DRIVER_LOOP = re.compile(r"for\s+\w+\s+in\s+\w+\.collect\(\)")


def _sources():
    return {p: p.read_text() for p in PKG.glob("*.py")}


def test_no_row_at_a_time_udfs():
    for path, src in _sources().items():
        assert not ROW_UDF.search(src), f"row-at-a-time UDF in {path.name}"


def test_no_rdd_hot_path():
    for path, src in _sources().items():
        assert not RDD_API.search(src), f"RDD API in {path.name}"


def test_collect_only_for_small_relations():
    # collect() is allowed only for driver-side small data (dictionaries,
    # tombstones, scalar stats); loops over collect() of big relations are
    # a distribution bug. Whitelist audited call sites by module.
    allowed = {"wand.py", "incremental.py", "build.py", "query.py"}
    for path, src in _sources().items():
        if DRIVER_LOOP.search(src):
            assert path.name in allowed, f"driver-side collect loop in {path.name}"


def test_segment_reads_go_through_the_catalog():
    # a spark.read.parquet of a segment dir infers its schema with a Spark
    # job; Catalog.read_segments / read_table read the declared schema
    for name in ("build.py", "incremental.py", "wand.py", "federate.py"):
        assert "spark.read.parquet(" not in (PKG / name).read_text(), name


def test_stream_plumbing_lives_only_in_the_shared_helpers():
    # every stream op reads, drains and stamps its state through the
    # helpers at the top of streaming.py; a copy of that skeleton in an op
    # is the code this pins out
    helpers = {"_read", "_start", "_drain", "_to_memory", "_append"}
    src = (PKG / "streaming.py").read_text()
    funcs = [n for n in ast.parse(src).body if isinstance(n, ast.FunctionDef)]
    for needle in ("spark.readStream", ".foreachBatch(", "awaitTermination",
                   'withColumn("_b"'):
        users = {f.name for f in funcs if needle in ast.get_source_segment(src, f)}
        assert users and users <= helpers, (needle, sorted(users - helpers))


def test_write_path_lives_only_in_the_shared_helpers():
    # build, append, compaction and reindex tokenize, encode, decode and
    # write postings through the helpers in build.py; a copy of that
    # layout in a caller is the code this pins out
    owner = {"_tokenize_map_fn(": {"_tokenize"}, "_encode_partition_fn(": {"_encode"},
             "delta_decode(": {"_runs"}, 'partition_by=["doc_part"]': {"_write_postings"}}
    for needle, helpers in owner.items():
        users = set()
        for name in ("build.py", "incremental.py"):
            src = (PKG / name).read_text()
            users |= {f.name for f in ast.parse(src).body if isinstance(f, ast.FunctionDef)
                      and f"{f.name}(" != needle and needle in ast.get_source_segment(src, f)}
        assert users == helpers, (needle, sorted(users))


def test_writers_read_stats_and_tombstones_from_their_snapshot():
    # the stats json is a mutable mirror: only wand._snapshot_stats reads
    # it (for indexes published before stats moved into the manifest), and
    # every writer reads the stats and the point tombstones of the snapshot
    # it commits against — incremental.py has no tombstone reader of its own
    needles = ('read_json("stats")', "read_json('stats')")
    readers = set()
    for path, src in _sources().items():
        if not any(n in src for n in needles):
            continue
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, ast.FunctionDef) and any(
                    n in ast.get_source_segment(src, node) for n in needles):
                readers.add(f"{path.stem}.{node.name}")
    # nested defs are walked too, so an enclosing def counts as a reader
    assert readers == {"wand._snapshot_stats"}, sorted(readers)
    tree = ast.parse((PKG / "incremental.py").read_text())
    for call in ast.walk(tree):
        if isinstance(call, ast.Call) and getattr(call.func, "attr", "") in (
                "read_table", "read_segments"):
            args = {getattr(a, "id", getattr(a, "value", None)) for a in call.args}
            assert not args & {"TOMBSTONE_TABLE", "tombstones"}, ast.unparse(call)
    names = {n.name for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)}
    assert not {n for n in names if "read" in n and "tombstone" in n}, names
