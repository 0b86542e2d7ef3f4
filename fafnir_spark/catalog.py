"""Table catalog: Iceberg when available, parquet + manifest fallback.

The reference's sink is Elasticsearch with an atomic alias swap after bulk
indexing (`publish()`, /root/reference src/bin/tripadvisor2mimir.rs:172-176)
and a post-publish force-merge (config/elasticsearch/default.toml:26-44).
Here the sink is an Iceberg (or parquet) warehouse with the same lifecycle:

  segments are written immutably → a JSON manifest commit *publishes* the new
  snapshot atomically (os.replace) → compaction rewrites small segments.

No Iceberg runtime jar ships in this sandbox, so `use_iceberg` stays False
and every table is a parquet directory tree + `_manifest.json`; the schemas
and the commit protocol are identical either way, and the module is the only
place that would change on a real cluster (`spark.read.format("iceberg")`).

Each segment declares its own file schema, as Iceberg table metadata does:
`write_segment` leaves `<segment dir>/_schema.json` (the parquet files'
schema, without the hive partition columns, plus the partition column
names) next to the data, and `read_segments` builds the DataFrame from
those declarations. A `spark.read.parquet(dir)` without a schema runs one
Spark job per call to infer it from the file footers; a declared read runs
none. Spark's file index skips files whose names start with `_`, and
`clone_index`/`follow_index` copy whole segment dirs, so the declaration
travels with its segment. Segments written before the schema file existed, or a
column whose type differs between segments, fall back to per-segment
inference (never a silent cast), so older snapshots keep reading as they
did.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

# schemes treated as the local filesystem (fast path: plain os IO +
# POSIX-atomic os.replace). Everything else — s3a, gs, abfs, hdfs — goes
# through the Hadoop FileSystem API. Tests shrink this tuple to force the
# Hadoop branch over file: URIs.
_LOCAL_SCHEMES = ("", "file")


def _scheme(path: str) -> str:
    from urllib.parse import urlparse

    return urlparse(path).scheme


def _is_local(path: str) -> bool:
    return _scheme(path) in _LOCAL_SCHEMES


# per-segment schema declaration (see the module docstring)
SCHEMA_FILE = "_schema.json"


def _as_nullable(dt: DataType) -> DataType:
    """``dt`` with every level nullable — the form Spark reads a parquet
    file back as, so declarations compare equal across writers."""
    if isinstance(dt, StructType):
        return StructType([StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
                           for f in dt.fields])
    if isinstance(dt, ArrayType):
        return ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


def _merge_schemas(decls: list[tuple[StructType, list[str]] | None]) -> StructType | None:
    """The segments' declared file schemas merged by column name in
    first-seen segment order — the order ``unionByName(allowMissingColumns
    =True)`` gives — or None when a segment declares none or one column
    has two types."""
    if None in decls:
        return None
    fields: dict[str, StructField] = {}
    for schema, _parts in decls:
        for f in schema.fields:
            seen = fields.setdefault(f.name, f)
            if seen.dataType != f.dataType:
                return None
    return StructType(list(fields.values()))


def _union(dfs: list[DataFrame]) -> DataFrame:
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs)


def _local_path(path: str) -> str:
    if path.startswith("file:"):
        from urllib.parse import urlparse

        return urlparse(path).path
    return path


class Catalog:
    """A directory-rooted warehouse with snapshot-addressed tables.

    All small-file IO (manifest, sidecar json) and maintenance deletes are
    scheme-aware: local roots use plain os IO with POSIX-atomic os.replace;
    object-store/HDFS roots go through the Hadoop FileSystem API — a
    manifest commit there is one create-and-close (a single atomic PUT on
    s3a/gs), and snapshot-expiry deletes use FileSystem.delete, never
    shutil. The data files themselves are always written by Spark, which
    is scheme-aware already."""

    def __init__(self, root: str):
        self.root = root
        if _is_local(root):
            os.makedirs(_local_path(root), exist_ok=True)

    # ---------- scheme-aware small-file io ----------
    def _hadoop_fs(self, path: str):
        spark = SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError(f"no active SparkSession to access remote path {path}")
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        return fs, hpath, jvm

    def _read_text(self, path: str) -> str | None:
        if _is_local(path):
            lp = _local_path(path)
            if not os.path.exists(lp):
                return None
            with open(lp) as f:
                return f.read()
        fs, hpath, jvm = self._hadoop_fs(path)
        if not fs.exists(hpath):
            return None
        stream = fs.open(hpath)
        try:
            reader = jvm.java.io.BufferedReader(
                jvm.java.io.InputStreamReader(stream, "UTF-8")
            )
            lines = []
            line = reader.readLine()
            while line is not None:
                lines.append(line)
                line = reader.readLine()
            return "\n".join(lines)
        finally:
            stream.close()

    def _write_text_atomic(self, path: str, text: str) -> None:
        if _is_local(path):
            lp = _local_path(path)
            tmp = f"{lp}.tmp.{uuid.uuid4().hex[:8]}"
            with open(tmp, "w") as f:
                f.write(text)
            os.replace(tmp, lp)  # atomic on POSIX
            return
        # object stores: create-and-close is ONE PUT — atomic visibility
        # (readers see the old object or the new one, never a partial).
        # os.replace-style rename is NOT atomic on s3a (copy+delete), so
        # the direct overwrite-create is the correct commit there.
        fs, hpath, _ = self._hadoop_fs(path)
        out = fs.create(hpath, True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()

    def delete_dir(self, path: str) -> None:
        """Recursive delete of a segment dir (snapshot expiry) — Hadoop
        FileSystem.delete on remote schemes, shutil locally."""
        if _is_local(path):
            import shutil

            shutil.rmtree(_local_path(path), ignore_errors=True)
            return
        fs, hpath, _ = self._hadoop_fs(path)
        fs.delete(hpath, True)

    def list_tables(self) -> list[str]:
        """Table directory names present on STORAGE under the root (not
        the manifest) — includes tables a crashed writer created but never
        published. Scheme-aware."""
        if _is_local(self.root):
            lp = _local_path(self.root)
            if not os.path.isdir(lp):
                return []
            return sorted(
                d for d in os.listdir(lp) if os.path.isdir(os.path.join(lp, d))
            )
        fs, hpath, _ = self._hadoop_fs(self.root)
        if not fs.exists(hpath):
            return []
        return sorted(
            st.getPath().getName() for st in fs.listStatus(hpath) if st.isDirectory()
        )

    def list_segment_dirs(self, table: str) -> list[tuple[str, float]]:
        """(path, mtime_epoch_s) of every ``seg=*`` directory present on
        STORAGE under the table dir — what actually exists, as opposed to
        what the manifest references. Scheme-aware (os locally,
        FileSystem.listStatus on object stores)."""
        tdir = self.table_dir(table)
        if _is_local(tdir):
            lp = _local_path(tdir)
            if not os.path.isdir(lp):
                return []
            out = []
            for name in sorted(os.listdir(lp)):
                if name.startswith("seg=") and os.path.isdir(os.path.join(lp, name)):
                    out.append(
                        (os.path.join(tdir, name), os.stat(os.path.join(lp, name)).st_mtime)
                    )
            return out
        fs, hpath, _ = self._hadoop_fs(tdir)
        if not fs.exists(hpath):
            return []
        out = []
        for st in fs.listStatus(hpath):
            if st.isDirectory() and st.getPath().getName().startswith("seg="):
                out.append((st.getPath().toString(), st.getModificationTime() / 1000.0))
        return out

    # ---------- manifest (snapshot) protocol ----------
    def _manifest_path(self) -> str:
        return os.path.join(self.root, "_manifest.json")

    def read_manifest(self) -> dict:
        text = self._read_text(self._manifest_path())
        if text is None:
            return {"snapshot_id": None, "tables": {}, "history": []}
        return json.loads(text)

    _UNSET = object()

    def _commit_lock(self):
        """Advisory commit lock for LOCAL roots: O_CREAT|O_EXCL lock file
        closes the read-check-write race completely on POSIX. Object-store
        roots return a no-op (there a real deployment swaps this module for
        an Iceberg catalog whose metadata pointer IS the CAS; the
        expected-snapshot check below still catches stale commits)."""
        import contextlib

        if not _is_local(self.root):
            return contextlib.nullcontext()

        @contextlib.contextmanager
        def lock():
            path = os.path.join(_local_path(self.root), ".manifest.lock")
            deadline = time.time() + 30.0
            while True:
                try:
                    fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                    break
                except FileExistsError:
                    if time.time() > deadline:
                        raise CommitConflict(
                            f"commit lock {path} held for >30s (crashed "
                            "committer? remove the lock file to recover)"
                        ) from None
                    time.sleep(0.05)
            try:
                os.close(fd)
                yield
            finally:
                os.unlink(path)

        return lock()

    def publish(self, tables: dict[str, list[str]], meta: dict | None = None,
                expected_snapshot=_UNSET) -> str:
        """Atomically commit a new snapshot mapping table -> segment dirs.

        fafnir analog: index_generator.publish() alias swap
        (/root/reference src/bin/tripadvisor2mimir.rs:172-176). The outgoing
        snapshot's full state is appended to history, so any past snapshot
        remains queryable (Iceberg time travel; segments are immutable).

        ``expected_snapshot``: optimistic concurrency (Iceberg commit CAS).
        Maintenance writers pass the snapshot their read-modify-write cycle
        was based on; if another commit landed in between, publish raises
        CommitConflict instead of silently dropping that commit's state —
        the caller re-reads and retries. Under a local root the check runs
        inside an O_EXCL lock, so it is race-free, not merely best-effort.
        """
        with self._commit_lock():
            return self._publish_locked(tables, meta, expected_snapshot)

    def _publish_locked(self, tables, meta, expected_snapshot) -> str:
        m = self.read_manifest()
        if (expected_snapshot is not Catalog._UNSET
                and m.get("snapshot_id") != expected_snapshot):
            raise CommitConflict(
                f"manifest moved from {expected_snapshot!r} to "
                f"{m.get('snapshot_id')!r} during this read-modify-write "
                "cycle; re-read the manifest and retry"
            )
        snap = uuid.uuid4().hex[:12]
        if m.get("snapshot_id"):
            m["history"].append(
                {
                    "snapshot_id": m["snapshot_id"],
                    "ts": time.time(),
                    "tables": m.get("tables", {}),
                    "meta": m.get("meta"),
                }
            )
        m["snapshot_id"] = snap
        m["tables"] = tables
        if meta:
            m["meta"] = meta
        self._write_text_atomic(self._manifest_path(), json.dumps(m, indent=1))
        return snap

    def manifest_at(self, snapshot_id: str | None = None) -> dict:
        """The manifest of a specific snapshot (current if None)."""
        m = self.read_manifest()
        if snapshot_id is None or snapshot_id == m.get("snapshot_id"):
            return m
        for h in reversed(m["history"]):
            if h.get("snapshot_id") == snapshot_id and "tables" in h:
                return h
        raise KeyError(f"snapshot {snapshot_id} not found (or pre-dates history)")

    # ---------- table io ----------
    def table_dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def segment_dir(self, name: str, segment: str) -> str:
        return os.path.join(self.root, name, f"seg={segment}")

    def write_segment(
        self,
        df: DataFrame,
        name: str,
        segment: str,
        partition_by: list[str] | None = None,
        sort_within_by: list[str] | None = None,
    ) -> str:
        """Write one immutable segment of a table, then its schema file.

        ``sort_within_by`` orders rows inside each file so parquet row-group
        min/max statistics prune term lookups (the parquet stand-in for
        Iceberg sort orders / Lucene's term dictionary locality).
        """
        path = self.segment_dir(name, segment)
        parts = list(partition_by or [])
        if sort_within_by:
            df = df.sortWithinPartitions(*sort_within_by)
        w = df.write.mode("overwrite")
        if parts:
            w = w.partitionBy(*parts)
        w.parquet(path)
        # an empty result (e.g. a doc-less build shard) writes zero part
        # files, which would make later schema inference fail — write an
        # explicit empty file with the schema instead of recomputing
        # lineage. The check goes through the Hadoop FileSystem API so it
        # works on object stores (s3a/gs/abfs), not just local paths.
        if not self._has_parquet_files(df.sparkSession, path):
            df.sparkSession.createDataFrame([], df.schema).write.mode("overwrite").parquet(path)
            parts = []  # that file holds the partition columns as data
        data = StructType([f for f in df.schema.fields if f.name not in parts])
        self._write_text_atomic(
            os.path.join(path, SCHEMA_FILE),
            json.dumps({"schema": _as_nullable(data).jsonValue(), "partition_by": parts}),
        )
        return path

    @staticmethod
    def _has_parquet_files(spark: SparkSession, path: str) -> bool:
        jvm = spark._jvm
        jsc = spark._jsc
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(jsc.hadoopConfiguration())
        if not fs.exists(hpath):
            return False
        it = fs.listFiles(hpath, True)
        while it.hasNext():
            if it.next().getPath().getName().endswith(".parquet"):
                return True
        return False

    def _segment_schema(self, seg: str) -> tuple[StructType, list[str]] | None:
        """(file schema, partition columns) declared by ``seg``; None for a
        segment written before schema files existed."""
        text = self._read_text(os.path.join(seg, SCHEMA_FILE))
        if text is None:
            return None
        decl = json.loads(text)
        return StructType.fromJson(decl["schema"]), decl["partition_by"]

    def data_schema(self, segs: list[str]) -> StructType | None:
        """The merged declared file schema of ``segs`` (partition columns
        excluded), for reads of their partition dirs; None when
        ``read_segments`` would fall back to inference."""
        return _merge_schemas([self._segment_schema(s) for s in segs])

    def read_segments(self, spark: SparkSession, segs: list[str]) -> DataFrame:
        """The union of segment dirs ``segs``, read with their declared
        schemas: building the DataFrame runs no Spark job.

        - Unpartitioned segments are one scan of every dir under the
          merged schema; a column missing from some segments reads as null.
        - Partitioned segments (postings by doc_part, ivf_assign by
          centroid_id, data streams by __zone) stay a per-segment union.
          One scan over ``seg=*/part=*`` is refused by Spark's partition
          discovery, and a table-dir basePath would make ``seg=`` a
          partition column that shadows the files' own ``seg`` column (the
          upsert's keep_seg match). Spark still types the partition column
          from the paths without a job, exactly as inference did.
        - A segment without a schema file, or a column with two types,
          makes the whole read fall back to per-segment inference, the
          pre-declaration path — a type conflict is never cast away."""
        decls = [self._segment_schema(s) for s in segs]
        merged = _merge_schemas(decls)
        if merged is None:
            return _union([spark.read.parquet(s) for s in segs])
        if not any(parts for _, parts in decls):
            return spark.read.schema(merged).parquet(*segs)
        return _union([spark.read.schema(schema).parquet(s)
                       for s, (schema, _) in zip(segs, decls)])

    def read_table(self, spark: SparkSession, name: str, snapshot: dict | None = None) -> DataFrame:
        """The union of the table's published segments (``read_segments``:
        declared schemas, no Spark job to build the frame; older segments
        without a schema file fall back to per-segment inference)."""
        m = snapshot or self.read_manifest()
        segs = m["tables"].get(name, [])
        if not segs:
            raise FileNotFoundError(f"table {name} has no published segments in {self.root}")
        return self.read_segments(spark, segs)

    def read_dictionary(self, spark: SparkSession, snapshot: dict | None = None) -> DataFrame:
        """The logical term dictionary: per-segment dictionary files with
        df/cf summed per term — Lucene's merge-at-read (df and cf are
        additive across segments by dictionary_from_postings semantics), so
        an append publishes only ITS segment's vocabulary instead of
        rewriting the global dictionary. Fresh builds / compactions have a
        single segment and skip the aggregate; with multiple segments a
        term-isin/prefix filter still pushes below the groupBy to the
        term-sorted parquet scans."""
        from pyspark.sql import functions as F

        m = snapshot or self.read_manifest()
        d = self.read_table(spark, "dictionary", snapshot=m)
        if len(m["tables"].get("dictionary", [])) <= 1:
            return d
        return d.groupBy("term").agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))

    def live_doc_map(self, spark: SparkSession, snapshot: dict | None = None) -> DataFrame:
        """doc_map restricted to LIVE rows.

        Tombstone semantics (incremental.py): a tombstone (doc_id,
        keep_seg=None) kills the doc everywhere; (doc_id, keep_seg=s) kills
        every row EXCEPT the one written by segment ``s`` — the stable-id
        upsert's new version. Tombstones are broadcast (they are
        driver-small by design; compaction drains them)."""
        from pyspark.sql import functions as F

        m = snapshot or self.read_manifest()
        dm = self.read_table(spark, "doc_map", snapshot=m)
        if "bulk_tombstones" in m["tables"]:
            # mass deletes: a relation-sized set — distributed anti-join,
            # never broadcast/collected
            bt = self.read_table(spark, "bulk_tombstones", snapshot=m).select("doc_id")
            dm = dm.join(bt, "doc_id", "left_anti")
        if "tombstones" not in m["tables"]:
            return dm
        ts = self.read_table(spark, "tombstones", snapshot=m)
        if "keep_seg" not in ts.columns:  # pre-upsert tombstone segments
            ts = ts.withColumn("keep_seg", F.lit(None).cast("string"))
        if "seg" not in dm.columns:
            dm = dm.withColumn("seg", F.lit(None).cast("string"))
        ts = ts.select(
            "doc_id", F.col("keep_seg").alias("__keep"), F.lit(1).alias("__dead")
        )
        return (
            dm.join(F.broadcast(ts), "doc_id", "left")
            .filter(F.col("__dead").isNull() | (F.col("seg") == F.col("__keep")))
            .drop("__dead", "__keep")
        )

    def rewrite_history(self, history: list[dict]) -> None:
        """Replace the manifest's history list (snapshot expiry). The
        current snapshot is untouched; same atomic replace as publish."""
        m = self.read_manifest()
        m["history"] = history
        self._write_text_atomic(self._manifest_path(), json.dumps(m, indent=1))

    # ---------- sidecar json (stats, checkpoints) ----------
    def write_json(self, name: str, obj: dict) -> None:
        p = os.path.join(self.root, name + ".json")
        self._write_text_atomic(p, json.dumps(obj, indent=1))

    def read_json(self, name: str) -> dict | None:
        text = self._read_text(os.path.join(self.root, name + ".json"))
        return None if text is None else json.loads(text)


class CommitConflict(RuntimeError):
    """Another snapshot was committed during a read-modify-write cycle
    (optimistic-concurrency failure, Iceberg CommitFailedException analog).
    Re-read the manifest and retry the maintenance operation."""


def put_alias(root: str, name: str, filter_terms: list[str] | None = None) -> None:
    """Register (or replace) a filtered alias — ES index-alias metadata:
    queries routed through the alias gain its filter clause (filter
    context — required, never scored). Aliases are catalog metadata like
    ES cluster state, not part of a snapshot."""
    cat = Catalog(root)
    aliases = cat.read_json("aliases") or {}
    aliases[name] = {"filter": sorted(set(filter_terms or []))}
    cat.write_json("aliases", aliases)


def get_alias(root: str, name: str) -> dict:
    aliases = Catalog(root).read_json("aliases") or {}
    if name not in aliases:
        raise KeyError(f"unknown alias {name!r}")
    return aliases[name]
