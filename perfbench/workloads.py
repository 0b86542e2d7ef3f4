"""The benchmark's workloads: inputs, timed operations and correctness checks.

Every workload is a closed loop with one client: ``step`` sends the next
operation only after the previous one returned. The seed picks the corpus
id window and the request stream; the program sees only generated inputs.

The corpus is ``corpus.synth_corpus``'s generator (input_hint schema, Zipf
keyword skew, rare ``sym_<id>_<j>`` identifiers) run over the seed's id
window, with the row id kept as ``doc_id`` so reference answers can be
computed outside Spark.
"""

from __future__ import annotations

import contextlib
import inspect
import os
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from fafnir_spark import build, corpus, incremental, query, scoring, wand
from fafnir_spark.catalog import Catalog

import layers
import reference
from record import tree_cpu_seconds

K = 10
SETUP_REPS = 2
# synth_corpus defaults: keyword Zipf exponent and mean document length
ZIPF_A, MEAN_LEN = 1.3, 120
WINDOW = 10_000_000  # seed n generates doc ids [n * WINDOW, n * WINDOW + size)
HOT = corpus._KEYWORDS[:8]  # Zipf head: df close to the corpus size
MID = corpus._KEYWORDS[8:40]
CLASSES = ("rare", "hot", "mix", "three", "absent")
DIRECT_KINDS = ("bm25_batch", "bm25_plus", "lm")
DIRECT_BATCH = 4


@dataclass
class Op:
    kind: str
    ms: float
    traced: bool


@dataclass
class Request:
    """One query of the stream, with what the correctness gate needs."""

    qid: str
    cls: str
    terms: list[str]
    rows: list = field(default_factory=list)
    snapshot: str | None = None
    oracle: tuple | None = None  # (stat doc ids or None for all, tombstoned ids)


def layer_call(tracer, span: str, fn, *args, **kwargs):
    """Calls into a layer inside its own span, and so its own job group."""
    with tracer.span(span):
        return fn(*args, **kwargs)


def materialize(path: str, lo: int, n: int, files: int) -> None:
    """Write docs [lo, lo + n) of the synthetic corpus, with ``doc_id``, as
    ``files`` parquet files (one scan task each)."""
    ids = np.arange(lo, lo + n, dtype=np.int64)
    pdf = corpus._gen_batch(ids, ZIPF_A, MEAN_LEN)
    pdf.insert(0, "doc_id", ids)
    os.makedirs(path, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(n), files)):
        pq.write_table(pa.Table.from_pandas(pdf.iloc[part], preserve_index=False),
                       os.path.join(path, f"part-{i:03d}.parquet"))


def doc_text(doc_id: int) -> str:
    return corpus._gen_batch(np.array([doc_id]), ZIPF_A, MEAN_LEN)["content"][0]


def content_bytes(df) -> int:
    return df.agg(F.sum(F.length("content"))).collect()[0][0]


def load_texts(df) -> dict[int, str]:
    pdf = df.select("doc_id", "content").toPandas()
    return dict(zip(pdf["doc_id"].tolist(), pdf["content"].tolist()))


class Stream:
    """Seeded query stream. Classes come in shuffled blocks of five, so every
    run sees nearly equal class shares while the draws stay seeded:

    rare    one ``sym_*`` identifier of one doc (BMW prunes everything else)
    hot     two Zipf-head keywords (flat bounds: BMW falls back to exhaustive)
    mix     one hot keyword and one rare identifier
    three   three mid-frequency keywords
    absent  a term no document contains
    """

    def __init__(self, seed: int, salt: int, id_range):
        self.rng = np.random.default_rng([seed, salt])
        self.id_range = id_range  # callable -> (lo, hi) of ids to draw rare terms from
        self.n = 0
        self._block: list[str] = []

    def _rare(self) -> str:
        while True:
            lo, hi = self.id_range()
            syms = [t for t in doc_text(int(self.rng.integers(lo, hi))).split()
                    if t.startswith("sym_")]
            if syms:
                return syms[int(self.rng.integers(len(syms)))]

    def next(self) -> Request:
        if not self._block:
            self._block = [str(c) for c in self.rng.permutation(CLASSES)]
        cls = self._block.pop()
        if cls == "rare":
            terms = [self._rare()]
        elif cls == "hot":
            terms = [str(t) for t in self.rng.choice(HOT, 2, replace=False)]
        elif cls == "mix":
            terms = [str(self.rng.choice(HOT)), self._rare()]
        elif cls == "three":
            terms = [str(t) for t in self.rng.choice(MID, 3, replace=False)]
        else:
            terms = [f"absent_{int(self.rng.integers(1 << 40)):x}"]
        self.n += 1
        return Request(f"q{self.n}", cls, terms)

    def scored(self, n: int) -> list[Request]:
        """The next ``n`` requests that match at least one document."""
        out = []
        while len(out) < n:
            r = self.next()
            if r.cls != "absent":
                out.append(r)
        return out


def class_shares(reqs: list[Request]) -> dict[str, float]:
    return {c: round(sum(r.cls == c for r in reqs) / max(len(reqs), 1), 4) for c in CLASSES}


def class_p50_ms(reqs: list[Request], ops: list[Op]) -> dict[str, float]:
    """Median latency per query class; ``ops`` are the requests' ops, in order."""
    by: dict[str, list[float]] = {}
    for r, o in zip(reqs, ops):
        by.setdefault(r.cls, []).append(o.ms)
    return {c: round(statistics.median(v), 1) for c, v in sorted(by.items())}


def pct(values: list[float], p: int) -> float:
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]


def direct_request(tracer, docs, kind: str, reqs: list[Request]):
    """One index-free request over the corpus parquet: a bm25_topk_batch
    batch of every request in ``reqs``, or one BM25+ or LM-Dirichlet query
    for the first. Returns what check_direct needs."""
    if kind == "bm25_batch":
        qs = {r.qid: r.terms for r in reqs}
        with tracer.span("query.bm25_topk_batch"):
            return kind, qs, query.bm25_topk_batch(docs, qs, k=K, text_col="content").collect()
    fn = scoring.bm25_plus_topk if kind == "bm25_plus" else scoring.lm_topk
    with tracer.span(f"scoring.{fn.__name__}"):
        return kind, reqs[0].terms, fn(docs, reqs[0].terms, k=K, text_col="content").collect()


class Workload:
    """Shared loop state. Subclasses define ``prepare`` (write the inputs,
    once, untimed), ``setup`` (the program's set-up, timed, run SETUP_REPS
    times), ``fill`` (bring the last set-up's index to the state the window
    starts from, once, untimed), ``step``, ``check``, ``inputs``, ``named``
    (the workload's own end-to-end numbers) and ``probe_layers``;
    ``request_kinds`` names the ops the latency percentiles are over."""

    name = ""
    request_kinds: tuple[str, ...] = ()

    def __init__(self, spark, tracer, seed: int, work: str, cores: int, trace: bool):
        self.spark, self.tracer, self.seed = spark, tracer, seed
        self.work, self.cores, self.trace = work, cores, trace
        self.lo = seed * WINDOW
        self.ops: list[Op] = []
        self.failures: list[str] = []
        # checks made inside the window: the window is extended by their
        # wall time and the CPU metric leaves their CPU time out
        self.untimed_s = 0.0
        self.untimed_cpu_s = 0.0

    def dir(self, *parts: str) -> str:
        return os.path.join(self.work, self.name, *parts)

    def op(self, kind: str, fn, *args, **kwargs):
        """Times one client operation. A traced run traces every other op,
        so traced and untraced latencies of the same run give the tracing
        overhead."""
        if self.trace:
            self.tracer.enabled = len(self.ops) % 2 == 0
        with self.tracer.span(f"bench.{kind}", request_id=len(self.ops)):
            t0 = time.perf_counter()
            out = fn(*args, **kwargs)
            ms = 1000 * (time.perf_counter() - t0)
        self.ops.append(Op(kind, ms, self.tracer.enabled))
        return out

    def fail(self, what: str) -> None:
        self.failures.append(what)

    @contextlib.contextmanager
    def untimed(self):
        t0, c0 = time.perf_counter(), tree_cpu_seconds(os.getpid())
        try:
            yield
        finally:
            self.untimed_s += time.perf_counter() - t0
            self.untimed_cpu_s += tree_cpu_seconds(os.getpid()) - c0

    def latencies(self) -> list[float]:
        return [o.ms for o in self.ops if o.kind in self.request_kinds]

    def close(self) -> None:
        pass

    def verify_index(self, root: str, source) -> None:
        bad = build.verify_sha256(self.spark, root, source)
        if bad:
            self.fail(f"verify_sha256 found {bad} mismatching rows in {root}")

    def check_requests(self, reqs: list[Request], run_exhaustive, texts: dict[int, str]) -> None:
        """Rank identity of every timed request against algo='exhaustive'
        (one batch per snapshot), and of requests carrying ``oracle`` against
        oracle_py.bm25_topk over the docs the index stats count, with
        tombstoned docs dropped from the answer."""
        by_snap: dict[str | None, list[Request]] = {}
        for r in reqs:
            by_snap.setdefault(r.snapshot, []).append(r)
        for snap, group in by_snap.items():
            want: dict[str, list] = {}
            for row in run_exhaustive({r.qid: r.terms for r in group}, snap):
                want.setdefault(row["qid"], []).append(row)
            for r in group:
                if reference.ranking(r.rows) != reference.ranking(want.get(r.qid, [])):
                    self.fail(f"{r.qid} {r.terms}: result differs from algo='exhaustive'")
        for r in reqs:
            if r.oracle is None:
                continue
            ids, dead = r.oracle
            docs = texts if ids is None else {i: texts[i] for i in ids}
            exp = [x for x in reference.bm25_topk(docs, r.terms, k=K + len(dead)) if x[1] not in dead]
            if reference.ranking(r.rows) != [(i + 1, d, s) for i, (_, d, s) in enumerate(exp[:K])]:
                self.fail(f"{r.qid} {r.terms}: result differs from oracle_py.bm25_topk")

    def check_direct(self, done: list, texts: dict[int, str]) -> None:
        ts = reference.TermStats(texts)
        for kind, q, rows in done:
            if kind == "bm25_batch":
                got: dict[str, list] = {}
                for row in rows:
                    got.setdefault(row["qid"], []).append(row)
                for qid, terms in q.items():
                    if reference.ranking(got.get(qid, [])) != reference.bm25_topk(texts, terms, k=K):
                        self.fail(f"bm25_topk_batch {terms}: differs from oracle_py.bm25_topk")
                continue
            ref = reference.bm25_plus_topk if kind == "bm25_plus" else reference.lm_dirichlet_topk
            if reference.ranking(rows) != ref(ts, q, k=K):
                self.fail(f"{kind} {q}: differs from the reference")

    def probe_codec(self, root: str, out: dict) -> None:
        pdf = layers.read_blocks(self.spark, root, list(HOT + MID))
        out["codec.encode_mb_per_s"], out["codec.decode_mb_per_s"] = layers.codec_rates(pdf)
        out["codec.bytes_per_posting"] = layers.bytes_per_posting(self.spark, root)
        out["catalog.index_mb"] = layers.dir_bytes(root) / 1e6


def replay_requests(w: Workload, root: str, reqs: list[Request], out: dict, excluded) -> None:
    """Dictionary lookup, block read and scoring kernel of each request,
    replayed in-process. Callers pass the first requests of the stream, so
    the exact counters repeat for a seed."""
    dict_ms, read_ms, bmw_ms, exh_ms = [], [], [], []
    totals = {"blocks_total": 0, "blocks_decoded": 0, "bmw_fallbacks": 0}
    for r in reqs:
        with w.tracer.span("wand.dict_lookup"):
            (idfs, stats), s = layers.timed(layers.read_idfs, w.spark, root, r.terms, r.snapshot)
        dict_ms.append(1000 * s)
        present = [t for t in r.terms if t in idfs]
        if not present:
            continue
        with w.tracer.span("wand.block_read"):
            pdf, s = layers.timed(layers.read_blocks, w.spark, root, present, r.snapshot)
        read_ms.append(1000 * s)
        with w.tracer.span("wand.kernel"):
            res = layers.replay_kernel(pdf, r.terms, idfs, stats, K, excluded)
        bmw_ms.append(1000 * res["bmw_s"])
        exh_ms.append(1000 * res["exhaustive_s"])
        if not res["agree"]:
            w.fail(f"{r.qid} {r.terms}: replayed score_bmw differs from score_exhaustive")
        for key in totals:
            totals[key] += res[key]
    out["wand.dict_lookup_ms"] = statistics.median(dict_ms)
    out["wand.block_read_ms"] = statistics.median(read_ms)
    out["wand.kernel_ms"] = statistics.median(bmw_ms)
    out["wand.kernel_exhaustive_ms"] = statistics.median(exh_ms)
    out["wand.blocks_total"] = totals["blocks_total"]
    out["wand.blocks_decoded"] = totals["blocks_decoded"]
    out["wand.decode_ratio"] = totals["blocks_decoded"] / max(totals["blocks_total"], 1)
    out["wand.bmw_fallbacks"] = totals["bmw_fallbacks"]


class SearchWorkload(Workload):
    """Single-query requests through one warm Searcher(persist_postings=True)
    over an index built during set-up."""

    name = "search"
    request_kinds = ("search",)
    DOCS = 10_000
    ORACLE_EVERY = 10  # every tenth request is also checked against oracle_py

    def prepare(self) -> None:
        materialize(self.dir("corpus"), self.lo, self.DOCS, self.cores)
        self.docs = build.normalize_docs(self.spark.read.parquet(self.dir("corpus")),
                                         id_col="doc_id")
        self.content_bytes = content_bytes(self.docs)
        self.roots: list[str] = []

    def setup(self, rep: int) -> None:
        self.close()
        self.root = self.dir(f"idx{rep}")
        self.roots.append(self.root)
        self.totals = build.build_index(self.spark, self.docs, self.root, resume=False)
        self.searcher = wand.Searcher(self.spark, self.root, persist_postings=True)
        # warm-up: one query over every keyword a request can use fills the
        # persisted postings and the Searcher's df cache the same way for
        # every seed; rare and absent terms stay unseen, as in service
        self._search(Request("warm", "warm", list(HOT + MID)))

    def fill(self) -> None:
        """One request of each class, from a stream of its own, so the
        window's first block does not pay for the first call of each path."""
        warm = Stream(self.seed, 3, self.id_range)
        for _ in CLASSES:
            self._search(warm.next())
        self.stream = Stream(self.seed, 0, self.id_range)
        self.reqs: list[Request] = []

    def id_range(self):
        return self.lo, self.lo + self.DOCS

    def _search(self, req: Request) -> None:
        req.rows = self.searcher.search({req.qid: req.terms}, k=K).collect()

    def step(self) -> None:
        """One block of the stream: one request of each class, so every run
        sees the classes in equal shares."""
        for _ in CLASSES:
            req = self.stream.next()
            self.op("search", layer_call, self.tracer, "wand.search", self._search, req)
            if len(self.reqs) % self.ORACLE_EVERY == 0:
                req.oracle = (None, frozenset())
            self.reqs.append(req)

    def check(self) -> None:
        for root in self.roots:  # every set-up built one index
            self.verify_index(root, self.docs)
        self.check_requests(
            self.reqs,
            lambda qs, _snap: self.searcher.search(qs, k=K, algo="exhaustive").collect(),
            load_texts(self.docs))

    def inputs(self) -> dict:
        return {"docs": self.DOCS, "content_bytes": self.content_bytes,
                "postings": self.totals["postings"], "segments": 1,
                "tombstones": 0, "class_shares": class_shares(self.reqs),
                "class_p50_ms": class_p50_ms(self.reqs, self.ops)}

    def named(self) -> dict:
        lat = self.latencies()
        return {"search_p50_ms": (statistics.median(lat), "ms"),
                "search_p90_ms": (pct(lat, 90), "ms")}

    def probe_layers(self, out: dict) -> None:
        head = Stream(self.seed, 0, self.id_range)
        replay_requests(self, self.root, [head.next() for _ in range(2 * len(CLASSES))], out, None)
        self.probe_codec(self.root, out)
        out["catalog.postings_segments"] = 1
        # query.py and scoring.py: one index-free request of each kind over
        # the same corpus, timed and checked against the references
        reqs = Stream(self.seed, 2, self.id_range)
        done = []
        for kind, key in zip(DIRECT_KINDS, ("query.bm25_batch_ms", "scoring.bm25_plus_ms",
                                            "scoring.lm_ms")):
            res, s = layers.timed(direct_request, self.tracer, self.docs, kind,
                                  reqs.scored(DIRECT_BATCH))
            out[key] = 1000 * s
            done.append(res)
        self.check_direct(done, load_texts(self.docs))

    def close(self) -> None:
        if getattr(self, "searcher", None) is not None:
            self.searcher.close()


class IngestWorkload(Workload):
    """Rounds over an index that set-up grew to several segments: a base
    build plus appended batches. A round appends a fresh batch, bulk-deletes
    seeded ids, queries the new snapshot with one-shot run_queries (several
    segments, bulk tombstones, no program cache), then calls maybe_compact
    with its default policy, which compacts once the postings segments pass
    its threshold.

    Set-up fills the index to half that threshold, so the window starts
    mid-way through a compaction cycle, at the segment count the policy
    holds on average. At today's speed a window holds one round and does
    not compact; the traced run times one compaction of the index the
    window left (``incremental.compact_s``)."""

    name = "ingest"
    request_kinds = ("fresh_search",)
    BASE_DOCS = 5_000
    BATCH_DOCS = 1_000
    DELETES = 50
    QUERIES_PER_ROUND = 5
    # segments maybe_compact tolerates by default (its max_segments)
    THRESHOLD = inspect.signature(incremental.maybe_compact).parameters["max_segments"].default

    def prepare(self) -> None:
        self.hi = self.lo + self.BASE_DOCS
        materialize(self.dir("base"), self.lo, self.BASE_DOCS, self.cores)
        self.base = build.normalize_docs(self.spark.read.parquet(self.dir("base")),
                                         id_col="doc_id")
        self.content_bytes = content_bytes(self.base)
        self.roots: list[str] = []
        self.batch_dirs: list[str] = []

    def setup(self, rep: int) -> None:
        self.root = self.dir(f"idx{rep}")
        self.roots.append(self.root)
        self.totals = build.build_index(self.spark, self.base, self.root, resume=False)
        self.appended = 0
        warm = Stream(self.seed, 1 + rep, self.id_range)
        wand.run_queries(self.spark, self.root, {"w": warm.next().terms}, k=K).collect()

    def fill(self) -> None:
        """Append batches to the last set-up's index (one postings segment)
        until it holds half of maybe_compact's threshold."""
        self.stat_ids = set(range(self.lo, self.hi))  # docs the index stats count
        self.dead: set[int] = set()
        for _ in range(self.THRESHOLD // 2 - 1):
            self._append(self._next_batch())
        self.filled = self.appended
        self.stream = Stream(self.seed, 0, self.id_range)
        self.write_s = 0.0
        self.compactions: list[float] = []
        self.reqs: list[Request] = []
        self.seen = {"segments": [], "tombstones": []}
        self.rng = np.random.default_rng([self.seed, 7])

    def id_range(self):
        return self.lo, self.hi + self.appended

    def _next_batch(self):
        """The next BATCH_DOCS docs of the seed's id window, written as
        parquet when they are needed."""
        path = self.dir("batches", f"b{len(self.batch_dirs)}")
        materialize(path, self.hi + self.appended, self.BATCH_DOCS, self.cores)
        self.batch_dirs.append(path)
        return build.normalize_docs(self.spark.read.parquet(path), id_col="doc_id")

    def _append(self, new, op: bool = False) -> None:
        args = (self.spark, new, self.root, f"b{len(self.batch_dirs) - 1}")
        if op:
            self._write("append", "incremental.append_index", incremental.append_index, *args)
        else:
            incremental.append_index(*args)
        first = self.hi + self.appended
        self.stat_ids.update(range(first, first + self.BATCH_DOCS))
        self.appended += self.BATCH_DOCS

    def _write(self, kind: str, span: str, fn, *args, **kwargs):
        out = self.op(kind, layer_call, self.tracer, span, fn, *args, **kwargs)
        self.write_s += self.ops[-1].ms / 1000
        return out

    def _search(self, req: Request) -> None:
        req.rows = wand.run_queries(self.spark, self.root, {req.qid: req.terms}, k=K).collect()

    def all_docs(self):
        return self.base.unionByName(
            build.normalize_docs(self.spark.read.parquet(*self.batch_dirs), id_col="doc_id"))

    def step(self) -> None:
        """One whole round, so every run sees the same mix of operations."""
        with self.untimed():
            new = self._next_batch()
        self._append(new, op=True)

        ids = [int(i) for i in self.rng.choice(sorted(self.stat_ids - self.dead),
                                                self.DELETES, replace=False)]
        ids_df = self.spark.createDataFrame([(i,) for i in ids], "doc_id long")
        self._write("delete", "incremental.delete_docs_bulk", incremental.delete_docs_bulk,
                    self.spark, self.root, ids_df)
        self.dead.update(ids)

        cat = Catalog(self.root)
        for q in range(self.QUERIES_PER_ROUND):
            req = self.stream.next()
            with self.tracer.span("catalog.read_manifest"):
                m = cat.read_manifest()
            req.snapshot = m["snapshot_id"]
            if q == 0:
                req.oracle = (sorted(self.stat_ids), frozenset(self.dead))
            self.seen["segments"].append(len(m["tables"]["postings"]))
            self.seen["tombstones"].append(len(self.dead))
            self.op("fresh_search", layer_call, self.tracer, "wand.run_queries", self._search, req)
            self.reqs.append(req)

        if not self._write("maybe_compact", "incremental.maybe_compact", incremental.maybe_compact,
                           self.spark, self.root):
            return
        self.compactions.append(self.ops[-1].ms / 1000)
        self._compacted()

    def _compacted(self) -> None:
        """Compaction purges tombstoned docs; check() verifies the result."""
        self.stat_ids -= self.dead
        self.dead = set()

    def check(self) -> None:
        for root in self.roots:  # every set-up built one base index
            self.verify_index(root, self.all_docs())
        live = Catalog(self.root).live_doc_map(self.spark).count()
        expected = len(self.stat_ids - self.dead)
        if live != expected:
            self.fail(f"live doc count {live}, expected {expected}")
        self.check_requests(
            self.reqs,
            lambda qs, snap: wand.run_queries(self.spark, self.root, qs, k=K,
                                              algo="exhaustive", snapshot_id=snap).collect(),
            load_texts(self.all_docs()))

    def inputs(self) -> dict:
        return {"docs": self.BASE_DOCS + self.appended, "filled": self.filled,
                "appended": self.appended - self.filled,
                "content_bytes_base": self.content_bytes,
                "postings_base": self.totals["postings"],
                "segments_max": max(self.seen["segments"]),
                "tombstones_max": max(self.seen["tombstones"]),
                "compactions": len(self.compactions), "class_shares": class_shares(self.reqs),
                "class_p50_ms": class_p50_ms(
                    self.reqs, [o for o in self.ops if o.kind == "fresh_search"])}

    def named(self) -> dict:
        commits = [o.ms for o in self.ops if o.kind in ("append", "delete")]
        fresh = [o.ms for o in self.ops if o.kind == "fresh_search"]
        return {
            "ingest_docs_per_s": ((self.appended - self.filled) / self.write_s, "docs/s"),
            "commit_p50_ms": (statistics.median(commits), "ms"),
            "fresh_search_p50_ms": (statistics.median(fresh), "ms"),
            "fresh_search_p90_ms": (pct(fresh, 90), "ms"),
        }

    def probe_layers(self, out: dict) -> None:
        first = [r for r in self.reqs if r.snapshot == self.reqs[0].snapshot]
        dead = np.array(sorted(first[0].oracle[1]), dtype=np.int64)
        replay_requests(self, self.root, first, out, dead)
        self.probe_codec(self.root, out)
        sample = self.base.select("content").limit(2000).toPandas()["content"].tolist()
        out["tokenizer.docs_per_s"] = layers.tokenizer_docs_per_s(sample)
        out["catalog.manifest_read_ms"] = layers.manifest_read_ms(self.root)
        out["catalog.postings_segments"] = statistics.mean(self.seen["segments"])
        out["incremental.compactions"] = len(self.compactions)
        with self.tracer.span("incremental.compact_with_tombstones"):
            _, out["incremental.compact_s"] = layers.timed(
                incremental.compact_with_tombstones, self.spark, self.root)
        self._compacted()
        out["incremental.bulk_tombstones"] = statistics.mean(self.seen["tombstones"])


WORKLOADS = {w.name: w for w in (SearchWorkload, IngestWorkload)}
