"""Similarity search over embedding columns (array<float>).

The reference's nearest-neighbor operator is its ES geo_distance top-1 join
(J2, /root/reference src/addresses.rs:80-123: radius filter → sort by
distance → take first). Here the metric space is cosine over embeddings and
k is arbitrary:

  cosine_topk      brute-force exact top-k — the correctness baseline; one
                   broadcast of the query vectors, one scan, one top-k.
  lsh_cosine_topk  random-hyperplane LSH bucketing (Charikar, STOC'02):
                   candidates share a sign-bucket in >=1 of L tables, exact
                   cosine re-ranks candidates. At 100 TB the bucket join
                   prunes the scan from |corpus| to Σ|buckets of the query|.

Hyperplanes are pseudo-random but DETERMINISTIC: weights derive from md5 on
the driver (plane_weights) and enter both the Spark plan and the DuckDB
oracle as literals — identical by construction, and the plan stays small
(hashing in-engine per element exploded Catalyst's expression tree).
No Python UDFs — everything is array expressions.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .dedup import cosine_expr
from .portable import lit_doubles, lit_doubles_2d

DIM = 64


def _topk_per_qid(scored: DataFrame, k: int) -> DataFrame:
    """Exact two-level top-k of a (qid, vec_id, cos) relation — see
    topk.topk_per_group (the shared ES per-shard-heap + k-row-merge shape).
    Returns (qid, rank, vec_id, cos) ordered."""
    from .topk import topk_per_group

    return topk_per_group(scored, k, group_col="qid", id_col="vec_id", val_col="cos")


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def plane_weights(tables: int, planes: int, dim: int = DIM) -> list[list[list[float]]]:
    """w[t][p][d] ∈ [-1, 1), derived from md5(f'{t*planes+p}:{d}')."""
    return [
        [
            [_h60(f"{t * planes + p}:{d}") / float(1 << 59) - 1.0 for d in range(dim)]
            for p in range(planes)
        ]
        for t in range(tables)
    ]


def _dot_lit(vec_col: Column, weights: list[float]) -> Column:
    wlit = lit_doubles(weights)
    return F.aggregate(
        F.zip_with(vec_col, wlit, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def lsh_bucket_col(vec_col: Column, table: int, table_weights: list[list[float]]) -> Column:
    """Sign-pattern bucket key of one LSH table: '<table>:b0b1..'."""
    bits = [
        F.when(_dot_lit(vec_col, w) > 0, F.lit("1")).otherwise(F.lit("0"))
        for w in table_weights
    ]
    return F.concat_ws("", F.lit(f"{table}:"), *bits)


def cosine_topk(
    emb: DataFrame,
    query_vecs: dict[str, list[float]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine for a batch of query vectors.

    (qid, rank, vec_id, cos); ties (cos desc, vec_id asc). The query
    relation is broadcast — the corpus is scanned once for all queries.
    """
    spark = emb.sparkSession
    q = spark.createDataFrame(
        [(qid, [float(x) for x in v]) for qid, v in query_vecs.items()],
        "qid string, qv array<double>",
    )
    scored = emb.crossJoin(F.broadcast(q)).select(
        "qid",
        F.col(id_col).alias("vec_id"),
        F.round(cosine_expr(F.col(vec_col), F.col("qv")), 6).alias("cos"),
    )
    return _topk_per_qid(scored, k)


def nested_knn_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    group_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ES nested kNN (8.x `nested` dense_vector mapping): a parent
    document carries MULTIPLE child vectors (passage/chunk embeddings);
    the parent scores as its BEST child's similarity and each hit
    surfaces the winning child (inner_hits size=1). Here the parent is
    ``group_col``.

    Scale shape: cosine is row-local against the broadcast query;
    ``groupBy(parent).agg(max_by)`` collapses map-side to ≤ one row per
    parent BEFORE the shuffle (the _assign_to_centroids sort-free shape —
    never a per-parent row_number window over the scored corpus); the
    finish is TakeOrderedAndProject. Ordering key (cos, -vec_id) is
    unique per child → deterministic inner hit.
    (rank, parent, vec_id, cos)."""
    spark = emb.sparkSession
    q = spark.createDataFrame(
        [([float(x) for x in query_vec],)], "qv array<double>"
    )
    scored = emb.crossJoin(F.broadcast(q)).select(
        F.col(group_col).cast("long").alias("parent"),
        F.col(id_col).alias("vec_id"),
        F.round(cosine_expr(F.col(vec_col), F.col("qv")), 6).alias("cos"),
    )
    best = scored.groupBy("parent").agg(
        F.max_by(
            F.struct(F.col("vec_id"), F.col("cos")),
            F.struct(F.col("cos"), (-F.col("vec_id")).alias("__nv")),
        ).alias("__best")
    ).select(
        "parent",
        F.col("__best.vec_id").alias("vec_id"),
        F.col("__best.cos").alias("cos"),
    )
    top = best.orderBy(F.col("cos").desc(), F.col("parent").asc()).limit(k)
    w = Window.orderBy(F.col("cos").desc(), F.col("parent").asc())
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select("rank", "parent", "vec_id", "cos")
        .orderBy("rank")
    )


def _assign_to_centroids(
    emb: DataFrame, cents: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """(vec_id, v, centroid_id): every vector to its max-cosine centroid
    (ties: centroid_id asc), sort-free — ``groupBy(vec_id).agg(max_by)``
    instead of a row_number window, so the partial (map-side) aggregate
    collapses the |corpus|×n_centroids scored rows to one row per vector
    BEFORE the shuffle and no Sort node appears above the assignment join.
    Ordering key (ccos, -centroid_id) is unique per pair → deterministic."""
    scored = (
        emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
        .crossJoin(F.broadcast(cents))
        .withColumn("ccos", F.round(cosine_expr(F.col("v"), F.col("cv")), 6))
    )
    best = scored.groupBy("vec_id").agg(
        F.max_by(
            F.struct(F.col("centroid_id"), F.col("v")),
            F.struct(F.col("ccos"), (-F.col("centroid_id")).alias("__nc")),
        ).alias("__best")
    )
    return best.select(
        "vec_id",
        F.col("__best.v").alias("v"),
        F.col("__best.centroid_id").alias("centroid_id"),
    )


def ivf_centroid_ids(n_vectors: int, n_centroids: int = 16) -> list[int]:
    """Deterministic coarse quantizer: sample every (n/C)-th vector as a
    centroid (IVF-flat with sampled centroids; no training iterations, so
    both engines reproduce it exactly)."""
    step = max(1, n_vectors // n_centroids)
    return [i * step for i in range(n_centroids)]


def ivf_cosine_topk(
    emb: DataFrame,
    query_vecs: dict[str, list[float]],
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: vectors are assigned to their max-cosine
    centroid (inverted lists); a query probes its ``nprobe`` nearest
    centroids and re-ranks those lists exactly.

    At 100 TB the assignment is a one-time build artifact (a column on the
    embeddings table, partition-pruned at query time); here it is computed
    inline. (qid, rank, vec_id, cos)."""
    spark = emb.sparkSession
    n = emb.count()
    cids = ivf_centroid_ids(n, n_centroids)
    cents = emb.filter(F.col(id_col).isin(cids)).select(
        F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("cv")
    )
    assigned = _assign_to_centroids(emb, cents, id_col, vec_col)
    q = spark.createDataFrame(
        [(qid, [float(x) for x in v]) for qid, v in query_vecs.items()],
        "qid string, qv array<double>",
    )
    probe_w = Window.partitionBy("qid").orderBy(F.col("qcos").desc(), F.col("centroid_id").asc())
    probes = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("qcos", F.round(cosine_expr(F.col("qv"), F.col("cv")), 6))
        .withColumn("rn", F.row_number().over(probe_w))
        .filter(F.col("rn") <= nprobe)
        .select("qid", "qv", "centroid_id")
    )
    cand = assigned.join(F.broadcast(probes), "centroid_id").select("qid", "vec_id", "v", "qv")
    scored = cand.select(
        "qid", "vec_id", F.round(cosine_expr(F.col("v"), F.col("qv")), 6).alias("cos")
    )
    return _topk_per_qid(scored, k)


def lsh_cosine_topk(
    emb: DataFrame,
    query_vecs: dict[str, list[float]],
    k: int = 10,
    tables: int = 8,
    planes: int = 4,
    dim: int = DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: exact cosine over LSH-bucket candidates.

    Deterministic hyperplanes → oracle-reproducible; recall vs cosine_topk
    asserted in tests, not guaranteed 1.0.
    """
    spark = emb.sparkSession
    ws = plane_weights(tables, planes, dim)
    q = spark.createDataFrame(
        [(qid, [float(x) for x in v]) for qid, v in query_vecs.items()],
        "qid string, qv array<double>",
    )
    emb_b = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("v"),
        F.explode(F.array(*[lsh_bucket_col(F.col(vec_col), t, ws[t]) for t in range(tables)])).alias("bkey"),
    )
    q_b = q.select(
        "qid",
        "qv",
        F.explode(F.array(*[lsh_bucket_col(F.col("qv"), t, ws[t]) for t in range(tables)])).alias("bkey"),
    )
    cand = (
        emb_b.join(F.broadcast(q_b), "bkey")
        .select("qid", "vec_id", "v", "qv")
        .distinct()
    )
    scored = cand.select(
        "qid", "vec_id", F.round(cosine_expr(F.col("v"), F.col("qv")), 6).alias("cos")
    )
    return _topk_per_qid(scored, k)


def build_ivf_index(
    spark,
    emb: DataFrame,
    index_root: str,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_iters: int = 0,
) -> None:
    """Persist the IVF structure the way a 100 TB deployment would: the
    centroid table plus the vector→centroid assignment written PARTITIONED
    BY centroid_id, so a query's nprobe probes become partition pruning on
    the scan instead of a full-table pass. Deterministic sampled centroids
    (ivf_centroid_ids) keep the oracle reproducible. ``train_iters`` > 0
    refines the seeds with that many Lloyd iterations before assignment
    (the faiss train-then-add shape) — training cost is train_iters
    one-pass steps at BUILD time; queries are unchanged (ivf_search reads
    whatever centroid table was published)."""
    from .catalog import Catalog

    cat = Catalog(index_root)
    if train_iters > 0:
        cents = kmeans_train(emb, n_centroids, train_iters, id_col, vec_col)
    else:
        n = emb.count()
        cids = ivf_centroid_ids(n, n_centroids)
        cents = emb.filter(F.col(id_col).isin(cids)).select(
            F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("cv")
        )
    assigned = _assign_to_centroids(emb, cents, id_col, vec_col)
    cat.write_segment(assigned, "ivf_assign", "base", partition_by=["centroid_id"])
    cat.write_segment(cents.coalesce(1), "ivf_centroids", "base")
    cat.publish(
        {
            "ivf_assign": [cat.segment_dir("ivf_assign", "base")],
            "ivf_centroids": [cat.segment_dir("ivf_centroids", "base")],
        },
        meta={"n_centroids": n_centroids, "n_vectors": emb.count(),
              "train_iters": train_iters},
    )


def ivf_search(
    spark,
    index_root: str,
    query_vecs: dict[str, list[float]],
    k: int = 10,
    nprobe: int = 4,
    eligible: DataFrame | None = None,
) -> DataFrame:
    """Query the persisted IVF index: rank centroids per query (broadcast
    centroid table), then scan ONLY the probed centroid partitions
    (partition pruning on centroid_id — plan-asserted in tests) and re-rank
    exactly. Same (qid, rank, vec_id, cos) contract as ivf_cosine_topk.

    ``eligible`` (vec_id rows) applies ES filtered-kNN PRE-FILTER
    semantics: the metadata filter semi-joins the PROBED candidates before
    the exact top-k — filter-then-rank, never a post-filter of the top-k
    (which under-fills k). The join is candidate-bounded (probed
    partitions only); at scale the filter attrs live in a doc-values
    table co-partitioned with the codes. The faiss caveat applies:
    filtered IVF wants a larger nprobe for equal recall — at exhaustive
    nprobe it equals the brute-force filtered scan exactly (tested)."""
    from .catalog import Catalog

    cat = Catalog(index_root)
    cents = cat.read_table(spark, "ivf_centroids")
    q = spark.createDataFrame(
        [(qid, [float(x) for x in v]) for qid, v in query_vecs.items()],
        "qid string, qv array<double>",
    )
    probe_w = Window.partitionBy("qid").orderBy(F.col("qcos").desc(), F.col("centroid_id").asc())
    probes = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("qcos", F.round(cosine_expr(F.col("qv"), F.col("cv")), 6))
        .withColumn("rn", F.row_number().over(probe_w))
        .filter(F.col("rn") <= nprobe)
        .select("qid", "qv", "centroid_id")
    )
    probe_ids = sorted({int(r["centroid_id"]) for r in probes.select("centroid_id").collect()})
    assigned = cat.read_table(spark, "ivf_assign").filter(F.col("centroid_id").isin(probe_ids))
    cand = assigned.join(F.broadcast(probes), "centroid_id").select("qid", "vec_id", "v", "qv")
    if eligible is not None:
        cand = cand.join(eligible.select("vec_id").distinct(), "vec_id", "semi")
    scored = cand.select(
        "qid", "vec_id", F.round(cosine_expr(F.col("v"), F.col("qv")), 6).alias("cos")
    )
    return _topk_per_qid(scored, k)


def hybrid_rrf(
    docs: DataFrame,
    emb: DataFrame,
    terms: list[str],
    query_vec: list[float],
    k: int = 10,
    n_each: int = 50,
    k0: int = 60,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hybrid lexical+vector retrieval via Reciprocal Rank Fusion
    (Cormack/Clarke/Buettcher, SIGIR'09): rrf = 1/(k0+rank_bm25) +
    1/(k0+rank_cos) over the two top-``n_each`` lists, full-outer joined
    on id (absent list contributes 0). Scale shape: both branches are
    top-k (TakeOrderedAndProject / per-qid windows), the fusion join
    touches ≤ 2·n_each rows. (rank, doc_id, rrf)."""
    from .query import bm25_topk

    b = bm25_topk(docs, terms, k=n_each, id_col=id_col, text_col=text_col).select(
        "doc_id", F.col("rank").alias("br")
    )
    e = cosine_topk(emb, {"q": query_vec}, k=n_each, id_col=vec_id_col, vec_col=vec_col).select(
        F.col("vec_id").alias("doc_id"), F.col("rank").alias("er")
    )
    u = b.join(e, "doc_id", "full_outer")
    rrf = F.round(
        F.coalesce(F.lit(1.0) / (F.lit(k0) + F.col("br")), F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (F.lit(k0) + F.col("er")), F.lit(0.0)),
        6,
    )
    top = (
        u.select("doc_id", rrf.alias("rrf"))
        .orderBy(F.col("rrf").desc(), F.col("doc_id").asc())
        .limit(k)
    )
    w = Window.orderBy(F.col("rrf").desc(), F.col("doc_id").asc())
    return top.withColumn("rank", F.row_number().over(w)).select("rank", "doc_id", "rrf")


def append_ivf(
    spark,
    emb_new: DataFrame,
    index_root: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental IVF maintenance: assign NEW vectors to the EXISTING
    centroids (the standard IVF add path — centroids are frozen between
    retrains) and publish one more partitioned assignment segment.
    ivf_search reads the union; partition pruning still applies."""
    import uuid

    from .catalog import Catalog

    cat = Catalog(index_root)
    m = cat.read_manifest()
    cents = cat.read_table(spark, "ivf_centroids")
    assigned = _assign_to_centroids(emb_new, cents, id_col, vec_col)
    seg = f"add-{uuid.uuid4().hex[:8]}"
    cat.write_segment(assigned, "ivf_assign", seg, partition_by=["centroid_id"])
    tables = dict(m["tables"])
    tables["ivf_assign"] = tables["ivf_assign"] + [cat.segment_dir("ivf_assign", seg)]
    meta = dict(m.get("meta") or {})
    meta["n_vectors"] = int(meta.get("n_vectors", 0)) + emb_new.count()
    cat.publish(tables, meta=meta, expected_snapshot=m.get("snapshot_id"))


class IvfSearcher:
    """Warm handle over a persisted IVF index — the ANN twin of
    wand.Searcher (a deployed vector-search service keeps the coarse
    quantizer resident and serves probe queries from it): centroids are
    read once and cached; with ``persist_assign=True`` the partitioned
    assignment is pinned in executor memory so repeated query batches skip
    the parquet scan entirely (cold path keeps partition pruning on
    centroid_id instead). Same (qid, rank, vec_id, cos) contract and
    identical results to ivf_search — asserted in tests."""

    def __init__(self, spark, index_root: str, persist_assign: bool = False):
        from .catalog import Catalog

        self.spark = spark
        self.cat = Catalog(index_root)
        self.manifest = self.cat.read_manifest()
        self.cents = F.broadcast(
            self.cat.read_table(spark, "ivf_centroids", snapshot=self.manifest)
        )
        self._assign = self.cat.read_table(spark, "ivf_assign", snapshot=self.manifest)
        self._persisted = persist_assign
        if persist_assign:
            self._assign = self._assign.persist()

    def search(self, query_vecs: dict[str, list[float]], k: int = 10,
               nprobe: int = 4) -> DataFrame:
        q = self.spark.createDataFrame(
            [(qid, [float(x) for x in v]) for qid, v in query_vecs.items()],
            "qid string, qv array<double>",
        )
        probe_w = Window.partitionBy("qid").orderBy(
            F.col("qcos").desc(), F.col("centroid_id").asc()
        )
        probes = (
            q.crossJoin(self.cents)
            .withColumn("qcos", F.round(cosine_expr(F.col("qv"), F.col("cv")), 6))
            .withColumn("rn", F.row_number().over(probe_w))
            .filter(F.col("rn") <= nprobe)
            .select("qid", "qv", "centroid_id")
        )
        probe_ids = sorted({int(r["centroid_id"])
                            for r in probes.select("centroid_id").collect()})
        cand = (
            self._assign.filter(F.col("centroid_id").isin(probe_ids))
            .join(F.broadcast(probes), "centroid_id")
            .select("qid", "vec_id", "v", "qv")
        )
        scored = cand.select(
            "qid", "vec_id", F.round(cosine_expr(F.col("v"), F.col("qv")), 6).alias("cos")
        )
        return _topk_per_qid(scored, k)

    def close(self) -> None:
        if self._persisted:
            self._assign.unpersist()


# ----------------------------------------------------------------- IVF-PQ
def pq_codebooks(
    emb: DataFrame, m: int = 8, ks: int = 16,
    id_col: str = "vec_id", vec_col: str = "embedding", dim: int = DIM,
) -> list[list[list[float]]]:
    """Deterministic PQ codebooks (Jégou, Douze & Schmid, TPAMI'11
    product quantization): cb[sub][j] = the sub-th dsub-dim slice of ks
    stride-sampled corpus vectors — the same no-iteration determinism as
    ivf_centroid_ids (k-means refinement would improve recall but break
    oracle reproducibility). Codebooks are driver-side constants entering
    BOTH engines as literals (the LSH-hyperplane convention)."""
    n = emb.count()
    sids = ivf_centroid_ids(n, ks)
    rows = emb.filter(F.col(id_col).isin(sids)).select(id_col, vec_col).collect()
    rows = sorted(rows, key=lambda r: r[id_col])
    dsub = dim // m
    return [
        [[float(x) for x in r[vec_col][mi * dsub:(mi + 1) * dsub]] for r in rows]
        for mi in range(m)
    ]


def _pq_code_col(vec_col: str, cb_m: list[list[float]], off: int) -> Column:
    """1-based argmin subspace code: index of the nearest codebook entry by
    squared L2, ties to the lowest index (array_position picks the FIRST
    minimum — mirrored by DuckDB list_position).

    Shape matters for Catalyst: the codebook is ONE 2D literal array and
    the 16 distances come from ONE transform over it (16 separate
    aggregate expressions per subspace made codegen the bottleneck —
    measured ~15s of compile for the 8×16 unrolled tree). The distance
    array is then bound once via the 1-element-array lambda `let` so
    array_position/array_min don't duplicate it."""
    dsub = len(cb_m[0])
    cblit = lit_doubles_2d(cb_m)
    sub = F.slice(F.col(vec_col), off + 1, dsub)

    def dist_to(c):
        return F.aggregate(
            F.zip_with(sub, c, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    darr = F.transform(cblit, dist_to)

    def argmin(d):
        return F.array_position(d, F.array_min(d))

    return F.element_at(F.transform(F.array(darr), argmin), 1)


def pq_encode(
    emb: DataFrame, codebooks: list[list[list[float]]],
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, c0..c{m-1}) — each vector compressed to m small codes
    (here m bytes-worth: 64 dims → 8 codes ≈ 32× compression). Row-local
    expressions, zero shuffle; at 100 TB this is a one-time build artifact
    (a few bytes per vector instead of 256+), the reason PQ is THE
    memory-bounded ANN representation at scale."""
    dsub = len(codebooks[0][0])
    cols = [F.col(id_col).alias("vec_id")]
    for mi, cb_m in enumerate(codebooks):
        cols.append(_pq_code_col(vec_col, cb_m, mi * dsub).alias(f"c{mi}"))
    return emb.select(*cols)


def pq_lut(query_vec: list[float], codebooks: list[list[list[float]]]) -> list[list[float]]:
    """Per-subspace ADC lookup table: lut[sub][j] = ||q_sub - cb[sub][j]||²,
    computed driver-side — enters both engines as literals, so the
    asymmetric distances are bit-identical by construction."""
    dsub = len(codebooks[0][0])
    out = []
    for mi, cb_m in enumerate(codebooks):
        qs = query_vec[mi * dsub:(mi + 1) * dsub]
        out.append([
            sum((float(a) - float(b)) * (float(a) - float(b)) for a, b in zip(qs, c))
            for c in cb_m
        ])
    return out


def pq_cosine_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    m: int = 8,
    ks: int = 16,
    n_candidates: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ-style approximate top-k: encode the corpus to m-subspace
    codes, rank candidates by the ADC (asymmetric distance computation)
    sum of literal LUT entries — a scan over CODES, never the vectors —
    then exact-cosine re-rank of the top n_candidates.

    Scale shape: the candidate stage reads ~m bytes per vector (the PQ
    promise at 100 TB); both top-k selections are TakeOrderedAndProject;
    the re-rank scan is driven by the broadcast candidate ids.
    (rank, vec_id, cos)."""
    from .dedup import cosine_expr

    cbs = pq_codebooks(emb, m, ks, id_col, vec_col)
    codes = pq_encode(emb, cbs, id_col, vec_col)
    lut = pq_lut([float(x) for x in query_vec], cbs)
    adc = None
    for mi, lm in enumerate(lut):
        term = F.element_at(
            lit_doubles(lm), F.col(f"c{mi}").cast("int")
        )
        adc = term if adc is None else adc + term
    cand = (
        codes.select("vec_id", adc.alias("adc"))
        .orderBy(F.col("adc").asc(), F.col("vec_id").asc())
        .limit(n_candidates)
    )
    ql = lit_doubles(query_vec)
    rer = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("__v")).join(
        F.broadcast(cand.select("vec_id")), "vec_id"
    )
    scored = rer.select("vec_id", F.round(cosine_expr(F.col("__v"), ql), 6).alias("cos"))
    top = scored.orderBy(F.col("cos").desc(), F.col("vec_id").asc()).limit(k)
    w = F.row_number().over(Window.orderBy(F.col("cos").desc(), F.col("vec_id").asc()))
    return top.withColumn("rank", w).select("rank", "vec_id", "cos").orderBy("rank")


def build_pq_index(
    spark,
    emb: DataFrame,
    index_root: str,
    m: int = 8,
    ks: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the PQ structure: codebooks (driver-derived deterministic
    sample → a tiny table) plus the encoded codes table — a few SMALL ints
    per vector instead of the full embedding. At 100 TB the candidate
    stage then scans ~m bytes/vector; the raw vectors are touched only for
    the final re-rank of the top candidates."""
    from .catalog import Catalog

    cat = Catalog(index_root)
    cbs = pq_codebooks(emb, m, ks, id_col, vec_col)
    cb_rows = [
        (mi, j, cbs[mi][j]) for mi in range(len(cbs)) for j in range(len(cbs[mi]))
    ]
    cb_df = spark.createDataFrame(cb_rows, "sub int, j int, cv array<double>")
    codes = pq_encode(emb, cbs, id_col, vec_col)
    cat.write_segment(codes, "pq_codes", "base")
    cat.write_segment(cb_df.coalesce(1), "pq_codebooks", "base")
    cat.publish(
        {
            "pq_codes": [cat.segment_dir("pq_codes", "base")],
            "pq_codebooks": [cat.segment_dir("pq_codebooks", "base")],
        },
        meta={"m": m, "ks": ks, "n_vectors": emb.count()},
    )


def pq_search(
    spark,
    index_root: str,
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_candidates: int = 50,
) -> DataFrame:
    """Query the persisted PQ index: rebuild the ADC LUT from the stored
    codebooks (driver-side, tiny), rank candidates over the CODES table
    only, exact-cosine re-rank against the raw vectors for the top
    candidates. Same (rank, vec_id, cos) contract as pq_cosine_topk."""
    from .catalog import Catalog
    from .dedup import cosine_expr

    cat = Catalog(index_root)
    cb_rows = cat.read_table(spark, "pq_codebooks").collect()
    mmax = 1 + max(r["sub"] for r in cb_rows)
    jmax = 1 + max(r["j"] for r in cb_rows)
    cbs = [[None] * jmax for _ in range(mmax)]
    for r in cb_rows:
        cbs[r["sub"]][r["j"]] = [float(x) for x in r["cv"]]
    lut = pq_lut([float(x) for x in query_vec], cbs)
    codes = cat.read_table(spark, "pq_codes")
    adc = None
    for mi, lm in enumerate(lut):
        term = F.element_at(
            lit_doubles(lm), F.col(f"c{mi}").cast("int")
        )
        adc = term if adc is None else adc + term
    cand = (
        codes.select("vec_id", adc.alias("adc"))
        .orderBy(F.col("adc").asc(), F.col("vec_id").asc())
        .limit(n_candidates)
    )
    ql = lit_doubles(query_vec)
    rer = emb.select(F.col("vec_id"), F.col("embedding").alias("__v")).join(
        F.broadcast(cand.select("vec_id")), "vec_id"
    )
    scored = rer.select("vec_id", F.round(cosine_expr(F.col("__v"), ql), 6).alias("cos"))
    top = scored.orderBy(F.col("cos").desc(), F.col("vec_id").asc()).limit(k)
    w = F.row_number().over(Window.orderBy(F.col("cos").desc(), F.col("vec_id").asc()))
    return top.withColumn("rank", w).select("rank", "vec_id", "cos").orderBy("rank")


def embedding_outliers(
    emb: DataFrame,
    n_centroids: int = 16,
    max_cos: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space outlier detection for corpus curation: vectors whose
    max-cosine centroid similarity falls BELOW ``max_cos`` — far from every
    cluster, the "weird embedding" cleaning signal (mislabeled, corrupted,
    off-distribution rows) a training pipeline drops or audits.

    Reuses the deterministic sampled centroids + the sort-free max_by
    assignment (ONE broadcast join + map-side-collapsed aggregate).
    (vec_id, best_cos), ordered by vec_id."""
    n = emb.count()
    cids = ivf_centroid_ids(n, n_centroids)
    cents = emb.filter(F.col(id_col).isin(cids)).select(
        F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("cv")
    )
    scored = (
        emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
        .crossJoin(F.broadcast(cents))
        .withColumn("ccos", F.round(cosine_expr(F.col("v"), F.col("cv")), 6))
    )
    best = scored.groupBy("vec_id").agg(F.max("ccos").alias("best_cos"))
    return best.filter(F.col("best_cos") < max_cos).orderBy("vec_id")


def cosine_topk_filtered(
    emb: DataFrame,
    query_vecs: dict[str, list[float]],
    labels: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """ES kNN-with-filter: metadata pre-filter BEFORE scoring (the filter
    prunes the scan — at scale, with the corpus partitioned by label, this
    is partition pruning, the IVF-probe shape), then the shared two-level
    exact top-k. (qid, rank, vec_id, label, cos)."""
    spark = emb.sparkSession
    q = spark.createDataFrame(
        [(qid, [float(x) for x in v]) for qid, v in query_vecs.items()],
        "qid string, qv array<double>",
    )
    filtered = emb.filter(F.col(label_col).isin([int(x) for x in labels]))
    scored = filtered.crossJoin(F.broadcast(q)).select(
        "qid",
        F.col(id_col).alias("vec_id"),
        F.col(label_col).cast("long").alias("label"),
        F.round(cosine_expr(F.col(vec_col), F.col("qv")), 6).alias("cos"),
    )
    top = _topk_per_qid(scored.select("qid", "vec_id", "cos"), k)
    # label re-attach: k×n_q rows joined against a 2-column pruned scan of
    # the label projection (the k-row side broadcasts)
    lab = emb.select(F.col(id_col).alias("vec_id"),
                     F.col(label_col).cast("long").alias("label"))
    return (
        top.join(lab, "vec_id")
        .select("qid", "rank", "vec_id", "label", "cos")
        .orderBy("qid", "rank")
    )


def cosine_range_search(
    emb: DataFrame,
    query_vec: list[float],
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ES kNN range search (a `similarity` threshold instead of k): every
    vector whose cosine to the query is >= threshold. Row-local score +
    filter — no top-k structure at all, so the plan is ONE scan with zero
    data shuffles (the trailing orderBy is presentation only): the
    embarrassingly-parallel dual of cosine_topk, and the right primitive
    when the caller wants "everything this similar", e.g. near-dup sweeps
    against one probe vector. The threshold compares the ROUNDED score
    (rank-identity contract — both engines agree at the boundary).
    Returns (vec_id, cos) ordered by vec_id."""
    qlit = lit_doubles(query_vec)
    scored = emb.select(
        F.col(id_col).alias("vec_id"),
        F.round(cosine_expr(F.col(vec_col), qlit), 6).alias("cos"),
    )
    return scored.filter(F.col("cos") >= F.lit(float(threshold))).orderBy("vec_id")


def kmeans_step(emb: DataFrame, n_centroids: int = 16,
                id_col: str = "vec_id", vec_col: str = "embedding",
                cents: DataFrame | None = None) -> DataFrame:
    """One Lloyd k-means iteration over the deterministic sampled
    centroids — the IVF TRAINING pass (Lloyd 1982; what faiss's IVF
    training runs repeatedly). Assignment reuses the sort-free max_by
    path; the update step computes per-dimension member means via
    posexplode + groupBy(centroid, dim) — map-side partial aggregation
    collapses the |corpus|×dim rows before the shuffle, and the output is
    the n_centroids×dim relation (bounded, broadcastable into the next
    iteration). Iterating is a driver loop over THIS one-pass step;
    centroid convergence at 100 TB is the classic Spark k-means shape.

    Returns (centroid_id, dim, c) — the updated centroid coordinates,
    ROUNDED 6 (the rounding is what keeps a chained next iteration
    bit-identical across engines), (centroid_id, dim) asc. ``cents``
    overrides the starting centroids (for chained iterations)."""
    if cents is None:
        n = emb.count()
        cids = ivf_centroid_ids(n, n_centroids)
        cents = emb.filter(F.col(id_col).isin(cids)).select(
            F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("cv")
        )
    assigned = _assign_to_centroids(emb, cents, id_col, vec_col)
    return (
        assigned.select("centroid_id", F.posexplode("v").alias("dim", "x"))
        .groupBy("centroid_id", "dim")
        .agg(F.round(F.avg("x"), 6).alias("c"))
        .orderBy("centroid_id", "dim")
    )


def _means_to_cents(means: DataFrame) -> DataFrame:
    """(centroid_id, dim, c) -> (centroid_id, cv) with cv ordered by dim."""

    def _cval(s):
        return s["c"]

    return means.groupBy("centroid_id").agg(
        F.transform(F.array_sort(F.collect_list(F.struct("dim", "c"))), _cval).alias("cv")
    )


def kmeans_train(emb: DataFrame, n_centroids: int = 16, iters: int = 1,
                 id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """``iters`` chained Lloyd iterations from the deterministic sampled
    seeds. Each iteration is ONE corpus pass; between iterations only the
    bounded (n_centroids × dim) relation flows — the driver loop carries
    no data, just the plan. Returns (centroid_id, cv)."""
    cents = None
    for _ in range(int(iters)):
        cents = _means_to_cents(kmeans_step(emb, n_centroids, id_col, vec_col, cents=cents))
    return cents


def ivf_trained_topk(
    emb: DataFrame,
    query_vecs: dict[str, list[float]],
    k: int = 10,
    n_centroids: int = 16,
    iters: int = 1,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF top-k over TRAINED centroids (the faiss IVF shape: train with
    Lloyd, then assign + probe): kmeans_train refines the sampled seeds,
    then the standard assignment / nprobe-probe / exact re-rank runs
    against the refined centroids. Clusters that go empty during training
    simply drop out (Lloyd edge case — deterministic in both engines).
    (qid, rank, vec_id, cos)."""
    spark = emb.sparkSession
    cents = kmeans_train(emb, n_centroids, iters, id_col, vec_col)
    assigned = _assign_to_centroids(emb, cents, id_col, vec_col)
    q = spark.createDataFrame(
        [(qid, [float(x) for x in v]) for qid, v in query_vecs.items()],
        "qid string, qv array<double>",
    )
    probe_w = Window.partitionBy("qid").orderBy(F.col("qcos").desc(), F.col("centroid_id").asc())
    probes = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("qcos", F.round(cosine_expr(F.col("qv"), F.col("cv")), 6))
        .withColumn("rn", F.row_number().over(probe_w))
        .filter(F.col("rn") <= nprobe)
        .select("qid", "qv", "centroid_id")
    )
    cand = assigned.join(F.broadcast(probes), "centroid_id").select("qid", "vec_id", "v", "qv")
    scored = cand.select(
        "qid", "vec_id", F.round(cosine_expr(F.col("v"), F.col("qv")), 6).alias("cos")
    )
    return _topk_per_qid(scored, k)


def hybrid_linear(
    docs: DataFrame,
    emb: DataFrame,
    terms: list[str],
    query_vec: list[float],
    w_lex: float = 0.7,
    w_vec: float = 0.3,
    k: int = 10,
    n_each: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hybrid retrieval via WEIGHTED NORMALIZED score fusion — the ES
    "linear retriever" with the minmax normalizer (the score-aware sibling
    of RRF): each branch's top-n scores are min-max normalized over the
    retrieved set, then combined as w_lex·norm_bm25 + w_vec·norm_cos
    (absent branch contributes 0; a constant-score branch normalizes to
    1.0 — pinned explicitly so both engines agree on the degenerate
    case). Same scale shape as hybrid_rrf: two top-k branches, 1-row
    min/max stats broadcast, fusion join ≤ 2·n_each rows.
    (rank, doc_id, score)."""
    from .query import _topk_ranked, bm25_topk

    b = bm25_topk(docs, terms, k=n_each, id_col=id_col, text_col=text_col).select(
        "doc_id", F.col("score").alias("bs")
    )
    e = cosine_topk(emb, {"q": query_vec}, k=n_each, id_col=vec_id_col, vec_col=vec_col).select(
        F.col("vec_id").alias("doc_id"), F.col("cos").alias("es")
    )
    sb = b.agg(F.min("bs").alias("mnb"), F.max("bs").alias("mxb"))
    se = e.agg(F.min("es").alias("mne"), F.max("es").alias("mxe"))
    u = (
        b.join(e, "doc_id", "full_outer")
        .crossJoin(F.broadcast(sb))
        .crossJoin(F.broadcast(se))
    )
    nb = F.when(F.col("mxb") == F.col("mnb"), F.lit(1.0)).otherwise(
        (F.col("bs") - F.col("mnb")) / (F.col("mxb") - F.col("mnb"))
    )
    ne = F.when(F.col("mxe") == F.col("mne"), F.lit(1.0)).otherwise(
        (F.col("es") - F.col("mne")) / (F.col("mxe") - F.col("mne"))
    )
    score = F.round(
        (F.lit(float(w_lex)) * F.coalesce(nb, F.lit(0.0)))
        + (F.lit(float(w_vec)) * F.coalesce(ne, F.lit(0.0))),
        6,
    )
    return _topk_ranked(u.select("doc_id", score.alias("score")), k)


def sq8_quantize_col(vec_col: Column, scale_col: Column) -> Column:
    """int8 scalar quantization of a vector: code_i = floor(x_i/scale·127
    + 0.5) clamped to [-127, 127] (explicit floor(x+0.5) — engines differ
    on round() halfway ties, floor does not). Codes stay a double array
    (integral values) so cosine math needs no casts."""
    def q(x):
        raw = F.floor(x.cast("double") / scale_col * F.lit(127.0) + F.lit(0.5))
        return F.greatest(F.lit(-127.0), F.least(F.lit(127.0), raw.cast("double")))

    return F.transform(vec_col, q)


def sq8_cosine_topk(
    emb: DataFrame,
    query_vecs: dict[str, list[float]],
    k: int = 10,
    rescore_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scalar-quantized ANN with exact rescore — the ES int8 dense_vector
    / faiss SQ8 pattern: vectors are compressed to int8 codes against a
    corpus-wide absmax scale, the quantized scan ranks cheaply, the top
    k·rescore_factor candidates are re-scored with the EXACT float cosine,
    and the final top-k comes from the rescored (bounded) set.

    Scoring is asymmetric (faiss ADC): quantized doc codes against the
    raw query vector — no query-side quantization error. At 100 TB the
    codes are 4× smaller than float32 (16× vs float64) and the exact
    rescore touches only k·factor rows per query; both top-k stages are
    the shared two-level heap+merge (never a corpus-wide window). The
    scale is a 1-row aggregate broadcast back. (qid, rank, vec_id, cos)
    — cos is the EXACT rounded cosine."""
    spark = emb.sparkSession
    q = spark.createDataFrame(
        [(qid, [float(x) for x in v]) for qid, v in query_vecs.items()],
        "qid string, qv array<double>",
    )
    scale = emb.agg(
        F.max(F.array_max(F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double")))))
        .alias("scale")
    )
    coded = emb.crossJoin(F.broadcast(scale)).select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("v"),
        sq8_quantize_col(F.col(vec_col), F.col("scale")).alias("codes"),
    )
    approx = coded.crossJoin(F.broadcast(q)).select(
        "qid", "vec_id",
        F.round(cosine_expr(F.col("codes"), F.col("qv")), 6).alias("acos"),
    )
    from .topk import topk_per_group

    cand = topk_per_group(
        approx, k * rescore_factor, group_col="qid", id_col="vec_id", val_col="acos"
    ).select("qid", "vec_id")
    exact = (
        cand.join(coded.select("vec_id", "v"), "vec_id")
        .join(F.broadcast(q), "qid")
        .select("qid", "vec_id", F.round(cosine_expr(F.col("v"), F.col("qv")), 6).alias("cos"))
    )
    return _topk_per_qid(exact, k)


def maxsim_topk(
    emb: DataFrame,
    query_tokens: list[list[float]],
    k: int = 10,
    slice_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ColBERT-style late-interaction scoring (Khattab & Zaharia, SIGIR'20):

        maxsim(q, d) = Σ_t  max_s  cos(q_t, d_s)

    over the query's token vectors and the document's token vectors. The
    document multi-vector is derived by fixed contiguous ``slice_dim``
    slices of the stored embedding (the plumbing a real multi-vector
    column — array<array<float>> — would use; slicing keeps the fixture
    single-vector schema). Everything is row-local: per (token, slice)
    cosine → greatest over slices → literal-order sum over tokens, one
    rounding at the end; the finish is the direct-path orderBy().limit(k)
    (TakeOrderedAndProject). (rank, vec_id, maxsim)."""
    dim = DIM
    n_slices = dim // slice_dim
    per_token = []
    for tok in query_tokens:
        tlit = lit_doubles(tok)
        cands = [
            cosine_expr(F.slice(F.col(vec_col), s * slice_dim + 1, slice_dim), tlit)
            for s in range(n_slices)
        ]
        per_token.append(F.greatest(*cands) if len(cands) > 1 else cands[0])
    total = per_token[0]
    for t in per_token[1:]:
        total = total + t
    scored = emb.select(F.col(id_col).alias("vec_id"), F.round(total, 6).alias("maxsim"))
    top = scored.orderBy(F.col("maxsim").desc(), F.col("vec_id").asc()).limit(k)
    w = Window.orderBy(F.col("maxsim").desc(), F.col("vec_id").asc())
    return top.withColumn("rank", F.row_number().over(w)).select("rank", "vec_id", "maxsim")


def build_sq8_index(
    spark,
    emb: DataFrame,
    index_root: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the scalar-quantized vector index (the ES int8 dense_vector
    storage shape): int8 codes — ONE byte per dimension, 8× smaller than
    the float64 source — plus the corpus absmax scale in the manifest.
    The quantized candidate scan then reads only the codes table; raw
    vectors are touched for the final rescore alone. The scale is a 1-row
    aggregate (audited bounded collect)."""
    from .catalog import Catalog

    cat = Catalog(index_root)
    rows = emb.agg(
        F.max(F.array_max(F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double")))))
        .alias("scale")
    ).collect()
    scale = float(rows[0]["scale"])
    codes = emb.select(
        F.col(id_col).alias("vec_id"),
        F.transform(
            sq8_quantize_col(F.col(vec_col), F.lit(scale)),
            lambda x: x.cast("byte"),
        ).alias("codes"),
    )
    cat.write_segment(codes, "sq8_codes", "base")
    cat.publish(
        {"sq8_codes": [cat.segment_dir("sq8_codes", "base")]},
        meta={"scale": scale, "n_vectors": emb.count()},
    )


def sq8_search(
    spark,
    index_root: str,
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    rescore_factor: int = 4,
) -> DataFrame:
    """Query the persisted SQ8 index: asymmetric quantized ranking over
    the codes table only (cosine is scale-invariant, so int8 codes score
    directly against the raw query vector), exact-cosine rescore of the
    top k·factor against the raw vectors. Identical algorithm — and
    results — to the inline sq8_cosine_topk (same oracle).
    (rank, vec_id, cos)."""
    from .catalog import Catalog
    from .dedup import cosine_expr

    cat = Catalog(index_root)
    codes = cat.read_table(spark, "sq8_codes").select(
        "vec_id",
        F.transform(F.col("codes"), lambda x: x.cast("double")).alias("codes"),
    )
    ql = lit_doubles(query_vec)
    approx = codes.select(
        "vec_id", F.round(cosine_expr(F.col("codes"), ql), 6).alias("acos")
    )
    cand = (
        approx.orderBy(F.col("acos").desc(), F.col("vec_id").asc())
        .limit(k * rescore_factor)
        .select("vec_id")
    )
    rer = emb.select("vec_id", F.col("embedding").alias("__v")).join(
        F.broadcast(cand), "vec_id"
    )
    scored = rer.select("vec_id", F.round(cosine_expr(F.col("__v"), ql), 6).alias("cos"))
    top = scored.orderBy(F.col("cos").desc(), F.col("vec_id").asc()).limit(k)
    w = F.row_number().over(Window.orderBy(F.col("cos").desc(), F.col("vec_id").asc()))
    return top.withColumn("rank", w).select("rank", "vec_id", "cos").orderBy("rank")


def build_ivfsq_index(
    spark,
    emb: DataFrame,
    index_root: str,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """faiss IVF-SQ8 composite index: the coarse quantizer partitions the
    corpus (queries probe nprobe partitions — partition pruning on the
    scan) and each inverted list stores int8 codes at 1 byte/dim instead
    of raw vectors. At 100 TB this stacks the two savings: the probe
    prunes ~(1 - nprobe/C) of the data and the codes shrink what remains
    8×; raw vectors are read only for the final rescore. Deterministic
    sampled centroids (ivf_centroid_ids) keep the oracle reproducible;
    the absmax scale is a 1-row aggregate (audited bounded collect)."""
    from .catalog import Catalog

    cat = Catalog(index_root)
    n = emb.count()
    cids = ivf_centroid_ids(n, n_centroids)
    cents = emb.filter(F.col(id_col).isin(cids)).select(
        F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("cv")
    )
    assigned = _assign_to_centroids(emb, cents, id_col, vec_col)
    rows = emb.agg(
        F.max(F.array_max(F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double")))))
        .alias("scale")
    ).collect()
    scale = float(rows[0]["scale"])
    codes = assigned.select(
        "vec_id",
        "centroid_id",
        F.transform(
            sq8_quantize_col(F.col("v"), F.lit(scale)), lambda x: x.cast("byte")
        ).alias("codes"),
    )
    cat.write_segment(codes, "ivfsq_codes", "base", partition_by=["centroid_id"])
    cat.write_segment(cents.coalesce(1), "ivfsq_centroids", "base")
    cat.publish(
        {
            "ivfsq_codes": [cat.segment_dir("ivfsq_codes", "base")],
            "ivfsq_centroids": [cat.segment_dir("ivfsq_centroids", "base")],
        },
        meta={"n_centroids": n_centroids, "scale": scale, "n_vectors": n},
    )


def ivfsq_search(
    spark,
    index_root: str,
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    rescore_factor: int = 4,
) -> DataFrame:
    """Query the IVF-SQ8 index: probe the nprobe max-cosine centroids
    (partition pruning on the codes scan), rank the pruned candidates on
    quantized cosine (scale-invariant — int8 codes against the raw query
    vector), exact-cosine rescore of the top k·factor against raw
    vectors. (rank, vec_id, cos)."""
    from .catalog import Catalog
    from .dedup import cosine_expr

    cat = Catalog(index_root)
    ql = lit_doubles(query_vec)
    cents = cat.read_table(spark, "ivfsq_centroids")
    probes = (
        cents.select(
            "centroid_id", F.round(cosine_expr(F.col("cv"), ql), 6).alias("qcos")
        )
        .orderBy(F.col("qcos").desc(), F.col("centroid_id").asc())
        .limit(nprobe)
    )
    prows = probes.select("centroid_id").collect()
    probe_ids = sorted(int(r["centroid_id"]) for r in prows)
    codes = (
        cat.read_table(spark, "ivfsq_codes")
        .filter(F.col("centroid_id").isin(probe_ids))
        .select(
            "vec_id",
            F.transform(F.col("codes"), lambda x: x.cast("double")).alias("codes"),
        )
    )
    cand = (
        codes.select("vec_id", F.round(cosine_expr(F.col("codes"), ql), 6).alias("acos"))
        .orderBy(F.col("acos").desc(), F.col("vec_id").asc())
        .limit(k * rescore_factor)
        .select("vec_id")
    )
    rer = emb.select("vec_id", F.col("embedding").alias("__v")).join(
        F.broadcast(cand), "vec_id"
    )
    scored = rer.select("vec_id", F.round(cosine_expr(F.col("__v"), ql), 6).alias("cos"))
    top = scored.orderBy(F.col("cos").desc(), F.col("vec_id").asc()).limit(k)
    w = F.row_number().over(Window.orderBy(F.col("cos").desc(), F.col("vec_id").asc()))
    return top.withColumn("rank", w).select("rank", "vec_id", "cos").orderBy("rank")


def hybrid_rrf_indexed(
    spark,
    text_index_root: str,
    ivf_index_root: str,
    terms: list[str],
    query_vec: list[float],
    k: int = 10,
    n_each: int = 50,
    k0: int = 60,
    nprobe: int = 16,
) -> DataFrame:
    """Hybrid RRF with BOTH branches served from persisted indexes — the
    production shape of hybrid_rrf: lexical top-n from the inverted index
    (run_queries) and vector top-n from the IVF index (partition-pruned
    probes), fused with reciprocal-rank weights over ≤ 2·n rows. With
    nprobe == n_centroids the vector branch is exact (tested property), so
    the fused list is rank-identical to the direct hybrid_rrf — same
    oracle. (rank, doc_id, rrf)."""
    from .wand import run_queries

    b = run_queries(spark, text_index_root, {"q": terms}, k=n_each, algo="bmw").select(
        "doc_id", F.col("rank").alias("br")
    )
    e = ivf_search(spark, ivf_index_root, {"q": query_vec}, k=n_each,
                   nprobe=nprobe).select(F.col("vec_id").alias("doc_id"),
                                         F.col("rank").alias("er"))
    u = b.join(e, "doc_id", "full_outer")
    rrf = F.round(
        F.coalesce(F.lit(1.0) / (F.lit(k0) + F.col("br")), F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (F.lit(k0) + F.col("er")), F.lit(0.0)),
        6,
    )
    top = (
        u.select("doc_id", rrf.alias("rrf"))
        .orderBy(F.col("rrf").desc(), F.col("doc_id").asc())
        .limit(k)
    )
    w = Window.orderBy(F.col("rrf").desc(), F.col("doc_id").asc())
    return top.withColumn("rank", F.row_number().over(w)).select("rank", "doc_id", "rrf")


# ---------------------------------------- binary quantization (ES BBQ shape)
def _sign_disagrees(x: Column, y: Column) -> Column:
    return (x.cast("double") > 0) != (y > 0)


def _truthy(b: Column) -> Column:
    return b


def bq_hamming_col(vec: Column, qv: Column) -> Column:
    """Sign-bit Hamming distance between a stored vector and the query —
    the 1-bit binary-quantization metric, computed ROW-LOCALLY from the
    float arrays (the direct path needs no packed codes; the persisted
    path stores 2 BIGINTs/vector and uses bit_count(xor))."""
    return F.size(F.filter(F.zip_with(vec, qv, _sign_disagrees), _truthy)).cast("long")


def bq_code_cols(vec: Column) -> list[Column]:
    """Pack the 64 sign bits into two exact-integer BIGINTs (bits 0-31 →
    c0, 32-63 → c1; bit i weighted 2^(i-start), built by an acc*2+bit fold
    over descending positions — exact integer space, never floats, and no
    1<<63 overflow because each half stays under 2^32)."""

    def half(start: int) -> Column:
        def step(acc: Column, i: Column) -> Column:
            return acc * 2 + F.when(F.element_at(vec, i + 1) > 0,
                                    F.lit(1)).otherwise(F.lit(0))

        return F.aggregate(
            F.sequence(F.lit(start + 31), F.lit(start), F.lit(-1)),
            F.lit(0).cast("long"),
            step,
        )

    return [half(0).alias("c0"), half(32).alias("c1")]


def bq_cosine_topk(
    emb: DataFrame,
    query_vecs: dict[str, list[float]],
    k: int = 10,
    rescore_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """1-bit binary-quantization ANN with exact rescore — the ES BBQ /
    "RaBitQ-style quantize + rescore" pattern: candidates ranked by
    sign-Hamming distance to the query (row-local, zero shuffle before the
    bounded candidate stage), top k·rescore_factor re-scored with the
    EXACT float cosine. Both top-k stages are the shared two-level
    heap+merge. Candidate ties break (hamming asc, vec_id asc) — mirrored
    in the oracle. (qid, rank, vec_id, cos)."""
    spark = emb.sparkSession
    q = spark.createDataFrame(
        [(qid, [float(x) for x in v]) for qid, v in query_vecs.items()],
        "qid string, qv array<double>",
    )
    base = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
    scored = base.crossJoin(F.broadcast(q)).select(
        "qid", "vec_id",
        (-bq_hamming_col(F.col("v"), F.col("qv"))).alias("nham"),
    )
    from .topk import topk_per_group

    cand = topk_per_group(
        scored, k * rescore_factor, group_col="qid", id_col="vec_id", val_col="nham"
    ).select("qid", "vec_id")
    exact = (
        cand.join(base, "vec_id")
        .join(F.broadcast(q), "qid")
        .select("qid", "vec_id",
                F.round(cosine_expr(F.col("v"), F.col("qv")), 6).alias("cos"))
    )
    return _topk_per_qid(exact, k)


def build_bq_index(
    spark,
    emb: DataFrame,
    index_root: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the binary-quantized vector index: TWO BIGINTs per vector
    (1 bit/dim + padding — 32× smaller than float64 at rest). The
    candidate scan reads only the codes table; raw vectors are touched for
    the rescore alone."""
    from .catalog import Catalog

    cat = Catalog(index_root)
    codes = emb.select(F.col(id_col).alias("vec_id"),
                       *bq_code_cols(F.col(vec_col)))
    cat.write_segment(codes, "bq_codes", "base")
    cat.publish(
        {"bq_codes": [cat.segment_dir("bq_codes", "base")]},
        meta={"dim": DIM, "n_vectors": emb.count()},
    )


def bq_search(
    spark,
    index_root: str,
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    rescore_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query the persisted BQ index: Hamming = bit_count(xor) over the two
    packed BIGINTs (pure integer ops in whole-stage codegen), exact-cosine
    rescore against raw vectors. Identical candidates — and results — to
    the inline bq_cosine_topk (same oracle): packing is signs-exact.
    (rank, vec_id, cos)."""
    from .catalog import Catalog

    cat = Catalog(index_root)
    qv = [float(x) for x in query_vec]
    qbits = [1 if x > 0 else 0 for x in qv]

    def pack(start: int) -> int:
        acc = 0
        for i in range(start + 31, start - 1, -1):
            acc = acc * 2 + qbits[i]
        return acc

    q0, q1 = pack(0), pack(32)
    codes = cat.read_table(spark, "bq_codes")
    scored = codes.select(
        "vec_id",
        (-(F.bit_count(F.col("c0").bitwiseXOR(F.lit(q0)))
           + F.bit_count(F.col("c1").bitwiseXOR(F.lit(q1))))).cast("long").alias("nham"),
    ).withColumn("qid", F.lit("q"))
    from .topk import topk_per_group

    cand = topk_per_group(scored, k * rescore_factor, group_col="qid",
                          id_col="vec_id", val_col="nham").select("vec_id")
    qlit = lit_doubles(qv)
    exact = cand.join(
        emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v")),
        "vec_id",
    ).select("vec_id", F.round(cosine_expr(F.col("v"), qlit), 6).alias("cos"))
    top = exact.orderBy(F.col("cos").desc(), F.col("vec_id").asc()).limit(k)
    w = Window.orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return top.withColumn("rank", F.row_number().over(w)).select("rank", "vec_id", "cos")


def ann_recall_at_k(
    emb: DataFrame,
    query_vecs: dict[str, list[float]],
    k: int = 10,
    tables: int = 8,
    planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k of the LSH approximate path against exact brute-force —
    the evaluation primitive an ANN deployment runs before trusting a
    bucketing config at scale. Both branches are the existing two-level
    top-k plans; the overlap join touches <= 2k rows per query, and a
    query with zero overlap still reports recall 0.0 (left join from the
    query relation). (qid, recall), ordered."""
    spark = emb.sparkSession
    brute = cosine_topk(emb, query_vecs, k=k, id_col=id_col, vec_col=vec_col
                        ).select("qid", "vec_id")
    approx = lsh_cosine_topk(emb, query_vecs, k=k, tables=tables,
                             planes=planes, id_col=id_col, vec_col=vec_col
                             ).select("qid", "vec_id")
    hits = brute.join(approx, ["qid", "vec_id"]).groupBy("qid").agg(
        F.count(F.lit(1)).alias("__n"))
    qids = spark.createDataFrame([(q,) for q in sorted(query_vecs)], "qid string")
    return qids.join(hits, "qid", "left").select(
        "qid",
        F.round(F.coalesce(F.col("__n"), F.lit(0)) / F.lit(float(k)), 6).alias("recall"),
    ).orderBy("qid")


def matryoshka_topk(
    emb: DataFrame,
    query_vecs: dict[str, list[float]],
    k: int = 10,
    prefix_dim: int = 16,
    rescore_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka (MRL, Kusupati'22) adaptive retrieval: candidates are
    ranked by cosine over only the FIRST ``prefix_dim`` dimensions (an
    MRL-trained embedding packs coarse semantics into its prefix), then
    the top k·rescore_factor are re-scored with the exact full-dimension
    cosine — the funnel-retrieval pattern ES/vector DBs run to cut the
    scan's arithmetic and bandwidth 1/(dim/prefix_dim)-fold.

    Same scale shape as sq8_cosine_topk: both stages go through the
    two-level topk_per_group (never a corpus-wide window), the query
    relation is a broadcast literal, and the exact rescore touches only
    k·factor rows per query. At 100 TB the prefix scan reads 4x fewer
    vector bytes iff the store lays out prefixes columnar-first; here the
    win is arithmetic, the plan shape is what's asserted.
    (qid, rank, vec_id, cos) — cos is the EXACT rounded full-dim cosine."""
    spark = emb.sparkSession
    q = spark.createDataFrame(
        [(qid, [float(x) for x in v], [float(x) for x in v[:prefix_dim]])
         for qid, v in query_vecs.items()],
        "qid string, qv array<double>, qp array<double>",
    )
    base = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
    approx = base.crossJoin(F.broadcast(q)).select(
        "qid", "vec_id",
        F.round(
            cosine_expr(F.slice(F.col("v"), 1, prefix_dim), F.col("qp")), 6
        ).alias("acos"),
    )
    from .topk import topk_per_group

    cand = topk_per_group(
        approx, k * rescore_factor, group_col="qid", id_col="vec_id", val_col="acos"
    ).select("qid", "vec_id")
    exact = (
        cand.join(base, "vec_id")
        .join(F.broadcast(q), "qid")
        .select("qid", "vec_id",
                F.round(cosine_expr(F.col("v"), F.col("qv")), 6).alias("cos"))
    )
    return _topk_per_qid(exact, k)


def bitext_margin_mine(
    emb: DataFrame,
    k: int = 4,
    n_out: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019; the
    LASER/CCMatrix miner): source/target sides are the even/odd id
    halves; candidate pairs are the FORWARD top-k by cosine; each pair is
    rescored by the ratio margin

        margin(x,y) = cos(x,y) / (avgF(x) + avgB(y)),
        avgF(x) = Σ_{z∈NNk(x,T)} cos(x,z) / 2k   (and avgB symmetric)

    which normalizes away hubness (a y close to EVERYTHING scores low).

    Scale shape: both kNN passes go through topk_per_group (two-level
    exact top-k — at corpus scale the all-pairs scorer below is replaced
    by any candidate generator (LSH/IVF buckets); the margin layer only
    ever sees ≤k rows per anchor). The per-anchor neighbor sums fold the
    ROUNDED cosines in rank order (canonical float order, the PQ-ADC
    convention), the two ≤|side| avg relations join back unhinted (AQE),
    and the final cut is orderBy().limit() → TakeOrderedAndProject.
    (src_id, tgt_id, cos, margin) top-n_out by (margin desc, ids asc)."""
    from .dedup import cosine_expr
    from .topk import topk_per_group

    src = emb.filter(F.pmod(F.col(id_col), F.lit(2)) == 0).select(
        F.col(id_col).alias("src_id"), F.col(vec_col).alias("__sv"))
    tgt = emb.filter(F.pmod(F.col(id_col), F.lit(2)) == 1).select(
        F.col(id_col).alias("tgt_id"), F.col(vec_col).alias("__tv"))
    scored = src.join(tgt).select(
        "src_id", "tgt_id",
        F.round(cosine_expr(F.col("__sv"), F.col("__tv")), 6).alias("cos"),
    )
    fwd = topk_per_group(scored, k, group_col="src_id", id_col="tgt_id",
                         val_col="cos")
    bwd = topk_per_group(scored, k, group_col="tgt_id", id_col="src_id",
                         val_col="cos")

    def rank_ordered_sum(df: DataFrame, group: str, out: str) -> DataFrame:
        arr = F.array_sort(F.collect_list(F.struct("rank", "cos")))

        def take_cos(s: F.Column) -> F.Column:
            return s["cos"]

        def acc_add(acc: F.Column, v: F.Column) -> F.Column:
            return acc + v

        folded = F.aggregate(F.transform(arr, take_cos), F.lit(0.0), acc_add)
        return df.groupBy(group).agg(folded.alias(out))

    avg_f = rank_ordered_sum(fwd, "src_id", "__sf")
    avg_b = rank_ordered_sum(bwd, "tgt_id", "__sb")
    denom = F.col("__sf") / F.lit(2.0 * k) + F.col("__sb") / F.lit(2.0 * k)
    pairs = (
        fwd.select("src_id", "tgt_id", "cos")
        .join(avg_f, "src_id")
        .join(avg_b, "tgt_id")
        .select("src_id", "tgt_id", "cos",
                F.round(F.col("cos") / denom, 6).alias("margin"))
    )
    return pairs.orderBy(
        F.col("margin").desc(), F.col("src_id").asc(), F.col("tgt_id").asc()
    ).limit(n_out)


def ivf_append(spark, new_emb: DataFrame, index_root: str, segment: str,
               id_col: str = "vec_id", vec_col: str = "embedding") -> int:
    """Incremental vector ingest into the persisted IVF index — faiss's
    train-then-ADD contract: the coarse quantizer (centroid table) is
    FROZEN at build, new vectors are assigned to their nearest existing
    centroid (the sort-free max_by assignment, broadcast centroids) and
    published as ONE additional ivf_assign segment, still partitioned by
    centroid_id so probe pruning stacks across segments. ivf_search needs
    no change: Catalog.read_table unions segments and the probe filter
    prunes partitions in every segment independently.

    vec_id collisions with the live index are rejected (the append_index
    precedent: broadcast the NEW ids, which are segment-sized, against the
    big existing relation — never the reverse). Returns the appended
    count. Quantizer drift is the deployment's compaction trigger: after
    heavy appends, rebuild with train_iters to re-train (faiss re-train
    guidance), or ivf_compact to fold segments without re-assignment."""
    from .catalog import Catalog

    cat = Catalog(index_root)
    m = cat.read_manifest()
    new_ids = new_emb.select(F.col(id_col).alias("vec_id"))
    clash = (
        cat.read_table(spark, "ivf_assign").select("vec_id")
        .join(F.broadcast(new_ids), "vec_id").count()
    )
    if clash:
        raise ValueError(f"ivf_append would collide with {clash} live vec_ids")
    cents = cat.read_table(spark, "ivf_centroids")
    assigned = _assign_to_centroids(new_emb, cents, id_col, vec_col)
    cat.write_segment(assigned, "ivf_assign", segment,
                      partition_by=["centroid_id"])
    n_new = int(new_emb.count())
    tables = dict(m["tables"])
    tables["ivf_assign"] = tables["ivf_assign"] + [
        cat.segment_dir("ivf_assign", segment)]
    meta = dict(m.get("meta") or {})
    meta["n_vectors"] = int(meta.get("n_vectors", 0)) + n_new
    cat.publish(tables, meta=meta, expected_snapshot=m.get("snapshot_id"))
    return n_new


def ivf_compact(spark, index_root: str) -> bool:
    """Fold appended ivf_assign segments back into one (small-segment
    merge): a pure RELAYOUT — assignments are already final (the quantizer
    is frozen), so this is read → rewrite partitioned → publish, no
    re-scoring. Returns False when already single-segment."""
    import uuid

    from .catalog import Catalog

    cat = Catalog(index_root)
    m = cat.read_manifest()
    if len(m["tables"].get("ivf_assign", [])) <= 1:
        return False
    seg = "compact-" + uuid.uuid4().hex[:8]
    cat.write_segment(cat.read_table(spark, "ivf_assign"), "ivf_assign", seg,
                      partition_by=["centroid_id"])
    tables = dict(m["tables"])
    tables["ivf_assign"] = [cat.segment_dir("ivf_assign", seg)]
    cat.publish(tables, meta=m.get("meta"),
                expected_snapshot=m.get("snapshot_id"))
    return True


def pca_power_iteration(emb: DataFrame, dims: int = 16, rounds: int = 8,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Top principal component by RELATIONAL power iteration (the
    spectral sibling of kmeans_train — von Mises iteration over the
    sample covariance): the covariance matrix lives as the bounded
    (i, j, c) relation (dims², round-6 entries — the kmeans rounding
    rule), and each iteration is one C ⋈ v equi-join + a groupBy(i) sum
    (map-side combined, ≤dims² rows shuffled), normalized by the
    inf-norm pivot (max |w|, tie → min i, via sort-free max_by) and
    ROUNDED 6 so chained rounds stay engine-identical. C is
    localCheckpointed once (corpus-derived, referenced every round —
    the markov vp rule) and v per round (the k^rounds lineage rule).

    Scale shape: the corpus collapses into C via ONE self-join keyed on
    vec id (n·dims² products, map-side partial sums); every iteration
    after runs on dims-bounded relations. The oracle unrolls the same
    rounds as MATERIALIZED CTEs. (dim, loading, eigenvalue) — loading =
    the final inf-norm-scaled eigenvector, eigenvalue = the round-6
    Rayleigh quotient, repeated per row; ordered by dim."""
    x = emb.select(F.col(id_col).alias("id"),
                   F.slice(F.col(vec_col), 1, dims).alias("v"))
    ex = (x.select("id", F.posexplode("v").alias("p", "xi"))
          .select("id", (F.col("p") + 1).cast("long").alias("i"),
                  F.col("xi").cast("double").alias("xi")))
    mu = ex.groupBy("i").agg(F.round(F.avg("xi"), 6).alias("mu"))
    cen = (ex.join(F.broadcast(mu), "i")
           .select("id", "i", (F.col("xi") - F.col("mu")).alias("d")))
    n = x.count()
    a = cen.select("id", "i", F.col("d").alias("di"))
    b = cen.select("id", F.col("i").alias("j"), F.col("d").alias("dj"))
    cmat = (a.join(b, "id")
            .groupBy("i", "j")
            .agg(F.round(F.sum(F.col("di") * F.col("dj"))
                         / F.lit(float(n - 1)), 6).alias("c"))
            .localCheckpoint(eager=True))

    def matvec(v: DataFrame) -> DataFrame:
        return (cmat.join(v.select(F.col("i").alias("j"), "v"), "j")
                .groupBy("i")
                .agg(F.round(F.sum(F.col("c") * F.col("v")), 6).alias("w")))

    v = mu.select("i", F.lit(1.0).alias("v"))
    for _ in range(rounds):
        w = matvec(v)
        piv = w.agg(F.max_by(
            "w", F.struct(F.abs(F.col("w")).alias("a"),
                          (-F.col("i")).alias("ni"))).alias("pv"))
        v = (w.crossJoin(F.broadcast(piv))
             .select("i", F.round(F.col("w") / F.col("pv"), 6).alias("v"))
             .localCheckpoint(eager=True))
    wl = matvec(v).withColumnRenamed("i", "wi")
    ray = (v.join(wl, v["i"] == wl["wi"])
           .agg(F.round(F.sum(F.col("v") * F.col("w"))
                        / F.sum(F.col("v") * F.col("v")), 6)
                .alias("eigenvalue")))
    return (v.crossJoin(F.broadcast(ray))
            .select(F.col("i").alias("dim"), F.col("v").alias("loading"),
                    "eigenvalue")
            .orderBy("dim"))


def silhouette_kmeans(emb: DataFrame, n_centroids: int = 16,
                      iters: int = 1, id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """Simplified (centroid-based) silhouette score of the Lloyd-trained
    k-means clustering — the O(n·k) clustering-quality audit (the full
    silhouette is O(n²) pairwise and never survives scale): per vector,
    a = 1 − cos(v, own centroid), b = min over OTHER centroids of
    1 − cos, s = (b − a)/max(a, b) (0 when both distances are 0).
    Cosines are ROUNDED 6 (the IVF assignment rule) so both engines
    branch identically; s rounds 6 and is then lifted to EXACT integer
    micro-units before the per-cluster mean — a double sum of rounded
    values drifts across engines at corpus size (the 1e-6 flip this op
    hit at sf0.01), an integer sum cannot.

    Scale shape: kmeans_train is one corpus pass per iteration; the
    silhouette pass is ONE corpus × broadcast-centroids join collapsed
    by a map-side-combined conditional groupBy(vec_id) — no windows, no
    pairwise joins. (centroid_id, n, mean_sil, overall_sil) ordered by
    centroid_id, overall repeated per row (the psi_drift rule)."""
    cents = kmeans_train(emb, n_centroids, iters, id_col, vec_col)
    assigned = _assign_to_centroids(emb, cents, id_col, vec_col)
    pairs = (assigned.select("vec_id",
                             F.col("centroid_id").alias("own"), "v")
             .crossJoin(F.broadcast(cents))
             .withColumn("d", F.lit(1.0) - F.round(
                 cosine_expr(F.col("v"), F.col("cv")), 6)))
    per = (pairs.groupBy("vec_id", "own")
           .agg(F.min(F.when(F.col("centroid_id") == F.col("own"),
                             F.col("d"))).alias("da"),
                F.min(F.when(F.col("centroid_id") != F.col("own"),
                             F.col("d"))).alias("db")))
    s = F.when(F.greatest(F.col("da"), F.col("db")) > 0,
               (F.col("db") - F.col("da"))
               / F.greatest(F.col("da"), F.col("db"))).otherwise(F.lit(0.0))
    sil = per.select(
        F.col("own").alias("centroid_id"),
        F.round(F.round(s, 6) * F.lit(1000000.0), 0).cast("long")
        .alias("smic"))
    overall = sil.agg(F.round(
        F.sum("smic").cast("double")
        / (F.count(F.lit(1)) * 1000000).cast("double"), 6)
        .alias("overall_sil"))
    return (sil.groupBy("centroid_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.round(F.sum("smic").cast("double")
                         / (F.count(F.lit(1)) * 1000000).cast("double"), 6)
                 .alias("mean_sil"))
            .crossJoin(F.broadcast(overall))
            .select("centroid_id", "n", "mean_sil", "overall_sil")
            .orderBy("centroid_id"))


def label_centroid_similarity(emb: DataFrame, id_col: str = "vec_id",
                              vec_col: str = "embedding",
                              label_col: str = "label") -> DataFrame:
    """Pairwise cosine similarity between per-label embedding centroids —
    the corpus-drift / domain-overlap audit (which sources embed close
    together). Per-dim means are ROUNDED 6 (the kmeans determinism rule)
    so both engines build identical centroids; the pairwise stage runs on
    the ≤|labels|² bounded relation. ONE corpus explode+groupBy pass.
    (label_a, label_b, cos) ordered (label_a, label_b)."""
    d = (emb.select(F.col(label_col).alias("lbl"),
                    F.posexplode(F.col(vec_col)).alias("dim", "x"))
         .groupBy("lbl", "dim")
         .agg(F.round(F.avg(F.col("x").cast("double")), 6).alias("c")))
    cents = (d.groupBy("lbl")
             .agg(F.expr("transform(array_sort(collect_list("
                         "struct(dim, c))), v -> v.c)").alias("cv")))
    a = cents.select(F.col("lbl").alias("label_a"),
                     F.col("cv").alias("ca"))
    b = cents.select(F.col("lbl").alias("label_b"),
                     F.col("cv").alias("cb"))
    pairs = a.join(b, F.col("label_a") < F.col("label_b"))
    return (pairs.select(
        "label_a", "label_b",
        F.round(cosine_expr(F.col("ca"), F.col("cb")), 6).alias("cos"))
        .orderBy("label_a", "label_b"))


def _jl_planes(out_dim: int = 16, in_dim: int = 64, seed: int = 42):
    """Deterministic Gaussian projection rows (driver-side — the LSH
    hyperplane convention: the SAME floats enter both engines as
    literals)."""
    import numpy as np
    rs = np.random.RandomState(seed)
    return [[float(v) for v in row]
            for row in rs.standard_normal((out_dim, in_dim))]


def jl_projection_audit(emb: DataFrame, out_dim: int = 16,
                        sample_mod: int = 24, seed: int = 42,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Johnson-Lindenstrauss random-projection distortion audit: project
    64-dim embeddings to ``out_dim`` with deterministic Gaussian planes
    (ONE transform over the 2D literal array — the PQ codebook pattern),
    then report squared-distance preservation on a hash-sampled vector
    subset (pmod(hash60(id), sample_mod) == 0 — the hash_split idiom),
    pairwise ONLY within that bounded sample. ratio =
    d²_proj/(out_dim·d²_orig) (unbiased for N(0,1) planes); all sums are sequential-fold
    float64 (cosine_expr order parity). (id_a, id_b, d2_orig, d2_proj,
    ratio) ordered (id_a, id_b)."""
    from .portable import hash60
    planes = _jl_planes(out_dim, 64, seed)
    plit = lit_doubles_2d(planes)
    proj = F.transform(
        plit,
        lambda row: F.aggregate(
            F.zip_with(row, F.col("v"),
                       lambda p, x: p * x.cast("double")),
            F.lit(0.0), lambda acc, t: acc + t))
    s = (emb.filter(F.pmod(hash60(F.col(id_col).cast("string")),
                           F.lit(sample_mod)) == 0)
         .select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
         .withColumn("y", proj))
    a = s.select(F.col("id").alias("id_a"), F.col("v").alias("va"),
                 F.col("y").alias("ya"))
    b = s.select(F.col("id").alias("id_b"), F.col("v").alias("vb"),
                 F.col("y").alias("yb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))

    def d2(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: (p.cast("double")
                                           - q.cast("double"))
                       * (p.cast("double") - q.cast("double"))),
            F.lit(0.0), lambda acc, t: acc + t)

    # N(0,1) planes: E[d2_proj] = out_dim * d2_orig, so the unbiased
    # normalization is 1/out_dim (NOT in/out — that over-scales by in_dim)
    scale = 1.0 / float(out_dim)
    out = pairs.select(
        "id_a", "id_b",
        F.round(d2(F.col("va"), F.col("vb")), 6).alias("d2_orig"),
        F.round(d2(F.col("ya"), F.col("yb")), 6).alias("d2_proj"),
        F.round(d2(F.col("ya"), F.col("yb")) * F.lit(scale)
                / d2(F.col("va"), F.col("vb")), 6).alias("ratio"))
    return out.orderBy("id_a", "id_b")
