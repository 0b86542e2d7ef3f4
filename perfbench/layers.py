"""In-process layer probes for traced runs.

Each probe times a call into one module's public functions (or, for the
scoring kernel, the module-level functions the Spark tasks run) on real
inputs taken from the index the workload built. Probes run after the timed
window, so they never slow a measured request.
"""

from __future__ import annotations

import math
import os
import statistics
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from fafnir_spark import codec, tokenizer, wand
from fafnir_spark.catalog import Catalog


def timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, time.perf_counter() - t0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def manifest_read_ms(root: str, reps: int = 20) -> float:
    cat = Catalog(root)
    return 1000 * statistics.median(timed(cat.read_manifest)[1] for _ in range(reps))


def tokenizer_docs_per_s(contents: list[str], reps: int = 3) -> float:
    """Docs per second of the build's tokenizer (counts-only path, the one
    build_index takes without positions)."""
    s = pd.Series(contents)
    secs = statistics.median(
        timed(tokenizer.tokenize_code_series, s, with_positions=False)[1] for _ in range(reps))
    return len(contents) / secs


def bytes_per_posting(spark, root: str) -> float:
    """Posting payload bytes per posting over the published index: an exact
    count, so it repeats exactly for a seed."""
    cat = Catalog(root)
    r = cat.read_table(spark, "postings").agg(
        F.sum("n").alias("n"),
        (F.sum(F.length("doc_ids")) + F.sum(F.length("tfs")) + F.sum(F.length("dls"))
         + F.sum(F.length("weights"))).alias("bytes"),
    ).collect()[0]
    return int(r["bytes"]) / int(r["n"])


def read_blocks(spark, root: str, terms: list[str], snapshot_id: str | None = None) -> pd.DataFrame:
    """The posting rows of ``terms`` read into pandas, in a fixed order."""
    cat = Catalog(root)
    m = cat.manifest_at(snapshot_id)
    pdf = cat.read_table(spark, "postings", snapshot=m).filter(F.col("term").isin(terms)).toPandas()
    if "seg" not in pdf.columns:
        pdf["seg"] = ""
    return pdf.sort_values(["doc_part", "term", "seg", "first_doc"], kind="stable")


def read_idfs(spark, root: str, terms: list[str], snapshot_id: str | None = None):
    """Dictionary lookup as run_queries does it: df of the request's terms,
    turned into idfs with the snapshot's stats."""
    cat = Catalog(root)
    m = cat.manifest_at(snapshot_id)
    stats = (m.get("meta") or {}).get("stats") or cat.read_json("stats")
    rows = cat.read_dictionary(spark, snapshot=m).filter(F.col("term").isin(terms)).collect()
    n = stats["n_docs"]
    return {r["term"]: math.log(1.0 + (n - r["df"] + 0.5) / (r["df"] + 0.5)) for r in rows}, stats


def _blocks(pdf: pd.DataFrame) -> dict[int, dict[str, list]]:
    parts: dict[int, dict[str, list]] = {}
    for r in pdf.itertuples(index=False):
        parts.setdefault(int(r.doc_part), {}).setdefault(r.term, []).append(
            wand._Block(r.first_doc, r.last_doc, r.max_tf, r.min_dl, r.max_weight,
                        r.doc_ids, r.tfs, r.dls, r.weights, r.seg or ""))
    return parts


def replay_kernel(pdf: pd.DataFrame, terms: list[str], idfs: dict, stats: dict, k: int,
                  excluded: np.ndarray | None = None) -> dict:
    """Replays the per-shard scorers on the request's blocks: score_bmw with
    its counters, then score_exhaustive on freshly decoded blocks. Returns
    the kernel times, the counters and whether both scorers agree."""
    k1, b, avgdl = stats["k1"], stats["b"], stats["avgdl"]
    counters: dict = {}
    res = {"bmw_s": 0.0, "exhaustive_s": 0.0, "agree": True}
    for scorer, key in ((wand.score_bmw, "bmw_s"), (wand.score_exhaustive, "exhaustive_s")):
        outs = []
        for by_term in _blocks(pdf).values():
            tb = {t: by_term[t] for t in terms if t in by_term}
            if not tb:
                continue
            kw = {"counters": counters} if scorer is wand.score_bmw else {}
            (ids, sc), secs = timed(scorer, tb, idfs, k, k1, b, avgdl, excluded=excluded, **kw)
            res[key] += secs
            outs.append((ids.tolist(), np.round(sc, 6).tolist()))
        res[key + "_out"] = outs
    res["agree"] = res.pop("bmw_s_out") == res.pop("exhaustive_s_out")
    res["blocks_total"] = counters.get("blocks_total", 0)
    res["blocks_decoded"] = counters.get("blocks_decoded", 0)
    res["bmw_fallbacks"] = counters.get("bmw_fallback", 0)
    return res


def codec_rates(pdf: pd.DataFrame, reps: int = 3) -> tuple[float, float]:
    """(encode MB/s of encoded output, decode MB/s of encoded input) over
    the doc_ids, tfs and dls columns of real posting blocks."""
    cols = [(r.doc_ids, r.tfs, r.dls) for r in pdf.itertuples(index=False)]
    nbytes = sum(len(a) + len(b) + len(c) for a, b, c in cols)

    def decode():
        return [(codec.delta_decode(a), codec.varint_decode(b), codec.varint_decode(c))
                for a, b, c in cols]

    arrays = decode()

    def encode():
        return [(codec.delta_encode(a), codec.varint_encode(b), codec.varint_encode(c))
                for a, b, c in arrays]

    enc_s = statistics.median(timed(encode)[1] for _ in range(reps))
    dec_s = statistics.median(timed(decode)[1] for _ in range(reps))
    return nbytes / 1e6 / enc_s, nbytes / 1e6 / dec_s
