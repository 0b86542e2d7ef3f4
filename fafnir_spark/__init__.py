"""fafnir_spark — a PySpark-native full-text index build + BM25 query engine.

Re-expresses the capabilities of Qwant/fafnir (a Rust PostgreSQL→Elasticsearch
POI indexing pipeline; see /root/reference and SURVEY.md) as an idiomatic
Spark engine: SPIMI-style per-partition posting construction, term-keyed
shuffle merge with document-partitioned (shard) routing for skew, delta+varint
compressed posting blocks with block-max metadata, and a batched BM25 top-k
query pipeline with block-max WAND pruning.

Everything here derives from public knowledge only: the PySpark API, the
reference repo's observable behavior, and published IR literature (SPIMI —
Manning/Raghavan/Schütze IIR ch.4; Block-Max WAND — Ding & Suel, SIGIR'11;
Okapi BM25 — Robertson/Walker).
"""

import os

if "PYTHON_WORKER_FACTORY_SECRET" in os.environ:  # inside a PySpark worker
    from . import _zipcache

    _zipcache.install()

__version__ = "0.1.0"

K1 = 1.2
B = 0.75

__all__ = ["K1", "B"]
