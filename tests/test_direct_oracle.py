"""`__spark_entry__` keys vs their DuckDB oracles, key by key.

Runs at sf0.001 every `queries()` key that goes through the shared direct
statistics / BM25 / top-k code in `fafnir_spark.query`, the keys of the
shared foreground/background relation in `fafnir_spark.query_ext`
(significant_text; significant_terms and its chi2 variant run in other
test modules), and the stream ops no other test module covers, and
compares each with its `oracle_sql()` through the strict comparator the
simulator script uses (exact values after 6-decimal rounding, and the
same int/float kind per column).
"""

from __future__ import annotations

import pytest

import __spark_entry__ as E
from scripts.driver_sim import compare
from tests.conftest import SF_DIR

KEYS = [
    "bm25_topk_direct", "bm25_topk_boosted", "msearch", "search_after_page2",
    "dis_max", "lm_dirichlet", "lm_jelinek_mercer", "tfidf_classic",
    "scripted_similarity", "bm25_plus",
    "simple_query_string", "synonym_graph_bm25",
    "multi_match_cross_fields", "multi_match_best_fields", "multi_match_most_fields",
    "explain_score", "search_as_you_type",
    "function_score_gauss", "function_score_decay_linear",
    "rank_feature", "rank_feature_log", "rank_feature_sigmoid",
    "field_value_factor", "distance_feature",
    "proximity_rescore", "search_api_rescore", "rescore_chain",
    "significant_text",
    "stream_sliding_window", "stream_zone_lookup", "stream_downsample",
    "stream_anomaly_hourly", "stream_transform_pivot", "stream_theil_sen",
]


@pytest.mark.parametrize("key", KEYS)
def test_direct_key_matches_oracle(spark, ddb, key):
    got = E.queries()[key](spark, SF_DIR)
    want = ddb.execute(E.oracle_sql()[key]).fetch_df()
    ok, msg = compare(got.collect(), got.columns, want)
    assert ok, f"{key}: {msg}"
    assert len(want) > 0, key
