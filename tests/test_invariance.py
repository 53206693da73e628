"""Partitioning-invariance evidence: representative queries must
return IDENTICAL rows under a different shuffle-partition count —
the property the determinism contract (exact decimal sums, sorted
folds, portable hashes, explicit tie-breaks) exists to guarantee,
checked directly rather than via the oracle detour.
"""

from __future__ import annotations

import pytest

from real_time_data_analytics_cassandra_spark import queries as q
from tests.conftest import SF_SMOKE

# one per determinism mechanism
QUERIES = [
    "pricing_summary",  # exact decimal aggregation
    "hourly_value_ewma",  # sequential JVM fold
    "bigram_lm_doc_scores",  # sorted-fold double sums
    "minhash_lsh",  # portable hashing + banding
    "part_pagerank",  # integer fixed-point iteration
    "kmv_user_overlap",  # bottom-k order statistics
    "global_recent_customers",  # explicit tie-broken ranking
]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("name", QUERIES)
def test_result_is_partitioning_invariant(spark, name, monkeypatch):
    base = _rows(q.queries()[name](spark, SF_SMOKE))
    pinned = spark.conf.get("spark.sql.shuffle.partitions")
    # ensure_query_confs re-pins shuffle partitions from this env var
    # on EVERY query call, so the variation must go through it — a
    # bare conf.set would be silently overridden (and the test
    # vacuous)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "7")
    try:
        again = _rows(q.queries()[name](spark, SF_SMOKE))
    finally:
        monkeypatch.undo()
        q.ensure_query_confs(spark)
    assert again == base
    assert spark.conf.get("spark.sql.shuffle.partitions") == pinned
