"""Bucketed counts — the reference's "counter tables" as aggregations.

Reference semantics: per-event counter increments into
``new_customer_geo_counts_by_hour`` (hour bucket x country x city,
cassandra_subscriber.py:166-180) and
``new_products_total_count_by_time`` at 5min/hourly/daily
granularities (cassandra_subscriber.py:208-221, buckets built at
:86-99); read side fetches one bucket with a 0 default
(realtime_api.py:257-260) and sums cities into a country total
(realtime_api.py:218).  SURVEY.md §2.4 A1-A4.

Spark-first: counts are *derived* by grouped aggregation over the
event log, not incremented — map-side partial aggregation makes the
shuffle carry one row per (bucket, keys) per input partition, so the
plan scales with group cardinality rather than event volume.  The
streaming variants (windowed, watermarked) live in streaming/.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from real_time_data_analytics_cassandra_spark.functions.buckets import (
    day_bucket,
    five_min_bucket,
    hour_bucket,
    labeled_bucket,
)

GRANULARITIES = ("5min", "hourly", "daily")

_BUCKET_FNS = {
    "5min": five_min_bucket,
    "hourly": hour_bucket,
    "daily": day_bucket,
}


def multi_granularity_counts(
    df: DataFrame,
    ts: str,
    bucket_col: str = "time_bucket",
    count_col: str = "product_count",
) -> DataFrame:
    """Counts at all three granularities with prefixed bucket labels —
    the Spark expression of the reference's three parallel counter
    UPDATEs per event (cassandra_subscriber.py:217-218).

    ONE scan: each row explodes into its three labeled buckets before
    the grouped count (a per-granularity union would rescan the fact
    table three times — at 100 TB the scan is the cost; the exploded
    rows collapse map-side to one row per bucket per partition)."""
    labels = F.array(
        *[labeled_bucket(g, _BUCKET_FNS[g](ts)) for g in GRANULARITIES]
    )
    return (
        df.select(F.explode(labels).alias(bucket_col))
        .groupBy(bucket_col)
        .agg(F.count(F.lit(1)).alias(count_col))
    )


def count_with_zero_default(counts: DataFrame, wanted: DataFrame, on: str, count_col: str, out_col: str) -> DataFrame:
    """Left-join wanted bucket keys against the counts; missing bucket
    -> 0, mirroring ``row.product_count if row else 0``
    (realtime_api.py:257-260)."""
    return wanted.join(counts, on, "left").select(
        F.col(on),
        F.coalesce(F.col(count_col), F.lit(0)).cast("long").alias(out_col),
    )
