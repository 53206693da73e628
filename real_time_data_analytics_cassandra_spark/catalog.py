"""Catalog: the driver-generated parquet tables as DataFrames/views.

The reference models its data as five Cassandra tables written by a
stream consumer (reference README.md:216-289); our engine's base
relations are the deterministic testdata tables (TESTDATA.md), with
the reference's derived tables re-expressed as *queries* over them
(SURVEY.md §1.2).  Reading is plain ``spark.read.parquet`` — Catalyst
gets filter pushdown + column pruning on the scan for free; at fleet
scale the same code works over partitioned cloud storage paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

from real_time_data_analytics_cassandra_spark.session import ensure_query_confs

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# columns that SOME testdata generations store as parquet
# TIMESTAMP(NANOS), which Spark's reader rejects; read via
# spark.sql.legacy.parquet.nanosAsLong and convert with integer
# division (truncation — matching DuckDB's nanos->micros)
_NANO_TS_COLS = {"events": ("ts",)}


def normalize_time_cols(df: DataFrame, nano_cols: tuple[str, ...] = ()) -> DataFrame:
    """Canonicalize timestamps to TimestampType, robust to the parquet
    physical encoding the generator happened to use.

    Two encodings appear across testdata generations:
    - TIMESTAMP(NANOS) surfaced as long (via the nanosAsLong legacy
      conf) -> truncate to micros, reinterpret as a UTC instant;
    - TIMESTAMP(MICROS, isAdjustedToUTC=false) surfaced as
      TIMESTAMP_NTZ -> cast, which interprets the naive wall-clock in
      the session timezone (pinned UTC by ensure_query_confs), i.e.
      the identical instant.

    Every engine column is TimestampType afterwards, so downstream
    `unix_micros` / window / watermark code never branches on the
    storage flavor — the same posture a production lakehouse needs
    when upstream writers disagree on timestamp annotation.
    """
    for f in df.schema.fields:
        if isinstance(f.dataType, TimestampNTZType):
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
        elif f.name in nano_cols and isinstance(f.dataType, LongType):
            df = df.withColumn(
                f.name, F.timestamp_micros(F.expr(f"{f.name} div 1000"))
            )
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    ensure_query_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return normalize_time_cols(df, _NANO_TS_COLS.get(name, ()))


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view for spark.sql usage."""
    dfs = load_all(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


def spread(df: DataFrame) -> DataFrame:
    """Ensure CPU-bound downstream stages see at least the session's
    default parallelism.

    `maxPartitionBytes` sizes scan splits for scan-bound work; a small
    single-row-group file (this testbed's documents/embeddings tables)
    therefore arrives as ONE split, serializing any compute-heavy
    stage (hash folds, Arrow UDFs) on one core.  When — and only
    when — the scan's parallelism is below the session default, a
    round-robin repartition spreads the rows; on a production corpus
    with many splits this is a no-op (no exchange is added), so
    shuffle-free plans stay shuffle-free where the data is already
    parallel.
    """
    if df.isStreaming:
        # .rdd is undefined for streaming frames; micro-batch frames
        # inside foreachBatch are batch frames and DO get spread
        return df
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
