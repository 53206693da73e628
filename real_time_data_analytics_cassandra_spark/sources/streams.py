"""Stream sources.

The reference consumes a durable RabbitMQ fanout queue
(cassandra_subscriber.py:237-287; SURVEY.md S1).  The engine's stream
abstraction is a Structured Streaming DataFrame; in production that
is a Kafka/file source — here, a deterministic bounded replay of the
``events`` parquet table (the driver's stand-in for the message bus,
FIXTURES.md §3) processed with an ``availableNow`` trigger, which
yields exactly the batch result and lets tests assert
stream/batch equivalence (SURVEY.md §5.2).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_data_analytics_cassandra_spark.catalog import normalize_time_cols
from real_time_data_analytics_cassandra_spark.fixture_cache import (
    build_once,
    fixture_path,
)
from real_time_data_analytics_cassandra_spark.session import ensure_query_confs


def _stream_dir(sf_dir: str, name: str) -> str:
    """FileStreamSource requires a *directory*; the testdata tables are
    single files.  Stage a stable per-file symlink directory (the
    production analog is simply a real landing directory that files
    arrive into)."""
    d = fixture_path(f"stream_{name}", 1, sf_dir, [name])
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, f"{name}.parquet")
    if not os.path.islink(link):
        os.symlink(os.path.abspath(os.path.join(sf_dir, f"{name}.parquet")), link)
    return d


EVENT_JSON_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
    "event_type STRING, value DOUBLE, props STRING"
)

# Spark's default JSON timestampFormat is millisecond-precision; the
# event log carries microseconds — pin the format on BOTH serialize
# and parse so the decode is lossless
EVENT_JSON_OPTIONS = {"timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"}


def parse_event_json(raw: DataFrame, json_col: str = "raw_json") -> DataFrame:
    """JSON message decode (SURVEY.md S2): ``from_json`` with the
    explicit event schema (schema declared, never inferred — the
    reference's fixed-DDL philosophy) + the ``type``-discriminator
    columns ready for stream fan-out (cassandra_subscriber.py:103,
    115, 184).  Works identically on batch and streaming inputs."""
    parsed = raw.select(
        F.from_json(F.col(json_col), EVENT_JSON_SCHEMA, EVENT_JSON_OPTIONS).alias("m")
    )
    return parsed.select("m.*")


def rate_event_stream(spark: SparkSession, rows_per_second: int = 100) -> DataFrame:
    """Synthetic unbounded source (Spark's built-in ``rate`` source)
    shaped like the event stream — the stand-in for a live message bus
    (RabbitMQ in the reference, Kafka in a production deployment:
    same pipeline code, different ``format``)."""
    ensure_query_confs(spark)
    rate = spark.readStream.format("rate").option(
        "rowsPerSecond", rows_per_second
    ).load()
    return rate.select(
        F.col("value").alias("event_id"),
        F.col("timestamp").alias("ts"),
        (F.col("value") % 1000).alias("user_id"),
        F.element_at(
            F.array(*[F.lit(t) for t in ("click", "view", "purchase", "signup", "error")]),
            (F.col("value") % 5 + 1).cast("int"),
        ).alias("event_type"),
        (F.col("value") % 100).cast("double").alias("value"),
    )


def bounded_table_stream(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    time_cols: tuple[str, ...] = (),
) -> DataFrame:
    """readStream over any testdata parquet table with its
    batch-inferred schema (streaming sources require an explicit
    schema), normalizing the named storage-encoded time columns to
    TimestampType the same way catalog.table does."""
    ensure_query_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    schema = spark.read.parquet(path).schema
    df = spark.readStream.schema(schema).parquet(_stream_dir(sf_dir, name))
    return normalize_time_cols(df, time_cols) if time_cols else df


def bounded_event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet; event-time ops see a real
    timestamp column (see bounded_table_stream)."""
    return bounded_table_stream(spark, sf_dir, "events", ("ts",))


def sharded_table_stream(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    n_shards: int = 4,
    time_cols: tuple[str, ...] = (),
) -> DataFrame:
    """readStream over a testdata table RESTAGED AS ``n_shards``
    parquet files with ``maxFilesPerTrigger=1`` — so a bounded replay
    actually arrives as n_shards distinct micro-batches instead of
    one, exercising per-batch sinks (index appends, merges) the way a
    real landing directory would.  The staging split is deterministic
    (hash of the first column) and cached per source-file identity;
    WHICH rows share a micro-batch never affects the idempotent sinks
    this feeds, only that several batches occur."""
    ensure_query_confs(spark)
    path = f"{sf_dir}/{name}.parquet"

    def _build(d: str) -> None:
        src = spark.read.parquet(path)
        (
            src.repartition(n_shards, F.col(src.columns[0]))
            .write.mode("overwrite")
            .parquet(d)
        )

    d = build_once(
        fixture_path(f"stream_sharded_{name}_{n_shards}", 1, sf_dir, [name]),
        _build,
    )
    schema = spark.read.parquet(path).schema
    df = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    return normalize_time_cols(df, time_cols) if time_cols else df


def parse_event_json_quarantine(
    raw: DataFrame, json_col: str = "raw_json"
) -> tuple[DataFrame, DataFrame]:
    """PERMISSIVE decode with a dead-letter split: rows whose payload
    fails to parse land in a QUARANTINE frame carrying the raw bytes,
    instead of silently becoming all-NULL rows (what a bare
    ``from_json`` does) or failing the job (FAILFAST).  The reference
    has no such guard — a malformed bus message raises inside the
    subscriber callback and is redelivered forever
    (cassandra_subscriber.py:103); at pipeline scale the only sane
    contract is decode-what-parses + quarantine-the-rest for offline
    inspection.  Returns (valid_df, quarantine_df); works identically
    on batch and streaming inputs."""
    schema = EVENT_JSON_SCHEMA + ", _corrupt STRING"
    opts = {
        **EVENT_JSON_OPTIONS,
        "mode": "PERMISSIVE",
        "columnNameOfCorruptRecord": "_corrupt",
    }
    parsed = raw.select(
        F.col(json_col), F.from_json(F.col(json_col), schema, opts).alias("m")
    )
    valid = (
        parsed.filter(F.col("m._corrupt").isNull())
        .select("m.*")
        .drop("_corrupt")
    )
    quarantined = parsed.filter(F.col("m._corrupt").isNotNull()).select(
        F.col(json_col).alias("raw_json")
    )
    return valid, quarantined
