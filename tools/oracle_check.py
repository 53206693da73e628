"""The verification driver's oracle-compare protocol and session, in one
place.  tests/test_oracle_parity.py, tools/parity_sweep.py and
tools/selfcheck_repeat.py all compare through `first_mismatch`.

Protocol: sort columns by name, turn timestamps into microsecond
strings, sort rows (mergesort over every column), then compare cell by
cell with `==`, NaN equal to NaN.  No float tolerance: oracle equality
is engineered to be exact, and an `isclose` would mask regressions.
"""

from __future__ import annotations

import math


def hostile_session():
    """A SparkSession configured the way the external driver's is, not
    the way `session.get_spark` would: non-UTC timezone, 200 shuffle
    partitions, no parquet timestamp confs.  The engine must
    self-configure (`session.ensure_query_confs`).  The master is
    `local[$SPARK_GRAFT_CPUS]` (host CPU count when unset)."""
    from pyspark.sql import SparkSession

    from real_time_data_analytics_cassandra_spark.session import _cpus

    spark = (
        SparkSession.builder.master(f"local[{_cpus()}]")
        .config("spark.sql.session.timeZone", "America/New_York")
        .config("spark.sql.shuffle.partitions", "200")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def duck(sf_dir: str):
    """A DuckDB connection with one view per catalog table over
    `sf_dir`'s parquet files — what `oracle_sql()` runs against."""
    import duckdb

    from real_time_data_analytics_cassandra_spark.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _normalize(df):
    import pandas as pd

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(
        drop=True
    )


def _eq(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    return a == b


def first_mismatch(a, b) -> str | None:
    """None when pandas frames `a` and `b` are equal under the protocol,
    else the first difference: column set, then row count, then the
    first normalized cell."""
    if sorted(a.columns) != sorted(b.columns):
        return f"columns {sorted(a.columns)} vs {sorted(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    a_n, b_n = _normalize(a), _normalize(b)
    for col in a_n.columns:
        for i, (x, y) in enumerate(zip(list(a_n[col]), list(b_n[col]))):
            if not _eq(x, y):
                return f"{col}[{i}]: {x!r} vs {y!r}"
    return None
