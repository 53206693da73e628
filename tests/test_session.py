"""Session factory: the executorEnv thread pins survive a caller that
deleted a pinned variable after import, and the core count falls back
to the host's when ``SPARK_GRAFT_CPUS`` is unset."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from real_time_data_analytics_cassandra_spark.session import get_spark


def test_get_spark_pins_deleted_thread_var(monkeypatch):
    monkeypatch.delenv("OMP_NUM_THREADS", raising=False)
    # capture the builder's options instead of touching the live session
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: self._options)
    assert get_spark()["spark.executorEnv.OMP_NUM_THREADS"] == "1"


def test_get_spark_sizes_from_host_cpus_when_unset(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_MASTER", raising=False)
    monkeypatch.delenv("SPARK_SHUFFLE_PARTITIONS", raising=False)
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: self._options)
    opts = get_spark()
    assert opts["spark.master"] == f"local[{os.cpu_count()}]"
    assert opts["spark.sql.shuffle.partitions"] == str(os.cpu_count())
