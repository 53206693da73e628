"""Session factory: the executorEnv thread pins survive a caller that
deleted a pinned variable after import."""

from __future__ import annotations

from pyspark.sql import SparkSession

from real_time_data_analytics_cassandra_spark.session import get_spark


def test_get_spark_pins_deleted_thread_var(monkeypatch):
    monkeypatch.delenv("OMP_NUM_THREADS", raising=False)
    # capture the builder's options instead of touching the live session
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: self._options)
    assert get_spark()["spark.executorEnv.OMP_NUM_THREADS"] == "1"
