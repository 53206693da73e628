"""Session factory: the executorEnv thread pins survive a caller that
deleted a pinned variable after import, the core count falls back
to the host's when ``SPARK_GRAFT_CPUS`` is unset, and a driver JVM
whose heap the caller fixes gets a bounded young generation."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest
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


# a caller that fixes the heap gets the young-generation ratio in front
# of its own options; any other caller's options pass through as given
@pytest.mark.parametrize(
    "java_opts, want",
    [
        (None, None),
        ("-Xlog:gc", "-Xlog:gc"),
        ("-Xms1g", "-XX:NewRatio=5 -Xms1g"),
    ],
)
def test_get_spark_bounds_young_gen_of_fixed_heap_driver(monkeypatch, java_opts, want):
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: self._options)
    extra = {"spark.driver.extraJavaOptions": java_opts} if java_opts else None
    opts = get_spark(extra_conf=extra)
    assert opts.get("spark.driver.extraJavaOptions") == want
    assert "spark.driver.defaultJavaOptions" not in opts


def _new_ratio(spark) -> list[str]:
    """The driver JVM's NewRatio value and where it was set."""
    jvm = spark.sparkContext._jvm
    hotspot = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    opt = hotspot.getVMOption("NewRatio")
    return [opt.getValue(), opt.getOrigin().toString()]


_FIXED_HEAP_PROBE = """
import json
from real_time_data_analytics_cassandra_spark.session import get_spark
from tests.test_session import _new_ratio
s = get_spark(master="local[1]", extra_conf={
    "spark.driver.memory": "512m",
    "spark.driver.extraJavaOptions": "-Xms512m",
    "spark.ui.showConsoleProgress": "false",
})
print(json.dumps(_new_ratio(s)))
s.stop()
"""


def test_driver_jvm_young_gen_follows_the_heap(spark):
    # the fixture's heap grows (no -Xms): the JVM's own default
    assert _new_ratio(spark)[1] == "DEFAULT"
    # a fixed heap gets the ratio; one JVM per Python process, so it
    # is launched from a child
    root = Path(__file__).resolve().parent.parent
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (str(root), env.get("PYTHONPATH")) if p)
    out = subprocess.run(
        [sys.executable, "-c", _FIXED_HEAP_PROBE],
        cwd=root,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert json.loads(out.stdout.strip().splitlines()[-1]) == ["5", "VM_CREATION"]
