"""SparkSession factory.

Configs here are the local-mode analogue of a production cluster
profile: AQE on (runtime coalesce + skew-join handling stands in for
hand-tuned partition counts at 100 TB), shuffle partitions sized from
the available cores, Arrow enabled for the few pandas-UDF operators,
and session timezone pinned to UTC so time-bucket strings are
identical to the DuckDB oracle regardless of host timezone.

A caller that fixes the driver heap (an ``-Xms`` in the
``spark.driver.extraJavaOptions`` it passes, as a serving process
does) gets ``-XX:NewRatio=5`` in front of those options: a young
generation of a sixth of the heap.  Left alone, G1 grows eden to most
of a fixed heap and moves it across the whole heap, which is then
resident within two minutes; with a fixed young generation the
resident heap is the young generation plus what the old generation has
reached.  The saving shrinks as the old generation fills over a long
run (PERFNOTES.md, "One driver-JVM profile").  The collector stays the
JDK's.  A heap that grows, a caller's own young-generation option (it
comes later and wins), ``spark.driver.defaultJavaOptions`` and
executor JVMs are left as they are.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

_MB = 1024 * 1024

# One BLAS/OMP thread per Python worker (guide §4): every executor
# core already runs its own worker process, so a numpy matmul/FFT
# inside a UDF that lets OpenBLAS spawn nproc threads oversubscribes
# the host nproc-fold (32 workers x 32 spin-wait threads here — the
# r12 driver measured the Arrow decode family INVERSELY scaling,
# media_wav_decode 8-core beating 32-core ~12x).  Per-worker
# parallelism belongs to Spark's task scheduling, not to the BLAS
# pool.  setdefault so an operator that genuinely wants a fatter
# per-task pool can still override via the environment.
_WORKER_THREAD_PIN = {
    "OMP_NUM_THREADS": "1",
    "OPENBLAS_NUM_THREADS": "1",
    "MKL_NUM_THREADS": "1",
    "VECLIB_MAXIMUM_THREADS": "1",
    "NUMEXPR_NUM_THREADS": "1",
}
# Module import runs in the driver process before any JVM starts, so
# local-mode Python workers (forked from the JVM's daemon, which
# inherits the driver env) see the pins even without executorEnv.
for _k, _v in _WORKER_THREAD_PIN.items():
    os.environ.setdefault(_k, _v)

# The young-generation size of a driver JVM whose heap the caller
# fixes (module docstring)
_FIXED_HEAP_YOUNG = "-XX:NewRatio=5"


def _cpus() -> str:
    """Cores this process may use: ``$SPARK_GRAFT_CPUS``, else the
    host's CPU count."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)


def get_spark(
    app_name: str = "real-time-data-analytics-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = _cpus()
    master = master or os.environ.get("SPARK_MASTER") or f"local[{cpus}]"
    shuffle = str(shuffle_partitions or os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # events.parquet stores TIMESTAMP(NANOS) which the parquet reader
        # rejects; read as long and convert in catalog.table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # surface TIMESTAMP(isAdjustedToUTC=false) parquet columns as
        # TimestampType at the SCAN instead of TIMESTAMP_NTZ + a
        # per-row cast: the cast form blocked parquet pushdown on
        # those columns and cost ~1.6x on date-predicate joins
        # (catalog.normalize_time_cols stays as the fallback for
        # foreign sessions that already pinned NTZ inference)
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # dims here are tiny; on a real cluster raise/lower per workload
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * _MB))
        .config("spark.sql.files.maxPartitionBytes", str(128 * _MB))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    # cluster-mode path for the same pin: executorEnv reaches the
    # Python workers on real executors (local mode is covered by the
    # module-level os.environ defaults above; a var deleted since import
    # falls back to its pin)
    for k, pin in _WORKER_THREAD_PIN.items():
        builder = builder.config(f"spark.executorEnv.{k}", os.environ.get(k, pin))
    conf = dict(extra_conf or {})
    java_opts = conf.get("spark.driver.extraJavaOptions", "")
    if any(o.startswith("-Xms") for o in java_opts.split()):
        conf["spark.driver.extraJavaOptions"] = f"{_FIXED_HEAP_YOUNG} {java_opts}"
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def ensure_query_confs(spark: SparkSession) -> SparkSession:
    """Pin the runtime-settable confs every query depends on.

    The verification driver passes its *own* SparkSession to
    ``queries()`` entries; time-bucket formatting (date_format) is
    session-timezone dependent, so force UTC to match the tz-naive
    parquet timestamps and the DuckDB oracle.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # read naive parquet timestamps as TimestampType at the scan (no
    # NTZ + cast projection); runtime-settable, applies to reads
    # planned afterwards — catalog.table always calls this first
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # a foreign session defaults to 200 shuffle partitions; AQE
    # coalesces those for batch plans but is DISABLED for stateful
    # streaming, where 200 near-empty state-store tasks are pure
    # overhead at test scale — pin to the core count
    spark.conf.set("spark.sql.shuffle.partitions", _cpus())
    # BLAS/OMP pin for a FOREIGN session whose JVM predates our module
    # import: sc.environment feeds the envVars of every Python function
    # created afterwards (a distinct env set spawns a fresh worker
    # daemon), so numpy-in-UDF stages stop oversubscribing the host.
    for k, v in _WORKER_THREAD_PIN.items():
        spark.sparkContext.environment.setdefault(k, v)
    return spark


@contextmanager
def conf_override(spark: SparkSession, key: str, value: str):
    """Set one runtime conf for the ``with`` body, then restore the
    session's previous value (or unset it if it had none)."""
    old = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
