"""Persisted inverted text index: build-once / search-many BM25.

The reference recomputes nothing at query time either — its tables ARE
the precomputed answers (SURVEY.md §1.2, query-first keyed layout).
This module gives the lexical-retrieval operators the same shape the
ANN family already has (similarity.py::ann_index_build/probe): a
one-scan BUILD that persists the index as hive-partitioned parquet,
and a SEARCH that touches only the partitions its query terms live in.

Layout under ``path``:

- ``postings/``  (term, doc_id, tf), hive-partitioned by
  ``bucket = hash_bucket(term) % n_buckets`` — a query's terms map to
  a handful of buckets, so the scan partition-prunes to those
  directories: the parquet analog of an inverted-list seek.  Within a
  bucket the term IN-list still pushes into the scan.  A second
  ``batch`` partition level stamps which ingest wrote each row.
- ``termstats/`` (term, dfreq), same bucketing, same pruning —
  DERIVED state, always recomputable from postings.
- ``docstats/``  (doc_id, dl), partitioned by ``batch``.
- ``stats/``     exactly one row (n_docs, avgdl) — derived state.
- ``pending/``   crash markers: an append writes ``pending/<batch>``
  BEFORE touching any table and removes it after the last write, so
  a half-applied batch is detected and rolled back (its ``batch=``
  directories deleted, derived state recomputed) by the next append
  — see ``_repair_pending``.

Search parity: search reads these four tables into the SAME
``bm25_rank`` the fresh ``bm25_topk`` path uses, so a persisted-index
search is bit-identical to scoring the corpus from scratch (asserted
in tests/test_index.py).  At 100 TB the difference is the point: build
pays the corpus scan once; every search afterwards reads a few
megabytes of postings.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_data_analytics_cassandra_spark.operators.sampling import (
    hash_bucket,
)
from real_time_data_analytics_cassandra_spark.operators.text import bm25_rank
from real_time_data_analytics_cassandra_spark.functions.textfns import tokens
from real_time_data_analytics_cassandra_spark.sinks.merge import (
    _fs,
    _overwrite_partitions,
    _target_exists,
)

N_BUCKETS = 64


def build_text_index(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = N_BUCKETS,
) -> dict:
    """ONE corpus scan feeds all four tables: the token explode is
    aggregated map-side into (doc, term, tf); dfreq re-aggregates the
    postings (never the corpus); doc lengths are a pure projection.
    The postings/termstats writes repartition by bucket so each hive
    directory is a few co-written files.  Returns {n_docs,
    n_buckets}."""
    postings = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(tokens(F.col(text_col))).alias("term"),
        )
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
        .withColumn("bucket", hash_bucket("term", n_buckets))
        .withColumn("batch", F.lit("b0"))
        .localCheckpoint(eager=True)
    )
    (
        postings.repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("bucket", "batch")
        .parquet(f"{path}/postings")
    )
    spark = df.sparkSession
    termstats = (
        postings.groupBy("term", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("dfreq"))
    )
    (
        termstats.repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(f"{path}/termstats")
    )
    dl = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(tokens(F.col(text_col))).cast("bigint").alias("dl"),
        F.lit("b0").alias("batch"),
    )
    dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/stats")
    # docstats LAST: its existence is the build-complete marker the
    # append bootstrap keys on, so a crashed build is retried as a
    # clean rebuild rather than half-trusted
    dl.write.mode("overwrite").partitionBy("batch").parquet(
        f"{path}/docstats"
    )
    n_docs = spark.read.parquet(f"{path}/stats").collect()[0]["n_docs"]
    return {"n_docs": int(n_docs), "n_buckets": n_buckets}


def bm25_search_index(
    spark: SparkSession,
    path: str,
    query_terms: tuple[str, ...],
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
    n_buckets: int = N_BUCKETS,
) -> DataFrame:
    """Search the persisted index.  The query's terms are hashed to
    their buckets DRIVER-side (a few md5 calls on literals), so the
    postings/termstats scans carry both a partition filter (bucket IN
    ...) and a pushed term IN-list — the plan reads only the touched
    hive directories.  Scoring and ranking are ``bm25_rank``:
    bit-identical to the fresh path."""
    import hashlib

    want = sorted(
        {
            int(hashlib.md5(t.encode()).hexdigest()[:4], 16) % n_buckets
            for t in query_terms
        }
    )
    m = (
        spark.read.parquet(f"{path}/postings")
        .filter(F.col("bucket").isin(want))
        .filter(F.col("term").isin(*query_terms))
        .select("doc_id", "term", "tf")
    )
    dfreq = (
        spark.read.parquet(f"{path}/termstats")
        .filter(F.col("bucket").isin(want))
        .filter(F.col("term").isin(*query_terms))
        .select("term", "dfreq")
    )
    dl = spark.read.parquet(f"{path}/docstats")
    stats = spark.read.parquet(f"{path}/stats")
    return bm25_rank(m, dl, dfreq, stats, k1=k1, b=b, top_k=top_k)


def _content_batch(fresh: DataFrame, id_col: str) -> tuple[int, str | None]:
    """(row count, batch id) of a batch of not-yet-indexed rows; the
    id is ``b{n}x{hash}``, derived from the batch's CONTENT (count +
    summed xxhash64 of the ids), so a crashed append and its retry
    share the marker and ``batch=`` directory names.  None when the
    batch is empty.  One job yields both numbers (the hash is summed
    as decimal(38,0): a bigint sum overflows under ANSI)."""
    sig = fresh.agg(
        F.count(F.lit(1)).alias("c"),
        F.sum(
            F.xxhash64(F.col(id_col).cast("string")).cast("decimal(38,0)")
        ).alias("h"),
    ).collect()[0]
    n = int(sig["c"])
    if n == 0:
        return 0, None
    return n, f"b{n}x{(int(sig['h']) & 0xFFFFFFFFFFFF):012x}"


@contextmanager
def _pending_marker(spark, path: str, batch: str):
    """Hold the crash marker ``pending/<batch>`` under ``path`` while
    the body writes: created before, removed after.  The removal is
    deliberately NOT in a ``finally`` — a body that raises leaves the
    marker, which is how the next append detects and rolls back the
    half-applied batch."""
    fs, marker = _fs(spark, f"{path}/pending/{batch}")
    fs.mkdirs(marker.getParent())
    fs.create(marker, True).close()
    yield
    fs.delete(marker, False)


def _refresh_derived(spark, path: str, buckets: list[int], n_buckets: int):
    """Recompute the DERIVED tables from the durable ones: termstats
    for the given buckets re-aggregates the surviving postings of
    those buckets (dynamic overwrite, O(bucket slice)); stats
    re-aggregates docstats (2 columns, one row out).

    The touched ``termstats/bucket=X`` directories are DELETED before
    the overwrite: dynamic partitionOverwriteMode only replaces
    partitions that appear in the new data, so a bucket whose
    surviving postings slice is EMPTY would otherwise keep its stale
    directory (possibly already containing the crashed batch's
    counts) and a retried append would merge on top of it, doubling
    dfreq."""
    if buckets:
        fs, _ = _fs(spark, f"{path}/termstats")
        for bkt in buckets:
            _, bdir = _fs(spark, f"{path}/termstats/bucket={bkt}")
            if fs.exists(bdir):
                fs.delete(bdir, True)
        derived = (
            spark.read.parquet(f"{path}/postings")
            .filter(F.col("bucket").isin(buckets))
            .groupBy("term", "bucket")
            .agg(F.count(F.lit(1)).cast("bigint").alias("dfreq"))
        )
        _overwrite_partitions(
            derived.repartition("bucket"), f"{path}/termstats", "bucket"
        )
    all_dl = spark.read.parquet(f"{path}/docstats").localCheckpoint(
        eager=True
    )
    (
        all_dl.agg(
            F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{path}/stats")
    )


def _repair_pending(spark, path: str, n_buckets: int) -> list[str]:
    """Roll back any half-applied append batches.  For each marker in
    ``pending/``: delete that batch's ``batch=`` directories under
    postings (glob across buckets) and docstats, recompute the derived
    tables for the touched buckets, then drop the marker.  Leaves the
    index exactly at its last fully-committed state; O(batch) +
    O(bucket slice), never O(corpus).  Returns the repaired batch ids
    (empty on the happy path)."""
    fs, pend = _fs(spark, f"{path}/pending")
    if not fs.exists(pend):
        return []
    repaired = []
    for st in fs.listStatus(pend):
        batch = st.getPath().getName()
        glob = spark._jvm.org.apache.hadoop.fs.Path(
            f"{path}/postings/bucket=*/batch={batch}"
        )
        buckets = []
        for g in fs.globStatus(glob) or []:
            buckets.append(
                int(g.getPath().getParent().getName().split("=")[1])
            )
            fs.delete(g.getPath(), True)
        _, doc_dir = _fs(spark, f"{path}/docstats/batch={batch}")
        if fs.exists(doc_dir):
            fs.delete(doc_dir, True)
        _refresh_derived(spark, path, buckets, n_buckets)
        fs.delete(st.getPath(), False)
        repaired.append(batch)
    return repaired


def append_text_index(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = N_BUCKETS,
) -> dict:
    """INCREMENTALLY add a batch of documents to an existing index —
    the build-once / APPEND-INCREMENT / search-many lifecycle.  At
    100 TB the point is O(batch), never O(corpus): a new crawl slice
    must not trigger an index rebuild.

    Mechanics, per table:

    - any half-applied earlier batch is ROLLED BACK first
      (``_repair_pending``: its stamped ``batch=`` directories are
      deleted and derived state recomputed), then a ``pending/<batch>``
      marker is written BEFORE any table write and removed after the
      last one — so a crash anywhere inside the append leaves a
      detectable, reversible state instead of silently doubled
      postings on replay;
    - already-indexed doc_ids are dropped (anti-join against
      ``docstats``), so REPLAYING a completed batch is a no-op — the
      same idempotency discipline as the merge sinks;
    - ``postings``: new (term, doc_id, tf) rows APPEND into their hive
      bucket directories under a fresh ``batch=`` stamp (tf is
      per-document, so rows for new docs never collide with old rows);
    - ``termstats``: document frequency is additive — the affected
      buckets (<= n_buckets) are read back, unioned with the batch's
      per-term counts, re-summed, and DYNAMICALLY overwritten; derived
      state, O(vocab slice) work (the repair path re-derives it from
      postings instead);
    - ``docstats``: append under the batch stamp; ``stats``:
      recomputed exactly from the appended docstats (a 2-column table
      scan — avgdl stays the exact sum/count, no drifting incremental
      average).

    Search afterwards is bit-identical to an index built fresh over
    old+new (asserted in tests/test_index.py) because every stored
    table equals its full-rebuild value row-for-row (the ``batch``
    stamp is provenance, not content).  Returns {n_new_docs, n_docs,
    batch, repaired}."""
    spark = df.sparkSession
    # bootstrap: appending into a not-yet-existing index IS the build
    # (lets a streaming foreachBatch sink create the index on its
    # first micro-batch with no separate initialization step)
    if not _target_exists(spark, f"{path}/docstats"):
        meta = build_text_index(df, path, id_col, text_col, n_buckets)
        return {
            "n_new_docs": int(meta["n_docs"]),
            "n_docs": int(meta["n_docs"]),
            "batch": "b0",
            "repaired": [],
        }
    repaired = _repair_pending(spark, path, n_buckets)
    known = spark.read.parquet(f"{path}/docstats").select("doc_id")
    fresh = df.join(
        known, df[id_col] == known.doc_id, "left_anti"
    ).localCheckpoint(eager=True)
    n_new, batch = _content_batch(fresh, id_col)
    if n_new == 0:
        n_docs = spark.read.parquet(f"{path}/stats").collect()[0]["n_docs"]
        return {
            "n_new_docs": 0,
            "n_docs": int(n_docs),
            "batch": None,
            "repaired": repaired,
        }

    postings = (
        fresh.select(
            F.col(id_col).alias("doc_id"),
            F.explode(tokens(F.col(text_col))).alias("term"),
        )
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
        .withColumn("bucket", hash_bucket("term", n_buckets))
        .withColumn("batch", F.lit(batch))
        .localCheckpoint(eager=True)
    )
    affected = [
        r["bucket"] for r in postings.select("bucket").distinct().collect()
    ]
    with _pending_marker(spark, path, batch):
        (
            postings.repartition("bucket")
            .write.mode("append")
            .partitionBy("bucket", "batch")
            .parquet(f"{path}/postings")
        )
        dl = fresh.select(
            F.col(id_col).alias("doc_id"),
            F.size(tokens(F.col(text_col))).cast("bigint").alias("dl"),
            F.lit(batch).alias("batch"),
        )
        dl.write.mode("append").partitionBy("batch").parquet(f"{path}/docstats")
        # happy-path termstats: additive merge of the OLD termstats slice
        # with the batch's per-term counts — cheaper than re-aggregating
        # the affected postings buckets (vocab slice vs postings slice);
        # the repair path re-derives from postings instead, which is why
        # a crash between the postings write and this overwrite is safe
        new_counts = postings.groupBy("term", "bucket").agg(
            F.count(F.lit(1)).cast("bigint").alias("dfreq")
        )
        old = (
            spark.read.parquet(f"{path}/termstats")
            .filter(F.col("bucket").isin(affected))
            .select("term", "bucket", "dfreq")
        )
        merged = (
            old.unionByName(new_counts)
            .groupBy("term", "bucket")
            .agg(F.sum("dfreq").cast("bigint").alias("dfreq"))
        )
        _overwrite_partitions(
            merged.repartition("bucket"), f"{path}/termstats", "bucket"
        )
        # exact stats recompute: collect the 1-row aggregate once, then
        # write it as a literal row — no localCheckpoint of docstats, no
        # read-back of the written table (3 jobs -> 2)
        srow = (
            spark.read.parquet(f"{path}/docstats")
            .agg(F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl"))
            .collect()[0]
        )
        spark.createDataFrame(
            [(int(srow["n_docs"]), float(srow["avgdl"]))],
            "n_docs bigint, avgdl double",
        ).repartition(1).write.mode("overwrite").parquet(f"{path}/stats")
    return {
        "n_new_docs": int(n_new),
        "n_docs": int(srow["n_docs"]),
        "batch": batch,
        "repaired": repaired,
    }
