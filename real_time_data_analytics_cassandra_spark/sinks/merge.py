"""MERGE INTO (keyed upsert) over hive-partitioned parquet.

Reference semantics: every Cassandra INSERT is a MERGE — re-inserting
a partition key overwrites in place (reference README.md:216-248 PK;
cassandra_subscriber.py:124-144 upsert into ``customer_latest_info``).
The batch view of that table (`operators/latest.py`) recomputes
latest-per-key from the full event log on every read; this sink is the
*incremental* form: maintain a materialized latest-per-key table that
each micro-batch updates in place, so reads are a plain scan.

Spark-first scale story (the part that matters at 100 TB):

1. The target is hive-partitioned on a batch-stable column (e.g. a
   date bucket derived from the key's first-seen time).  A source
   micro-batch touches few partitions.
2. Read ONLY the target partitions the source touches: up to
   MAX_LITERAL_PARTITIONS distinct values, a collected literal `isin`
   filter prunes at planning time; beyond that, a broadcast semi join
   prunes at runtime (dynamic partition pruning) with no driver-side
   materialization — so 99.9% of a 100 TB target is never listed,
   read, or written, and no batch can blow up the driver.
3. Union + combine (one shuffle, sized to affected partitions only),
   then write back with ``partitionOverwriteMode=dynamic`` — Spark
   replaces exactly the partitions present in the result and leaves
   every other partition's files untouched (asserted in
   tests/test_merge.py by file mtimes).

This module is the one owner of that rule.  Its shared helpers:

- :func:`_fs` / :func:`_target_exists` — the Hadoop FileSystem of a
  path and the storage-agnostic existence check (local, ``file://``,
  HDFS and object stores alike; never driver-local ``os.path``);
- :func:`_pruned_target` — step 2, the read of the touched partitions;
- :func:`_overwrite_partitions` — step 3's write-back: an eager
  ``localCheckpoint`` (so the plan no longer reads the files it is
  about to replace), then the dynamic partition overwrite;
- :func:`_fold_grouped` — the grouped fold behind merge_add,
  merge_sketches, merge_min and merge_min_add (batch group, first
  write, pruned read, batch-id replay guard, union, regroup,
  write-back); :func:`_fold_bounded` — the bounded-list fold behind
  merge_topn and merge_topk_per_group.

The operator indexes update their partitioned tables through the same
helpers: the span/ExactSubstr first-owner index
(operators/dedup.py), the BM25 termstats table (operators/index.py),
the near-dup band index (operators/multimodal.py) and the ANN append
(operators/similarity.py).

Constraint (same as any partitioned upsert without a global index,
including Hive ACID's bucketed form): a key's partition value must be
stable across updates — otherwise the stale row in the old partition
is not visible to the pruned read.  Derive the partition column from
the key (hash bucket) or from an immutable attribute.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.latest import latest_per_key
from ..session import conf_override
from ..streaming.pipelines import start_available_now


def _fs(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Hadoop Path) for ``path`` via the JVM
    gateway — storage-agnostic (local, HDFS, object stores with a
    Hadoop connector), unlike driver-side os/shutil calls."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def _target_exists(spark: SparkSession, path: str) -> bool:
    """FS-agnostic existence check via Hadoop (works for local, HDFS,
    object stores alike)."""
    fs, hpath = _fs(spark, path)
    return bool(fs.exists(hpath))


# Above this many touched partitions per batch, the pruned read
# switches from a collected literal `isin` list (planning-time
# partition pruning, zero-risk) to a broadcast semi join on the
# partition column (runtime pruning via dynamic partition pruning) —
# the driver never materializes an unbounded value list.
MAX_LITERAL_PARTITIONS = 1024


def _pruned_target(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    partition_col: str,
    merge_schema: bool = False,
) -> DataFrame:
    """Read ONLY the target partitions the source touches.

    The touched-value list is bounded by partitions-per-batch, not
    rows, but at 100 TB a hot batch can still touch many partitions —
    so the driver-side collect is capped at MAX_LITERAL_PARTITIONS
    (+1 probe row).  Under the cap: literal `isin` filter, pruned at
    planning time.  Over it: broadcast LEFT SEMI join against the
    (executor-side, never collected) distinct partition values —
    file-source dynamic partition pruning skips the untouched
    partitions at runtime, and correctness never depends on the
    pruning firing.

    ``merge_schema=True`` forces parquet footer merging: required when
    per-partition schemas can legitimately differ (merge_add's
    ``_applied_batch_id`` marker appears only in partitions written
    after replay protection was turned on) — default schema inference
    samples ONE footer and would silently drop the column from the
    read.  Footer merging is a metadata-only distributed job, cheap
    relative to the fold itself."""
    touched_df = source.select(partition_col).distinct()
    probe = [
        r[0] for r in touched_df.limit(MAX_LITERAL_PARTITIONS + 1).collect()
    ]
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    target = reader.parquet(path)
    if len(probe) <= MAX_LITERAL_PARTITIONS:
        pruned = target.filter(F.col(partition_col).isin(probe))
    else:
        pruned = target.join(
            F.broadcast(touched_df), partition_col, "left_semi"
        )
    # hive partition-type inference reads the directory names, not the
    # written dtype (a string day_bucket like '20240101' comes back as
    # int) — cast back to the SOURCE's dtype AFTER pruning so the
    # table keeps one stable schema across merges instead of leaning
    # on implicit union coercion that flips the dtype between writes
    src_type = source.schema[partition_col].dataType
    if pruned.schema[partition_col].dataType != src_type:
        pruned = pruned.withColumn(
            partition_col, F.col(partition_col).cast(src_type)
        )
    return pruned


def _overwrite_partitions(df: DataFrame, path: str, partition_col: str) -> None:
    """Write ``df`` back over the partitioned table at ``path``,
    replacing exactly the ``partition_col`` values present in ``df``.

    The eager localCheckpoint truncates lineage so the plan no longer
    reads the path being overwritten (Spark forbids read+overwrite of
    the same source); it materializes ONLY the touched partitions.
    Callers that want one file per partition pass ``df`` already
    repartitioned on ``partition_col``."""
    df = df.localCheckpoint(eager=True)
    with conf_override(
        df.sparkSession, "spark.sql.sources.partitionOverwriteMode", "dynamic"
    ):
        df.write.mode("overwrite").partitionBy(partition_col).parquet(path)


def merge_upsert(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    keys: Sequence[str],
    ts: str,
    partition_col: str,
    tiebreak: Sequence[str] = (),
) -> None:
    """MERGE ``source`` into the partitioned parquet table at ``path``:
    WHEN MATCHED and newer (by ``ts``, then ``tiebreak``) UPDATE,
    WHEN NOT MATCHED INSERT.  Rewrites only the partitions the source
    touches."""
    if not _target_exists(spark, path):
        merged = latest_per_key(source, keys, ts, tiebreak)
        merged.write.mode("overwrite").partitionBy(partition_col).parquet(path)
        return

    existing = _pruned_target(spark, path, source, partition_col)
    merged = latest_per_key(
        existing.unionByName(source.select(*existing.columns)),
        keys,
        ts,
        tiebreak,
    )
    _overwrite_partitions(merged, path, partition_col)


BATCH_ID_COL = "_applied_batch_id"


def _fold_grouped(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    keys: Sequence[str],
    partition_col: str,
    aggs: Sequence[Column],
    combine: Sequence[Column] | None = None,
    batch_id: int | None = None,
    merge_schema: bool = False,
) -> None:
    """The grouped read-modify-write every aggregate MERGE shares:
    group ``batch`` by (``partition_col``, ``keys``) with ``aggs``,
    write it if the table is new, else read the touched partitions,
    union and regroup with ``combine`` (default: ``aggs`` — right for
    sum/min/max, whose re-aggregation is the same aggregate) and
    write the result back over those partitions.

    A ``batch_id`` turns on the replay guard described at
    :func:`merge_add`: rows carry it in ``BATCH_ID_COL`` and touched
    partitions already holding it (or a later id) are left out of the
    fold."""
    grouped = batch.groupBy(partition_col, *keys).agg(*aggs)
    if batch_id is not None:
        grouped = grouped.withColumn(BATCH_ID_COL, F.lit(batch_id))
    if not _target_exists(spark, path):
        grouped.write.mode("overwrite").partitionBy(partition_col).parquet(path)
        return
    existing = _pruned_target(
        spark, path, grouped, partition_col, merge_schema=merge_schema
    )
    if batch_id is None and BATCH_ID_COL in existing.columns:
        raise ValueError(
            f"target {path!r} carries {BATCH_ID_COL}: folding without a "
            "batch_id would drop the replay markers from the partitions "
            "it overwrites — pass the batch_id (or rebuild the target "
            "without replay protection)"
        )
    if batch_id is not None:
        if BATCH_ID_COL not in existing.columns:
            existing = existing.withColumn(BATCH_ID_COL, F.lit(-1))
        # partition values already holding this batch — one row per
        # touched partition, broadcast into the anti joins, never
        # collected to the driver
        replayed = (
            existing.groupBy(partition_col)
            .agg(F.max(BATCH_ID_COL).alias("_mx"))
            .filter(F.col("_mx") >= batch_id)
            .select(partition_col)
        )
        grouped = grouped.join(F.broadcast(replayed), partition_col, "left_anti")
        existing = existing.join(F.broadcast(replayed), partition_col, "left_anti")
        if grouped.isEmpty():
            return
    merged = (
        existing.select(*grouped.columns)
        .unionByName(grouped)
        .groupBy(partition_col, *keys)
        .agg(*(aggs if combine is None else combine))
    )
    if batch_id is not None:
        merged = merged.withColumn(BATCH_ID_COL, F.lit(batch_id))
    _overwrite_partitions(merged, path, partition_col)


def merge_add(
    spark: SparkSession,
    deltas: DataFrame,
    path: str,
    keys: Sequence[str],
    count_col: str,
    partition_col: str,
    batch_id: int | None = None,
) -> None:
    """Additive MERGE: fold a batch of per-key count deltas into a
    materialized counter table — the exact semantics of the
    reference's Cassandra ``counter`` columns (README.md:254, 261;
    ``UPDATE ... SET count = count + 1`` at
    cassandra_subscriber.py:171-179, 212-221), maintained per
    micro-batch instead of per event.  Same partition-pruned
    read-modify-write as :func:`merge_upsert`; the combine is SUM
    instead of last-write-wins.

    SUM is not idempotent, so replays need bookkeeping: when
    ``batch_id`` is given, every written row carries it in
    ``_applied_batch_id``, and a partition whose recorded id is
    already >= the incoming batch is skipped entirely — the replayed
    fold becomes a no-op at the same atomicity granularity as the
    dynamic partition overwrite itself (a partition's counts and its
    applied-batch marker live in the same files, so they can never
    disagree).

    A target once written WITH batch ids must keep receiving them:
    folding without a ``batch_id`` would silently drop the
    ``_applied_batch_id`` column from the partitions it overwrites
    (per-partition schema drift + lost replay markers), so that call
    raises instead.  The converse sequence (markerless era, then batch
    ids turned on) is legal and leaves the table mixed-schema, so the
    pruned read always merges footers — otherwise schema inference
    could sample a markerless file and silently drop every replay
    marker from the read (double-count on replay, no error)."""
    _fold_grouped(
        spark,
        deltas,
        path,
        keys,
        partition_col,
        [F.sum(count_col).alias(count_col)],
        batch_id=batch_id,
        merge_schema=True,
    )


def counter_foreach_batch(
    stream: DataFrame,
    path: str,
    keys: Sequence[str],
    partition_col: str,
    checkpoint: str,
):
    """Streaming counter maintenance: each micro-batch's per-key event
    counts are folded into the counter table.  Unlike the reference's
    at-least-once increments (redelivery double-counts,
    cassandra_subscriber.py:283 ack-after-write), replays fold exactly
    once: foreachBatch alone is at-least-once (a batch replayed after
    the fold but before the checkpoint commit would double-count), so
    the fold records the batch id inside the written partitions and
    :func:`merge_add` skips partitions that already carry it."""

    def _fold(batch: DataFrame, batch_id: int) -> None:
        deltas = batch.groupBy(partition_col, *keys).agg(
            F.count(F.lit(1)).alias("cnt")
        )
        merge_add(
            batch.sparkSession,
            deltas,
            path,
            keys,
            "cnt",
            partition_col,
            batch_id=batch_id,
        )

    return start_available_now(stream, _fold, checkpoint)


def merge_upsert_foreach_batch(
    stream: DataFrame,
    path: str,
    keys: Sequence[str],
    ts: str,
    partition_col: str,
    checkpoint: str,
    tiebreak: Sequence[str] = (),
):
    """Streaming form: each micro-batch MERGEs into the target.
    foreachBatch + checkpointing gives exactly-once table maintenance
    (a replayed batch re-merges the same rows — MERGE is idempotent
    because last-write-wins keyed on content, not on arrival)."""

    def _merge(batch: DataFrame, _batch_id: int) -> None:
        merge_upsert(
            batch.sparkSession, batch, path, keys, ts, partition_col, tiebreak
        )

    return start_available_now(stream, _merge, checkpoint)


def _fold_bounded(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    top: Callable[[DataFrame], DataFrame],
    id_cols: Sequence[str],
) -> None:
    """The bounded-list fold both recent-list MERGEs share: collapse
    the batch to ``top(source)`` first, so the union with the stored
    list stays within twice the bound; dedup on ``id_cols`` (a
    replayed merge cannot evict newer rows) and keep ``top`` of the
    union.  The table is small and unpartitioned, so the write-back is
    a whole-table overwrite after an eager localCheckpoint (the plan
    must not read the files it replaces)."""
    batch_top = top(source)
    if not _target_exists(spark, path):
        batch_top.write.mode("overwrite").parquet(path)
        return
    merged = (
        spark.read.parquet(path)
        .select(*batch_top.columns)
        .unionByName(batch_top)
        .dropDuplicates(list(id_cols))
    )
    top(merged).localCheckpoint(eager=True).write.mode("overwrite").parquet(path)


def merge_topn(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    order_col: str,
    n: int,
    id_cols: Sequence[str],
) -> None:
    """Bounded recent-list MERGE: maintain the global top-N rows by
    ``order_col`` desc — the incremental materialization of the
    reference's ``global_recent_customers`` table (single fixed
    partition, ``CLUSTERING ORDER BY registration_timestamp DESC``,
    reference README.md:272-282; LIMIT-N read at
    realtime_api.py:143-149).

    Scale shape: the batch side collapses to its own top-N FIRST
    (TakeOrderedAndProject — per-partition local top-N, no shuffle),
    so the union is always ≤ 2N rows regardless of batch or history
    size; the target never exceeds N rows.  Dedup on ``id_cols``
    makes a replayed merge idempotent (re-merging rows already in the
    list cannot evict newer ones)."""
    from ..operators.topk import global_top_n

    _fold_bounded(
        spark,
        source,
        path,
        lambda df: global_top_n(df, order_col, n, id_cols),
        id_cols,
    )


def topn_foreach_batch(
    stream: DataFrame,
    path: str,
    order_col: str,
    n: int,
    id_cols: Sequence[str],
    checkpoint: str,
):
    """Streaming recent-list maintenance: each micro-batch folds its
    newest rows into the bounded top-N table.  Replaces the
    reference's single-hot-partition trick (fixed_partition_key =
    'all_customers') with a tiny bounded table that any executor can
    rebuild from a union of two top-N sets."""

    def _fold(batch: DataFrame, _batch_id: int) -> None:
        merge_topn(batch.sparkSession, batch, path, order_col, n, id_cols)

    return start_available_now(stream, _fold, checkpoint)


def merge_topk_per_group(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    group_cols: Sequence[str],
    order_col: str,
    k: int,
    id_cols: Sequence[str],
) -> None:
    """Per-group bounded recent-list MERGE: keep the newest K rows
    WITHIN each group — the incremental materialization of the
    reference's ``latest_product_category_trends`` table (partition
    per subcategory, ``CLUSTERING ORDER BY addition_timestamp DESC``,
    reference README.md:263-270; LIMIT-10 read at
    realtime_api.py:282-288).

    Scale shape: the batch collapses to its own per-group top-K first
    (one rank window over the batch), so the union never exceeds
    2K rows per touched group; the target stays ≤ K·|groups| and is
    hive-partition-able on the group key for pruned reads.  Idempotent
    on ``id_cols`` dedup, like :func:`merge_topn`."""
    from ..operators.topk import top_k_per_group

    _fold_bounded(
        spark,
        source,
        path,
        lambda df: top_k_per_group(df, group_cols, order_col, k, id_cols).drop(
            "rn"
        ),
        id_cols,
    )


def topk_per_group_foreach_batch(
    stream: DataFrame,
    path: str,
    group_cols: Sequence[str],
    order_col: str,
    k: int,
    id_cols: Sequence[str],
    checkpoint: str,
):
    """Streaming per-group recent-list maintenance (the write path of
    the reference's category-trends table, exactly-once per batch)."""

    def _fold(batch: DataFrame, _batch_id: int) -> None:
        merge_topk_per_group(
            batch.sparkSession, batch, path, group_cols, order_col, k, id_cols
        )

    return start_available_now(stream, _fold, checkpoint)


def merge_sketches(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    keys: Sequence[str],
    id_col: str,
    partition_col: str,
) -> None:
    """Sketch-table MERGE: fold per-key HLL sketches of ``id_col``
    into a materialized sketch table — the incremental form of
    hll_reaggregated_users (SURVEY.md §8.2), i.e. a distinct-count
    table you can maintain per micro-batch and roll up at read time
    without ever re-touching raw ids.  At 100 TB this is THE
    distinct-count maintenance pattern: each partition holds one
    KB-sized sketch per key, reads merge sketches (hll_union_agg),
    and the raw id column never leaves its original scan.

    Unlike additive counters (merge_add), sketch union is
    IDEMPOTENT — registers combine by max, so replaying a batch is a
    no-op by construction and no batch-id bookkeeping is needed (the
    test replays a batch and asserts byte-stable estimates).  Same
    partition-pruned read-modify-write shape as merge_upsert.
    """
    _fold_grouped(
        spark,
        batch,
        path,
        keys,
        partition_col,
        [F.hll_sketch_agg(id_col).alias("sketch")],
        combine=[F.hll_union_agg("sketch").alias("sketch")],
    )


def sketch_foreach_batch(
    stream: DataFrame,
    path: str,
    keys: Sequence[str],
    id_col: str,
    partition_col: str,
    checkpoint: str,
):
    """Streaming distinct-count maintenance: each micro-batch folds
    its per-key HLL sketches into the sketch table
    (:func:`merge_sketches`).  No batch-id bookkeeping, unlike
    :func:`counter_foreach_batch`: register-max union is idempotent,
    so the at-least-once replay window between fold and checkpoint
    commit is harmless by construction — the one incremental sink
    where exactly-once comes free."""

    def _fold(batch: DataFrame, batch_id: int) -> None:
        merge_sketches(
            batch.sparkSession, batch, path, keys, id_col, partition_col
        )

    return start_available_now(stream, _fold, checkpoint)


def merge_kmv(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    keys: Sequence[str],
    id_col: str,
    k: int = 256,
    salt: str = "kmv",
) -> None:
    """KMV-sketch MERGE: fold each key's bottom-k id hashes into a
    materialized sketch table — the incremental form of
    kmv_distinct_per_type.  Bottom-k of a union equals bottom-k of
    bottom-ks (operators/sketches.py), so the stored table after any
    sequence of batches is IDENTICAL to the sketch of the full data:
    the streaming estimate shares the batch oracle bit-for-bit.

    Like HLL register-max (merge_sketches), bottom-k union is
    idempotent — replaying a batch cannot change the table — so no
    batch-id bookkeeping is needed.  Unlike HLL, the same table also
    answers set-overlap questions (kmv_user_overlap) and the merge is
    plain rows: (keys..., h), at most k per key.

    The table is partitioned on the FIRST key so the read-modify-write
    prunes to the partitions the batch touches; sketch tables are
    k·|keys| rows, so the rewrite is KBs.  Caveat shared with every
    hive-partitioned sink here: a partition key whose VALUES look
    numeric reads back as int via partition-type inference — merge
    itself is immune (_pruned_target re-casts to the source dtype),
    but downstream readers of the raw path should pin a schema or
    disable ``spark.sql.sources.partitionColumnTypeInference``.
    """
    from real_time_data_analytics_cassandra_spark.operators.sketches import (
        kmv_hash,
    )

    part = keys[0]
    hashed = (
        batch.select(*keys, kmv_hash(id_col, salt).alias("h")).distinct()
    )
    if _target_exists(spark, path):
        existing = _pruned_target(spark, path, hashed, part)
        hashed = existing.unionByName(hashed).distinct()
    w = Window.partitionBy(*keys).orderBy("h")
    folded = (
        hashed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )
    _overwrite_partitions(folded, path, part)


def kmv_foreach_batch(
    stream: DataFrame,
    path: str,
    keys: Sequence[str],
    id_col: str,
    checkpoint: str,
    k: int = 256,
):
    """Streaming KMV maintenance: each micro-batch folds its bottom-k
    hashes into the sketch table (:func:`merge_kmv`).  Idempotent
    union ⇒ the at-least-once replay window is harmless, same as
    :func:`sketch_foreach_batch`."""

    def _fold(batch: DataFrame, batch_id: int) -> None:
        merge_kmv(batch.sparkSession, batch, path, keys, id_col, k)

    return start_available_now(stream, _fold, checkpoint)


def merge_min(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    key_cols: Sequence[str],
    val_col: str,
    partition_col: str,
) -> None:
    """MIN-merge: fold each batch's per-key minimum into a
    materialized table — the third idempotent merge family next to
    HLL register-max (merge_sketches) and bottom-k (merge_kmv): min
    is associative, commutative AND idempotent, so replays are no-ops
    by construction and no batch-id bookkeeping is needed.  The
    canonical use is first-seen tracking (first activity day per
    user, first crawl of a URL) — the basis of new-vs-returning
    splits and cohort assignment, maintained incrementally.

    Same partition-pruned read-modify-write shape as the other
    MERGEs; per batch the rewrite touches only the hive partitions
    the batch's keys land in."""
    _fold_grouped(
        spark,
        batch,
        path,
        key_cols,
        partition_col,
        [F.min(val_col).alias(val_col)],
    )


def min_foreach_batch(
    stream: DataFrame,
    path: str,
    key_cols: Sequence[str],
    val_col: str,
    partition_col: str,
    checkpoint: str,
):
    """Streaming first-seen maintenance via :func:`merge_min` — the
    at-least-once replay window is harmless (idempotent min)."""

    def _fold(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        merge_min(
            batch.sparkSession, batch, path, key_cols, val_col, partition_col
        )

    return start_available_now(stream, _fold, checkpoint)


def merge_min_add(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    key_cols: Sequence[str],
    min_col: str,
    add_col: str,
    partition_col: str,
    batch_id: int,
) -> None:
    """Combined MIN + ADD merge in ONE read-modify-write cycle: fold a
    batch's per-key minimum (e.g. the canonical/first-seen member)
    and per-key count delta into the same materialized table — the
    cluster-table maintenance primitive (canonical id rides min,
    cluster size rides sum).  Folding both in one pass halves the
    partition rewrites vs running :func:`merge_min` and
    :func:`merge_add` side by side, and keeps the two columns
    transactionally consistent (they live in the same files, so a
    crash can never leave sizes from one batch with canons from
    another).

    SUM is not idempotent, so the batch-id replay guard is REQUIRED
    here (same semantics as :func:`merge_add`: a partition already
    carrying this batch id skips the whole fold — the min column is
    idempotent anyway, so skipping it too is harmless)."""
    _fold_grouped(
        spark,
        batch,
        path,
        key_cols,
        partition_col,
        [F.min(min_col).alias(min_col), F.sum(add_col).alias(add_col)],
        batch_id=batch_id,
    )
