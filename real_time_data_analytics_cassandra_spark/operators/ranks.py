"""Distributed EXACT global ranking without a single-partition sort.

``Window.orderBy(...)`` with no partition key is a one-executor global
sort — the classic scale-killer this engine bans from its registry
plans (see value_deciles' history).  When exact global ranks ARE the
product (leaderboards, exact top-percentile cuts, Gini/concentration
curves over unbounded entity sets), the scalable shape is the
range-partition + offset construction every distributed sort uses
underneath:

1. ``repartitionByRange(n, keys)`` — Spark samples the key
   distribution and assigns contiguous, globally-ordered key ranges
   to partitions (one pass + a sampling job);
2. per-partition counts — a tiny ``spark_partition_id`` aggregate,
   at most ``n`` rows to the driver;
3. broadcast the cumulative offsets back and add them to each row's
   PARTITION-LOCAL row_number: offset[p] + local_rank is the exact
   global rank, because ranges are ordered and disjoint.

Cost: two passes over the data and one n-row broadcast — every stage
embarrassingly parallel; contrast with the unpartitioned window's
single task holding the full sort.  Ties: ``row_number`` semantics
with the caller's full key list as the total order (pass a unique
tiebreaker last, exactly like the registry's ordered queries do), so
results are deterministic and engine-portable.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def global_rank(
    df: DataFrame,
    order_cols: list,
    rank_col: str = "rank",
    num_partitions: int | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Exact 1-based global row_number over ``order_cols`` (list of
    Column expressions or names; include a unique tiebreaker for
    determinism) WITHOUT a global single-partition sort.

    The returned frame has the input columns plus ``rank_col``
    (long).  Plan shape: range-exchange → per-partition window (keyed
    on spark_partition_id, so the sort stays inside each range) →
    broadcast join of the ≤num_partitions-row offset table.

    ``materialize=True`` (default) localCheckpoints the ranged+ranked
    pass — the offsets branch and the final join both read that pass,
    and downstream consumers typically read the result more than once
    (Gini needs three aggregates over the same ranks); without
    truncation Catalyst replicates the range sort per consumer.  The
    checkpoint is LAZY (r12): the plan is cut to a leaf immediately,
    but materialization folds into the first consuming job instead of
    paying a dedicated job barrier — pass ``materialize=False`` for a
    pure lazy plan when the result is consumed exactly once.
    """
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    n = num_partitions or df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    ranged = df.repartitionByRange(int(n), *cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    # partition-local ranks: the window key __pid keeps each sort
    # inside its (already range-disjoint) partition
    w = Window.partitionBy("__pid").orderBy(*cols)
    local = ranged.withColumn("__lrank", F.row_number().over(w))
    if materialize:
        local = local.localCheckpoint(eager=False)
    # cumulative start offset per partition (exclusive prefix sum of
    # partition sizes, ordered by pid = ordered by key range)
    sizes = (
        local.groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("__n"))
        .withColumn(
            "__offset",
            F.coalesce(
                F.sum("__n").over(
                    Window.orderBy("__pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("__pid", "__offset")
    )
    # the offsets relation is <= num_partitions rows: the global
    # window above sorts a handful of rows on one task — bounded by
    # construction, not by data volume
    return (
        local.join(F.broadcast(sizes), "__pid")
        .withColumn(
            rank_col, (F.col("__offset") + F.col("__lrank")).cast("long")
        )
        .drop("__pid", "__lrank", "__offset")
    )


def global_cumsum(
    df: DataFrame,
    order_cols: list,
    sum_cols: list,
    num_partitions: int | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Exact INCLUSIVE running sums of ``sum_cols`` over the global
    ``order_cols`` order WITHOUT a single-partition sort — the prefix
    -sum sibling of :func:`global_rank`, and the scale-safe form of
    every "cumulative distribution / running total over an unbounded
    ordered domain" query (ECDFs, Lorenz curves, sweep lines whose
    key domain is NOT calendar-bounded).

    Same construction: range-exchange on the order keys (globally
    ordered, disjoint ranges), per-partition running sums keyed on
    ``spark_partition_id`` (each window sorts only its own range),
    then one broadcast join of the ≤num_partitions-row exclusive
    prefix of per-partition totals.  Output adds ``cum_<col>`` (long)
    per requested column.  Integer-exact: sums are BIGINT throughout.

    ``order_cols`` must determine rows UNIQUELY (include a unique
    tiebreaker for determinism, same contract as :func:`global_rank`):
    the running sum uses a row frame, so duplicate order keys would
    make the per-row cumulative values depend on the tie order within
    the frame.  With unique keys, results are partitioning-invariant
    and engine-portable."""
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    n = num_partitions or df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    ranged = df.repartitionByRange(int(n), *cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = ranged
    for c in sum_cols:
        local = local.withColumn(f"__l_{c}", F.sum(c).over(w))
    if materialize:
        local = local.localCheckpoint(eager=False)
    # per-partition totals -> exclusive prefix over pid order: the
    # offsets relation is <= num_partitions rows, so the global
    # window below sorts a handful of rows on one task — bounded by
    # construction, not by data volume (same posture as global_rank)
    woff = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = local.groupBy("__pid").agg(
        *[F.sum(c).alias(f"__t_{c}") for c in sum_cols]
    )
    for c in sum_cols:
        offsets = offsets.withColumn(
            f"__o_{c}", F.coalesce(F.sum(f"__t_{c}").over(woff), F.lit(0))
        )
    out = local.join(
        F.broadcast(offsets.select("__pid", *[f"__o_{c}" for c in sum_cols])),
        "__pid",
    )
    for c in sum_cols:
        out = out.withColumn(
            f"cum_{c}",
            (F.col(f"__o_{c}") + F.col(f"__l_{c}")).cast("long"),
        ).drop(f"__o_{c}", f"__l_{c}")
    return out.drop("__pid")


def rrf_fuse(
    a: DataFrame,
    b: DataFrame,
    query_col: str,
    id_col: str,
    rank_col: str = "rnk",
    k_rrf: int = 60,
    top_k: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion of two ranked retrieval lists (the
    standard hybrid-search combiner): per (query, candidate),
    ``score = 1/(k_rrf + rank_a) + 1/(k_rrf + rank_b)``, with a
    missing arm contributing 0 — candidates surfaced by either arm
    compete on how highly and how consistently they rank, not on
    incomparable raw scores (BM25 logs vs cosine floats), which is
    exactly why RRF needs no score normalization.

    Exactness: ranks are integers, each reciprocal is one IEEE
    division, and the fusion is ONE fixed-order sum of two doubles —
    engine-portable bit-for-bit, so the fused ranking shares a full
    SQL oracle.  Scale shape: a full outer join on (query, id) of two
    ALREADY top-k'd lists — cardinality <= 2k per query — then a
    per-query window over <= 2k rows.  All heavy lifting happened in
    the arms; fusion is bounded per query no matter the corpus size.
    """
    qa = a.select(
        F.col(query_col).alias("__q"),
        F.col(id_col).alias("__id"),
        F.col(rank_col).alias("__ra"),
    )
    qb = b.select(
        F.col(query_col).alias("__q"),
        F.col(id_col).alias("__id"),
        F.col(rank_col).alias("__rb"),
    )
    fused = (
        qa.join(qb, ["__q", "__id"], "full_outer")
        .select(
            "__q",
            "__id",
            F.round(
                F.coalesce(
                    F.lit(1.0) / (F.lit(k_rrf) + F.col("__ra")), F.lit(0.0)
                )
                + F.coalesce(
                    F.lit(1.0) / (F.lit(k_rrf) + F.col("__rb")), F.lit(0.0)
                ),
                6,
            ).alias("rrf_score"),
            F.col("__ra").alias("lex_rank"),
            F.col("__rb").alias("dense_rank"),
        )
    )
    w = Window.partitionBy("__q").orderBy(F.desc("rrf_score"), F.asc("__id"))
    return (
        fused.withColumn("fused_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("fused_rank") <= top_k)
        .select(
            F.col("__q").alias(query_col),
            F.col("__id").alias(id_col),
            "rrf_score",
            "lex_rank",
            "dense_rank",
            "fused_rank",
        )
    )


def weighted_median_udf():
    """GROUPED_AGG pandas_udf computing the exact weighted median in
    integer units: smallest value whose cumulative weight reaches half
    the group total (2*cum >= total).  Lives here (not inline in
    queries.py) so the ``pd.Series`` type hints resolve against a
    module whose globals carry pandas — under ``from __future__ import
    annotations`` hints are strings and pyspark evaluates them in the
    DEFINING module's namespace.

    Scale caveat by design: a grouped-agg pandas UDF materializes each
    group's columns in one task — right for bounded-cardinality
    groups; the key-partitioned cumulative window
    (queries.weighted_median_prices) is the unbounded-group path."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def wmedian(p: pd.Series, w: pd.Series) -> int:
        df = (
            pd.DataFrame({"p": p, "w": w})
            .groupby("p", as_index=False)
            .sum()
            .sort_values("p")
        )
        cw = df["w"].cumsum()
        tot = int(df["w"].sum())
        return int(df["p"][2 * cw >= tot].iloc[0])

    return wmedian
