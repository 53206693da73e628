"""Data-quality expectations (Deequ-lite): declarative row, uniqueness
and referential checks evaluated scan-economically, returning a
violation report instead of a boolean — the admission gate a training
pipeline runs before a corpus drop or a table publish.

The reference VALIDATES at its API edge (realtime_api.py raises on bad
limit/period/category — SURVEY.md §2.2 P9); this generalizes the same
idea to the data itself.

Scan economics (what matters at 100 TB):
- every ROW check against the same table folds into ONE conditional
  aggregate over ONE scan — k checks cost one pass, not k;
- a NULL predicate result counts as a violation (SQL three-valued
  logic would otherwise let nulls slide through ``x > 0`` unseen);
- uniqueness is a distinct-count aggregate (map-side partial);
- referential integrity is a LEFT ANTI join counted on the child side
  only — the parent key column is all that ships.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def row_checks(df: DataFrame, checks: dict[str, Column]) -> DataFrame:
    """Evaluate named boolean row predicates in ONE aggregate pass:
    one output row per check — (check, n_rows, n_violations, passed).
    A row violates a check when the predicate is FALSE **or NULL**."""
    if not checks:
        raise ValueError("row_checks needs at least one check")
    aggs = []
    for name, cond in checks.items():
        viol = (~F.coalesce(cond, F.lit(False))).cast("long")
        aggs.append(F.sum(viol).alias(f"__v_{name}"))
    agg = df.agg(F.count(F.lit(1)).alias("__n"), *aggs)
    # ONE aggregate row exploded into k report rows — a union of k
    # per-check selects would repeat the scan+agg subtree k times in
    # the physical plan (no CSE across union branches); this keeps the
    # whole suite at literally one table scan (plan-asserted).
    rows = F.array(
        *[
            F.struct(
                F.lit(name).alias("check"),
                F.col("__n").alias("n_rows"),
                F.col(f"`__v_{name}`").alias("n_violations"),
                (F.col(f"`__v_{name}`") == 0).alias("passed"),
            )
            for name in checks
        ]
    )
    return agg.select(F.explode(rows).alias("__r")).select("__r.*")


def uniqueness_check(df: DataFrame, name: str, cols: list[str]) -> DataFrame:
    """(check, n_rows, n_violations, passed) where violations = rows
    beyond the first per duplicated key (0 when the key is unique)."""
    agg = df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct(*[F.col(c) for c in cols]).alias("n_keys"),
    )
    return agg.select(
        F.lit(name).alias("check"),
        "n_rows",
        (F.col("n_rows") - F.col("n_keys")).alias("n_violations"),
        (F.col("n_rows") == F.col("n_keys")).alias("passed"),
    )


def referential_check(
    child: DataFrame,
    parent: DataFrame,
    name: str,
    child_key: str,
    parent_key: str,
) -> DataFrame:
    """(check, n_rows, n_violations, passed): child rows whose key has
    no parent (NULL child keys violate too — an FK must resolve)."""
    n = child.agg(F.count(F.lit(1)).alias("n_rows"))
    orphans = (
        child.select(F.col(child_key).alias("__k"))
        .filter(F.col("__k").isNotNull())  # nulls counted separately
        .join(
            parent.select(F.col(parent_key).alias("__k")).distinct(),
            "__k",
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("n_orphans"))
    )
    null_keys = child.agg(
        F.sum(F.col(child_key).isNull().cast("long")).alias("n_nulls")
    )
    return (
        n.crossJoin(F.broadcast(orphans))
        .crossJoin(F.broadcast(null_keys))
        .select(
            F.lit(name).alias("check"),
            "n_rows",
            (F.col("n_orphans") + F.col("n_nulls")).alias("n_violations"),
            ((F.col("n_orphans") + F.col("n_nulls")) == 0).alias("passed"),
        )
    )


def combine_reports(*reports: DataFrame) -> DataFrame:
    """Union per-table/per-kind reports into one, ordered by check
    name (deterministic publish order)."""
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out.orderBy("check")
