"""Mergeable frequency sketches: Misra-Gries heavy hitters.

The third sketch family next to HLL (cardinality, sinks/merge.py +
hll_reaggregated_users) and quantile summaries
(approx_value_percentiles): FREQUENCY estimation with bounded state —
"which tokens/keys dominate this corpus" without a full groupBy of
the key space.

Why not just groupBy().count().orderBy().limit()?  That is exact and
fine when the key space fits a shuffle (and it is the cross-check in
tests) — but its shuffle is O(distinct keys).  The Misra-Gries
summary is O(k) state per partition, ships k rows per partition
total, and is MERGEABLE (Agarwal et al., "Mergeable Summaries",
PODS'12): summing per-partition summaries preserves the error bound
with NO second pass over data.  At 100 TB / web-scale vocabularies,
this is the difference between shuffling the vocabulary and shipping
kilobytes.

Guarantees (merged summary, n = total rows, err = Σ per-partition
subtracted mass ≤ n/(k+1)):
- every reported estimate is a LOWER bound: est(v) ≤ true(v);
- the undercount is bounded: true(v) - est(v) ≤ err;
- completeness: any value with true(v) > err appears in the summary.
All three are asserted against exact counts in tests/test_crossval.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def mg_partition_summaries(df: DataFrame, col: str, k: int = 64) -> DataFrame:
    """Per-partition Misra-Gries summaries over ``df[col]``.

    One Arrow pass per partition: batch value_counts fold into a
    counter dict; whenever it exceeds ``k`` entries, the (k+1)-th
    largest count is subtracted from every counter (the MG decrement,
    vectorized per batch, never per row) and non-positive counters
    drop.  Emits ≤ k rows (value, cnt) per partition plus ONE
    bookkeeping row (value=NULL, cnt=subtracted mass) carrying the
    partition's error term.
    """

    def run(batches):
        import pandas as pd

        counts: dict = {}
        err = 0
        for pdf in batches:
            if not len(pdf):
                continue
            for v, c in pdf[col].value_counts().items():
                counts[v] = counts.get(v, 0) + int(c)
            if len(counts) > k:
                delta = sorted(counts.values(), reverse=True)[k]
                err += delta
                counts = {v: c - delta for v, c in counts.items() if c > delta}
        out = pd.DataFrame(
            {
                "value": list(counts.keys()) + [None],
                "cnt": list(counts.values()) + [err],
            }
        )
        yield out

    return df.select(F.col(col).cast("string").alias(col)).mapInPandas(
        run, "value string, cnt long"
    )


def heavy_hitters(df: DataFrame, col: str, k: int = 64) -> DataFrame:
    """Merged Misra-Gries heavy-hitter summary of ``df[col]``.

    Output: (value, est_count, max_err) — est_count is a lower bound
    on the true count, true ≤ est_count + max_err, and every value
    whose true count exceeds max_err is present.  The merge is a plain
    sum of the per-partition summaries (mergeable-summaries property);
    max_err is the summed per-partition subtracted mass, a scalar
    broadcast onto the ≤ k·P-row result.
    """
    summaries = mg_partition_summaries(df, col, k)
    err_row = summaries.filter(F.col("value").isNull()).agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).alias("max_err")
    )
    merged = (
        summaries.filter(F.col("value").isNotNull())
        .groupBy("value")
        .agg(F.sum("cnt").alias("est_count"))
    )
    return merged.crossJoin(F.broadcast(err_row))


def verified_heavy_hitters(
    df: DataFrame, col: str, k: int = 64, top: int = 20
) -> DataFrame:
    """EXACT top-``top`` values by count, with the Misra-Gries summary
    as the physical SHORTLIST — the standard two-pass heavy-hitters
    query (candidate generation + exact recount) that turns the
    approximate sketch into an oracle-checkable exact answer.

    Pass 1 ships only the ≤ k-row MG summary per partition (never the
    key space); pass 2 recounts ONLY the surviving candidates with a
    broadcast inner join (≤ k·P rows on the build side) — the corpus
    is scanned twice but never shuffled on the full vocabulary.

    Exactness: the MG completeness guarantee says every value with
    true count > err (err = summed subtracted mass ≤ n/(k+1)) is a
    candidate, so as long as the ``top``-th exact count exceeds err —
    trivially true when the vocabulary fits k (err = 0) — the result
    IS the exact global top-``top``, independent of partitioning.
    That margin is ENFORCED AT RUNTIME, not just asserted at fixture
    scale (tests/test_crossval.py): the error mass is already
    available from the summaries' NULL bookkeeping rows, so the
    operator compares it against the ``top``-th exact count and
    raises ValueError when the lossless margin fails rather than
    returning a silently-approximate "exact" answer (raise k in that
    case).  Both intermediates are bounded (≤ (k+1)·P summary rows,
    ≤ top result rows), so they come to the driver whole — the
    ≤k-model-table collect discipline — and the guard is free: the
    derived input is materialized once (MEMORY_AND_DISK) and both
    passes read it, in exactly two jobs.  Output: (value,
    exact_count, rank), ranked (count desc, value).
    """
    spark = df.sparkSession
    # the two passes share one materialization of the (possibly
    # derived — tokenized/exploded) input: pass 1 populates the
    # cache, pass 2 recounts from it instead of re-deriving.
    # MEMORY_AND_DISK, so an input too big for executor memory
    # degrades to spill instead of failure; unpersisted before
    # returning (the result is a bounded local relation).
    src = df.select(F.col(col).cast("string").alias("value")).persist()
    try:
        # pass 1: ONE job — the bounded summaries (≤ (k+1)·P rows)
        # come to the driver whole, yielding the candidate shortlist
        # AND the error mass from a single collect (the
        # ≤k-model-table collect discipline; no checkpoint, no second
        # summary pass)
        summ = mg_partition_summaries(src, "value", k).collect()
        err = sum(int(r["cnt"]) for r in summ if r["value"] is None)
        cand_vals = sorted(
            {r["value"] for r in summ if r["value"] is not None}
        )
        schema = "value string, exact_count long, rank long"
        if not cand_vals:
            rows: list = []
        else:
            cand = spark.createDataFrame(
                [(v,) for v in cand_vals], "value string"
            )
            # pass 2: ONE job — broadcast recount of the candidates
            # from the cached values, top-``top`` rows collected
            # (bounded by construction)
            rows = (
                src.join(F.broadcast(cand), "value")
                .groupBy("value")
                .agg(F.count(F.lit(1)).cast("long").alias("exact_count"))
                .orderBy(F.desc("exact_count"), F.asc("value"))
                .limit(top)
                .collect()
            )
    finally:
        # unpersist even when a pass raises (executor failure, the
        # lossless-margin ValueError below fires after this block) —
        # a leaked cache would pin storage memory for the session
        src.unpersist()
    # err == 0 means the vocabulary fit the summaries (no decrement
    # ever fired) and the shortlist is trivially complete; otherwise
    # the result is provably exact only when it is FULL and its
    # lowest exact count clears the error mass — a short or empty
    # result under positive error mass could be missing values whose
    # true count hides below err.
    floor = min((int(r["exact_count"]) for r in rows), default=None)
    if err > 0 and (len(rows) < top or floor is None or floor <= err):
        raise ValueError(
            f"verified_heavy_hitters lossless margin failed: "
            f"{len(rows)} rows with exact-count floor {floor} against "
            f"summed Misra-Gries error mass {err} at k={k}; the "
            f"shortlist may be incomplete — raise k"
        )
    ranked = [
        (r["value"], int(r["exact_count"]), i + 1)
        for i, r in enumerate(rows)
    ]
    return spark.createDataFrame(ranked, schema)


# ---------------------------------------------------------------------------
# Count-min sketch (Cormode & Muthukrishnan 2005) — the OVERESTIMATE
# counterpart to Misra-Gries (which underestimates): depth hash rows x
# width counters, est(v) = min over rows of the counter v hashes to.
# est(v) >= true(v) always; est(v) <= true(v) + e*N/width with
# probability 1 - e^-depth per value.  Counters are plain sums, so
# sketches MERGE by element-wise addition (unionByName + groupBy sum)
# — the same mergeable-summaries property the MG summary has, with the
# opposite error sign.
#
# Spark-first: unlike MG (an Arrow fold), the CMS needs NO Python at
# all — bucket assignment is an md5-derived hash expression inside
# whole-stage codegen and the sketch is ONE map-side-combined
# aggregate of d*width bounded size.  md5 (not xxhash64) keeps the
# hash family reproducible in ANY engine, which is what makes the
# whole sketch oracle-checkable bit-for-bit in DuckDB.


def cms_bucket(c, row: int, width: int):
    """Hash row ``row``'s bucket for value ``c``.  Rows 0-3 SLICE one
    md5 digest (hex chars 8*row+1..8*row+8): one md5 per value feeds
    the whole default depth-4 sketch — 4x fewer digest computations
    than hashing 'value:row' per row, and 32-bit slices of md5 are
    independent for bucketing purposes.  Rows >= 4 fall back to the
    salted per-row digest.  Engine-portable either way (md5 + hex
    parse + mod are identical everywhere)."""
    if row < 4:
        digest = F.md5(c.cast("string"))
        sliced = F.substring(digest, 8 * row + 1, 8)
    else:
        sliced = F.substring(
            F.md5(F.concat(c.cast("string"), F.lit(f":{row}"))), 1, 8
        )
    return F.pmod(F.conv(sliced, 16, 10).cast("long"), F.lit(width))


def cms_sketch(df: DataFrame, col: str, width: int = 2048, depth: int = 4) -> DataFrame:
    """Build the sketch: (row, bucket, cnt), at most depth*width rows
    regardless of input size.  One explode (depth structs per input
    row, map-side) + one map-side-combined count aggregate — the only
    shuffle ships the partial d*width counter blocks, never values.

    The md5 digest is projected ONCE per input row and the first four
    hash rows slice it (identical bucket math to cms_bucket, which
    the probe side keeps using) — inlining cms_bucket here would
    evaluate md5 depth times per row: whole-stage codegen does not
    CSE across array-of-struct element expressions, and the digest is
    ~the entire map-side cost (~25% faster at sf0.1).  The input is
    spread() first: the digest fold is CPU-bound, and a single-row-
    group source would otherwise serialize it on one core (no-op on
    an already-parallel production scan)."""
    from real_time_data_analytics_cassandra_spark.catalog import spread

    dig = spread(df).select(
        F.col(col).alias("__v"),
        F.md5(F.col(col).cast("string")).alias("__d"),
    )

    def bucket(i: int):
        if i < 4:
            sliced = F.substring("__d", 8 * i + 1, 8)
            return F.pmod(
                F.conv(sliced, 16, 10).cast("long"), F.lit(width)
            )
        # rows >= 4: same salted per-row digest as cms_bucket
        return cms_bucket(F.col("__v"), i, width)

    pairs = dig.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).cast("int").alias("row"),
                        bucket(i).alias("bucket"),
                    )
                    for i in range(depth)
                ]
            )
        ).alias("rb")
    )
    return pairs.groupBy(
        F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("cnt"))


def cms_sketch_tagged(
    df: DataFrame, cols: list[str], width: int = 2048, depth: int = 4
) -> DataFrame:
    """Build one CMS per column of ``df`` in a SINGLE scan (guide
    §1.2 — don't read the relation once per sketch): per column the
    digest/bucket math is :func:`cms_sketch`'s verbatim, so each
    tagged slice is row-for-row identical to the sketch a dedicated
    scan would build (asserted in tests/test_cms.py).  Callers
    sketching several keys of the same big relation (the join-size
    estimator sketches lineitem on l_partkey AND l_orderkey) pay one
    scan + digest pass instead of one per key.  Output:
    (tag, row, bucket, cnt) with tag = the column name; slice with
    ``.filter(col("tag") == name).drop("tag")``."""
    from real_time_data_analytics_cassandra_spark.catalog import spread

    src = spread(df).select(
        *[F.col(c).alias(f"__v{i}") for i, c in enumerate(cols)],
        *[
            F.md5(F.col(c).cast("string")).alias(f"__d{i}")
            for i, c in enumerate(cols)
        ],
    )

    def bucket(i: int, r: int):
        if r < 4:
            sliced = F.substring(f"__d{i}", 8 * r + 1, 8)
            return F.pmod(
                F.conv(sliced, 16, 10).cast("long"), F.lit(width)
            )
        return cms_bucket(F.col(f"__v{i}"), r, width)

    trios = src.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("tag"),
                        F.lit(r).cast("int").alias("row"),
                        bucket(i, r).alias("bucket"),
                    )
                    for i, c in enumerate(cols)
                    for r in range(depth)
                ]
            )
        ).alias("trb")
    )
    return trios.groupBy(
        F.col("trb.tag").alias("tag"),
        F.col("trb.row").alias("row"),
        F.col("trb.bucket").alias("bucket"),
    ).agg(F.count(F.lit(1)).alias("cnt"))


def cms_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Element-wise sum of two sketches built with the same
    (width, depth) — counters are sums, so merge is exact."""
    return (
        a.unionByName(b)
        .groupBy("row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame,
    values: DataFrame,
    col: str,
    width: int = 2048,
    depth: int = 4,
) -> DataFrame:
    """Point-query the sketch for every row of ``values[col]``:
    (value, est_count) with est_count = min over hash rows.  Probes
    explode map-side and equi-join the bounded sketch (broadcast-able:
    <= depth*width rows); values never seen by the sketch estimate 0
    via the left join."""
    probes = values.select(F.col(col).alias("value")).distinct().select(
        "value",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).cast("int").alias("row"),
                        cms_bucket(F.col("value"), i, width).alias("bucket"),
                    )
                    for i in range(depth)
                ]
            )
        ).alias("rb"),
    ).select("value", F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
    return (
        probes.join(F.broadcast(sketch), ["row", "bucket"], "left")
        .groupBy("value")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_count"))
    )


# ---------------------------------------------------------------------------
# KMV (k-minimum-values / bottom-k) distinct sketch
# ---------------------------------------------------------------------------
# The fourth sketch family: DISTINCT-COUNT estimation that, unlike
# HLL, also supports SET operations (union, intersection, Jaccard)
# between independently-built sketches — the theta-sketch use case
# (Dasgupta et al., "Theta Sketch Framework", 2016; Beyer et al.,
# "On Synopses for Distinct-Value Estimation", SIGMOD'07).
#
# A sketch is the k smallest values of a fixed uniform hash over the
# set.  Estimate: (k-1) / h_k (h_k scaled to (0,1]).  Union: the k
# smallest of the sketch union.  Jaccard: the fraction of the union
# sketch present in both input sketches; intersection = J * |A∪B|.
#
# Everything is DETERMINISTIC — the hash is the same engine-portable
# md5 48-bit prefix the samplers use (sampling.py::uniform01), so the
# sketch, and therefore the estimate, is a pure function of the value
# SET: any engine, any partitioning, any run produces bit-identical
# results, which is what lets a plain SQL oracle reproduce it.
#
# Scale shape: per set, one distinct-project of the key followed by a
# TakeOrdered(k) — no full sort, no wide shuffle; every later step
# operates on <= k-row frames (driver-safe, broadcast-safe).  Sketches
# are mergeable rows: persist them per partition/day and re-union
# later without touching the base data.

KMV_SCALE = 16**12  # 48-bit hash space; max value < 2^48 << 2^53


def kmv_hash(c, salt: str = "kmv"):
    """48-bit engine-portable uniform hash of a column (md5 prefix).
    12 hex chars keep every value exactly representable as a double,
    so (k-1)*SCALE/h_k is a single correctly-rounded IEEE division in
    any engine."""
    col = F.col(c) if isinstance(c, str) else c
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), col.cast("string"))), 1, 12),
        16,
        10,
    ).cast("bigint")


def kmv_sketch(df: DataFrame, col: str, k: int = 256, salt: str = "kmv") -> DataFrame:
    """The sketch: k smallest DISTINCT hash values of ``df[col]``.
    Output a single column ``h`` (bigint).  TakeOrdered plan — the
    k-row result never round-trips the driver."""
    return (
        df.select(kmv_hash(col, salt).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(k)
    )


def kmv_estimate(sketch: DataFrame, k: int, alias: str = "est_distinct") -> DataFrame:
    """1-row distinct-count estimate from a sketch: exact when the set
    had fewer than k distinct hashes (the sketch IS the set), else the
    (k-1)/h_k order-statistic estimator, rounded to 4dp."""
    return sketch.agg(
        F.count(F.lit(1)).alias("n"), F.max("h").alias("h_max")
    ).select(
        F.round(
            F.when(F.col("n") < k, F.col("n").cast("double")).otherwise(
                F.lit(float(k - 1))
                * F.lit(float(KMV_SCALE))
                / F.col("h_max").cast("double")
            ),
            4,
        ).alias(alias)
    )


def cms_inner_product(a: DataFrame, b: DataFrame) -> DataFrame:
    """Join-size estimate from two CMS sketches built with the same
    (width, depth): the minimum over hash rows of the bucket-wise
    inner product Σ_b cntA[r,b]·cntB[r,b] — an upper bound on
    |A ⋈ B| that tightens with width (Cormode & Muthukrishnan '05,
    §4.2).  Passing the SAME sketch twice estimates the second
    frequency moment F2 = Σ_k c_k², i.e. the SELF-join size — the
    skew statistic a planner wants BEFORE committing to a shuffle
    join at 100 TB.

    Cost: the sketches are ≤ depth·width rows however large the
    inputs were; this is an equi-join of two tiny relations.  Output:
    one row, ``est`` (bigint)."""
    ip = (
        a.select("row", "bucket", F.col("cnt").alias("cnt_a"))
        .join(
            b.select("row", "bucket", F.col("cnt").alias("cnt_b")),
            ["row", "bucket"],
        )
        .groupBy("row")
        .agg(F.sum(F.col("cnt_a") * F.col("cnt_b")).alias("ip"))
    )
    return ip.agg(F.min("ip").cast("long").alias("est"))

# ---------------------------------------------------------------- HDR
# Deterministic mergeable QUANTILE sketch (HDR-histogram style): the
# fourth sketch family next to MG (frequency, lower-bound error), CMS
# (frequency, upper-bound error), and KMV/HLL (cardinality).  Values
# are non-negative integers (money in cents here); a value c belongs
# to the bucket whose id IS c truncated to its top ``p + 1``
# significant bits — lower bound lb = (c >> s) << s with
# s = max(bitlen(c) - 1 - p, 0).  Every value in a bucket is within a
# factor (1 + 2^-p) of lb, so a quantile read off the histogram as
# "lower bound of the bucket holding rank r" UNDER-estimates the true
# quantile by at most that relative factor (asserted against exact
# percentiles in tests/test_crossval.py).
#
# Why this shape and not t-digest/KLL/GK: those are randomized or
# insertion-order-sensitive in their compaction, so two runs (or
# Spark vs an oracle engine) can legally disagree.  The HDR bucket
# function is a pure integer expression — bitlen via length(bin(c)),
# two shifts — that evaluates identically in Spark SQL and the DuckDB
# oracle, so the sketch AND every quantile read off it are bit-exact
# and fully oracle-gated, while staying MERGEABLE (Agarwal et al.,
# PODS'12 sense): a sketch is (group, lb, cnt) rows; merging = sum
# counts per (group, lb), associative and re-aggregatable across any
# pre-computed rollup (per-day -> per-type here).
#
# At 100 TB: the build is ONE map-side-combined aggregation — bucket
# counts collapse per partition before the exchange, so ≤ B rows ship
# per partition where B ≤ (64 - p) * 2^p + 2^(p+1) ≈ 1.9k for p = 5,
# however large the input.  Merges and quantile reads then run over
# the tiny bucket relation (a per-group window over ≤ B rows).
# Contrast percentile_approx: also one pass, but its summary is
# opaque, not re-aggregatable from stored per-day rollups, and not
# reproducible cross-engine.


def hdr_bucket_lb_sql(expr: str, p: int = 5) -> str:
    """SQL expression for the HDR bucket lower bound of the
    non-negative integer expression ``expr``: clears all but the top
    ``p + 1`` significant bits.  Shared VERBATIM by the Spark side
    (via F.expr) and the DuckDB oracles — the portability contract,
    so only functions both engines define identically appear here:
    bin()/length() for the bit length, power(2, s) (a power of two is
    an exact IEEE double for any s), floor(), cast.  Exact for
    0 <= expr < 2^53 (the double mantissa; money-in-cents stays far
    below) — a full-BIGINT variant would need each engine's own shift
    operator and forfeit the shared text.  0 maps to lb = 0."""
    s = f"greatest(length(bin({expr})) - 1 - {p}, 0)"
    return (
        f"CAST(floor(({expr}) / power(2, {s})) * power(2, {s}) AS BIGINT)"
    )


def hdr_sketch(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    p: int = 5,
) -> DataFrame:
    """Build HDR sketches over non-negative integer ``value_col``:
    one (group_cols..., lb, cnt) row per occupied bucket.  A single
    map-side-combined aggregation — the partial groupBy collapses
    each partition to <= B bucket rows before the exchange."""
    lb = F.expr(hdr_bucket_lb_sql(value_col, p))
    return (
        df.select(*group_cols, lb.alias("lb"))
        .groupBy(*group_cols, "lb")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def hdr_merge(sketch: DataFrame, group_cols: list[str]) -> DataFrame:
    """Merge sketches down to ``group_cols`` (e.g. per-(type, day) ->
    per-type): sum counts per bucket.  Associative — any rollup tree
    over stored sketch rows yields the identical merged sketch."""
    return sketch.groupBy(*group_cols, "lb").agg(F.sum("cnt").alias("cnt"))


def hdr_rank_expr(q: float, n_sql: str = "n", divop: str = "div") -> str:
    """SQL text for the 1-based rank ceil(q * n) in PURE INTEGER
    arithmetic: q is taken as its exact decimal ratio qnum/qden
    (0.99 -> 99/100) and ceil(a/b) is written (a + b - 1) <div> b —
    with a, b >= 0 this is identical under truncating division
    (Spark's ``div``) and floor division (DuckDB's ``//``), so the
    Spark query and the DuckDB oracle evaluate the SAME integers.
    Double-rounding of ceil(double_q * n) could straddle an integer
    boundary when q*n is exactly integral; this cannot."""
    from fractions import Fraction

    fr = Fraction(str(q))
    return (
        f"(({fr.numerator} * {n_sql} + {fr.denominator - 1})"
        f" {divop} {fr.denominator})"
    )


def hdr_quantiles(
    sketch: DataFrame,
    group_cols: list[str],
    qs: list[float],
) -> DataFrame:
    """Read quantiles off a merged sketch: for each q, the lower
    bound of the bucket holding rank ceil(q * n) (1-based, the
    smallest lb whose running count reaches the rank).  Deterministic
    under-estimate by < factor (1 + 2^-p).  The window runs over the
    tiny bucket relation (<= B rows per group), never the data.
    The rank is computed in integer arithmetic (:func:`hdr_rank_expr`)
    so cross-engine oracle parity is bit-exact even at boundary ranks.
    Output: (group_cols..., n, q_<q> ... one BIGINT column per q)."""
    w = Window.partitionBy(*group_cols).orderBy("lb")
    cum = sketch.select(
        *group_cols,
        "lb",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(Window.partitionBy(*group_cols)).alias("n"),
    )
    aggs = [F.max("n").alias("n")] + [
        F.min(
            F.when(
                F.col("cum") >= F.expr(hdr_rank_expr(q)), F.col("lb")
            )
        ).alias(f"q{str(q).replace('.', '_')}")
        for q in qs
    ]
    return cum.groupBy(*group_cols).agg(*aggs)
