#!/usr/bin/env python
"""Benchmark harness: times the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line {"metric", "value", "unit", "queries", "sf"}.

Execution is forced with the noop sink (full computation of every
output column, no driver collect, no disk write) so timings measure
the plan, not the harness.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

from real_time_data_analytics_cassandra_spark import queries as q
from real_time_data_analytics_cassandra_spark.session import get_spark

# The bench times every registry query except these seven, in
# registry order.  Each has a benched sibling on the scale path or is
# session warmup; README's "Bench exclusions" table gives the reasons.
BENCH_EXCLUDED = {
    # exact all-pairs verify join, quadratic in colliding docs by
    # design (the verifier tier); minhash_lsh and the lossless
    # prefix-filtered ngram_jaccard_prefix / containment_near_dup are
    # the scale paths
    "ngram_jaccard",
    # at the loose 0.35 threshold its 4-bit bands admit n^2/16-scale
    # candidate volume; embedding_near_dup_cells is the benched
    # loose-threshold path
    "srp_near_dup",
    # exists to exercise the Python UDTF surface; chunk_documents is
    # the benched JVM path for the same semantics
    "udtf_token_windows",
    # exists to exercise the cogrouped-UDF surface (one Python
    # invocation per key group by API design); purchase_attribution's
    # union-trick window is the benched path
    "purchase_attribution_cogrouped",
    # pair source is the exact quadratic verifier, as ngram_jaccard's;
    # incremental_dedup_clusters (LSH-pair index read) is benched
    "dedup_clusters",
    "dedup_cluster_representatives",
    # the JVM/codegen warmup query (warm_session): a timed slot after
    # warming itself would be flattery, not measurement
    "latest_info_point_lookup",
}
BENCH_QUERIES = [n for n in q.queries() if n not in BENCH_EXCLUDED]

# Queries whose vs-ANCHOR ratio is expected to exceed the 2x scan
# threshold for a documented structural reason (not a plan
# regression).  Emitted into BENCH_full.json so the per-round drift
# scan sees the explanation next to the number; each entry points at
# the PERFNOTES.md section with the measurements.
EXPECTED_DRIFT = {
    "domain_crawl_stats": (
        "r12 semantics upgrade: the registrable domain is now a "
        "longest-suffix-wins lookup against a broadcast PSL rule "
        "table and the canonical URL passes RFC 3986 percent "
        "normalization — genuinely more work than the r11 anchor's "
        "lite literal form (the gratuitous part, one broadcast round "
        "per rule width, was already optimized to a single TLD-keyed "
        "join) — see PERFNOTES.md 'Round 12: URL family'"
    ),
    "cross_domain_dup_matrix": (
        "r12 semantics upgrade shared with domain_crawl_stats (PSL "
        "rule-table domains + RFC 3986 normalization in the parse "
        "chain), plus the doc->domain subtree now carries joins so "
        "the pairs-doms joins correctly plan as shuffle joins at "
        "static estimate (the 100 TB-right shape; AQE re-plans "
        "broadcast at runtime) — see PERFNOTES.md 'Round 12: URL "
        "family' and the budget note in tests/test_plan_budget.py. "
        "Additionally subject to the r13 cache-clear measurement fix "
        "(shares the cached shingle pass — see minhash_lsh's entry)"
    ),
    "minhash_lsh": (
        "r13 measurement fix, not a plan change: bench.py clears the "
        "SQL cache before every timed query (r12 verdict item 3), so "
        "the shared shingle pass this query .cache()s is rebuilt cold "
        "in every sample — r12's rounds 2-3 read round 1's "
        "still-cached relation, and while r13 cleared once per round "
        "the later of this query and cross_source_dup_matrix read "
        "the other's pass, so those medians partly measured cache-hit "
        "time.  Code path unchanged since r12's shared-pass "
        "optimization — see OPTIMIZATION_r13.md 'Measurement fixes'"
    ),
    "cross_source_dup_matrix": (
        "same r13 cache-clear measurement fix as minhash_lsh (shares "
        "the cached shingle pass) — see OPTIMIZATION_r13.md "
        "'Measurement fixes'"
    ),
    "heavy_hitter_tokens": (
        "r11 runtime exactness guard: the Misra-Gries lossless margin "
        "is now ENFORCED (two eager jobs over one cached pass instead "
        "of one lazily fused pass); the ~1 s job-boundary overhead is "
        "additive and data-size-independent — see PERFNOTES.md "
        "'Round 11: heavy_hitter_tokens'"
    ),
}


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def warm_session(spark, sf_dir: str) -> None:
    """Pay the one-time session costs before anything is timed."""
    # JVM/codegen warmup on an off-benchmark query
    force(q.latest_info_point_lookup(spark, sf_dir))
    # Pre-build the write-once fixtures (bus dump, indexes, pair
    # tables, persisted stream state) so no timed section pays a build.
    q.prebuild_fixtures(spark, sf_dir)
    # Warm the Python DataSource worker pool on the TINY sf0.001 dump
    # (one-time interpreter/Arrow startup, same class of session cost
    # as the JVM warmup above) — the benched sf_dir read stays cold.
    force(q.amqp_replay_type_counts(spark, "/root/testdata/sf0.001"))
    # Warm the Arrow/pandas worker pool the same way: the first
    # mapInPandas pays ~2 s of per-core Python interpreter startup
    # that belongs to the session, not to whichever Arrow query runs
    # first in the list.
    force(q.multimodal_decode_meta(spark, "/root/testdata/sf0.001"))
    # Warm whole-stage codegen + the broadcast-exchange thread pool on
    # the TINY sf0.001 inputs: the first join+agg query otherwise pays
    # ~2.5 s of one-time compilation/spin-up that belongs to the
    # session, not to whichever query runs first (the benched sf_dir
    # scans stay cold — only session machinery warms).
    force(q.geo_hourly_counts(spark, "/root/testdata/sf0.001"))


def time_query(spark, registry, name: str, sf_dir: str) -> float:
    """Seconds to force one cold run of registry[name].  The SQL cache
    is cleared first: Spark's CacheManager matches canonicalized plans,
    so a relation an earlier sample left persisted would serve this one
    warm and the timing would be cache-hit time, not the query.  The
    package's reused intermediates are lazy local checkpoints, which
    the CacheManager does not hold; its one ``persist``
    (``sketches.verified_heavy_hitters``) unpersists in a ``finally``,
    and ``clearCache()`` guards the sample should that release ever be
    skipped."""
    spark.catalog.clearCache()
    t0 = time.monotonic()
    force(registry[name](spark, sf_dir))
    return time.monotonic() - t0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    spark = get_spark(app_name="rtdac-bench")
    spark.sparkContext.setLogLevel("ERROR")
    registry = q.queries()
    warm_session(spark, sf_dir)

    # Median-of-N per query (default 3): this host's wall clock
    # oscillates ±30% between identical-code runs, so a single sample
    # is noise — medians are the stable signal.  Rounds are
    # INTERLEAVED (full list per round, not back-to-back repeats) so
    # the three samples of a query are separated in time and host
    # drift hits all queries alike.  SPARK_GRAFT_BENCH_RUNS=1 for
    # quick iteration loops.
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    samples: dict[str, list[float]] = {n: [] for n in BENCH_QUERIES}
    per_run_totals: list[float] = []
    for r in range(n_runs):
        run_total = 0.0
        for name in BENCH_QUERIES:
            dt = round(time_query(spark, registry, name, sf_dir), 3)
            samples[name].append(dt)
            run_total += dt
            print(f"  [{r + 1}/{n_runs}] {name}: {dt:.3f}s", file=sys.stderr)
        per_run_totals.append(round(run_total, 3))

    def median(xs: list[float]) -> float:
        s = sorted(xs)
        k = len(s)
        mid = (s[k // 2] if k % 2 else (s[k // 2 - 1] + s[k // 2]) / 2)
        return round(mid, 3)

    timings = {n: median(v) for n, v in samples.items()}
    total = round(sum(timings.values()), 3)
    payload = {
        "metric": "headline_queries_wall_clock_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "runs": n_runs,
        "per_run_totals": per_run_totals,
        "expected_drift": EXPECTED_DRIFT,
    }
    # The driver archives only a 2000-char tail of stdout, which keeps
    # the last ~64 timings and made rounds pairwise incomparable from
    # artifacts alone.  Persist the full dict beside the repo so every
    # round's complete per-query timings are diffable by name, plus a
    # vs-previous delta summary when a prior snapshot exists.
    here = os.path.dirname(os.path.abspath(__file__))
    full_path = os.path.join(here, "BENCH_full.json")
    prev = None
    if os.path.exists(full_path):
        try:
            with open(full_path) as f:
                prev = json.load(f)
        except (OSError, ValueError):
            prev = None
    if prev and isinstance(prev.get("queries"), dict):
        common = sorted(set(prev["queries"]) & set(timings))
        deltas = {
            n: round(timings[n] - prev["queries"][n], 3) for n in common
        }
        prev_total = round(sum(prev["queries"][n] for n in common), 3)
        cur_total = round(sum(timings[n] for n in common), 3)
        payload["vs_prev"] = {
            "comparable_queries": len(common),
            "prev_total_sec": prev_total,
            "cur_total_sec": cur_total,
            "ratio": round(cur_total / prev_total, 3) if prev_total else None,
            "top_regressions": dict(
                sorted(deltas.items(), key=lambda kv: -kv[1])[:5]
            ),
            "top_improvements": dict(
                sorted(deltas.items(), key=lambda kv: kv[1])[:5]
            ),
        }
    with open(full_path, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps(payload))
    spark.stop()


if __name__ == "__main__":
    main()
