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

# Headline set: the reference-parity pipeline + the scan/join/agg
# heavy analytical queries + one of each training-data operator
# family.  (ngram_jaccard is excluded: its all-pairs verify join is
# quadratic in colliding docs — minhash_lsh and the lossless
# prefix-filtered forms ngram_jaccard_prefix / containment_near_dup
# are the scale paths and ARE benched.)
BENCH_QUERIES = [
    "geo_hourly_counts",
    "geo_hourly_country_totals",
    "latest_info_per_user",
    "global_recent_customers",
    "recent_by_category",
    "new_count_multi_granularity",
    "new_count_current_bucket",
    "json_extract_props",
    "subcategory_enrichment",
    "pricing_summary",
    "revenue_by_nation",
    "top_revenue_orders",
    "dedup_exact",
    "dedup_fingerprint",
    "minhash_lsh",
    "cross_source_dup_matrix",
    "cross_domain_dup_matrix",
    "simhash_near_dup",
    "text_quality",
    "token_count",
    "lang_id",
    "knn_bruteforce",
    "hard_negative_mining",
    "ann_ivf",
    "multimodal_decode_meta",
    "purchase_attribution",
    "user_sessions",
    "geo_rollup",
    "order_priority_cube",
    "signup_no_purchase_7d",
    "lang_confusion_matrix",
    "weekly_cohort_retention",
    "part_copurchase_kcore",
    "part_copurchase_coreness",
    "copurchase_degree_assortativity",
    "copurchase_degree_histogram",
    "order_backlog_daily",
    "distinct_users_per_type",
    "approx_distinct_users",
    "embedding_near_dup",
    "frame_samples",
    "recent_events_iso",
    "purchase_running_spend",
    "hourly_type_pivot",
    "price_band_stats",
    "filtered_parts_stats",
    "value_percentiles",
    "geo_hourly_counts_salted",
    "geo_hourly_counts_autosalted",
    "streaming_hourly_type_counts",
    "streaming_observed_quality",
    "streaming_image_signature_clusters",
    "streaming_session_windows",
    "streaming_latest_upsert",
    "type_hour_cube",
    "hourly_signups_zero_filled",
    "purchasing_customer_profiles",
    "multimodal_features",
    "customer_order_distribution",
    "promo_revenue_share",
    "bloom_prefiltered_part_revenue",
    "stale_parts",
    "large_volume_customers",
    "value_zscores",
    "tfidf_top_terms",
    "events_profile",
    "late_order_priority_counts",
    "small_quantity_revenue",
    "user_trailing_hour_stats",
    "user_event_paths",
    "disjunctive_parts_revenue",
    "part_supplier_variety",
    "top_supplier_revenue",
    "returned_items_top_customers",
    "profit_by_nation_year",
    "idle_high_balance_customers",
    "hash_split_counts",
    "stratified_sample_counts",
    "per_type_downsample",
    "streaming_sliding_counts",
    "streaming_dedup",
    "streaming_purchase_attribution",
    "cheapest_supplier_per_part",
    "value_deciles",
    "quality_filtered_docs",
    "chunk_documents",
    "hourly_type_unpivot",
    "nation_trade_volume",
    "market_share_by_year",
    "part_value_share",
    "sole_return_suppliers",
    "repetition_filter",
    "decontaminate_overlap",
    "pack_context_windows",
    "forecast_revenue",
    "geo_grouping_sets",
    "signup_purchase_overlap",
    "signup_only_users",
    "embedding_norm_stats",
    "streaming_multi_granularity_counts",
    "hll_reaggregated_users",
    "hdr_value_percentiles",
    "approx_value_percentiles",
    "value_histogram",
    "value_psi_drift",
    "daily_value_ohlc",
    "value_time_correlation",
    "sql_revenue_by_priority",
    "audio_window_features",
    "hourly_value_interpolated",
    "amqp_replay_type_counts",
    "streaming_geo_hourly_counts",
    "dominant_part_suppliers",
    "doc_rolling_fingerprint",
    "embedding_near_dup_cells",
    "bm25_search",
    "phrase_search",
    "phrase_search_postings",
    "hybrid_search_rrf",
    "weighted_token_sample",
    "purchase_session_interval",
    "ann_pq",
    "corpus_bigram_stats",
    "top_bigrams_per_source",
    "length_bucket_stats",
    "hourly_value_ewma",
    "ann_ivfpq",
    "ann_ivf_kmeans",
    "ann_ivf_kmeans_refined",
    "embedding_pca_norms",
    "retention_cohorts",
    "signup_conversion_funnel",
    "rfm_scores",
    "session_conversion",
    # round 4 additions
    "event_transition_matrix",
    "first_last_touch",
    "hourly_anomaly_streaks",
    "vocab_oov_rate",
    "bigram_lm_doc_scores",
    "streaming_transition_counts",
    "source_mixture_weights",
    "curriculum_shards",
    "token_budget_mixture",
    "user_info_scd2",
    "embedding_sq8_error",
    "heavy_hitter_tokens",
    "cross_doc_repetition",
    "boilerplate_scrub",
    "lm_quality_buckets",
    "pii_scrub_stats",
    "semantic_dedup",
    "cms_token_counts",
    "vocab_encode_docs",
    "incremental_ingest_dedup",
    "streaming_cms_token_counts",
    "streaming_hdr_percentiles",
    "streaming_ols_trend",
    "streaming_ks_drift",
    "event_type_correlation_matrix",
    "streaming_kmv_distinct_per_type",
    "streaming_hourly_cusum",
    "training_shard_shuffle",
    "span_dedup_keep_first",
    "exact_substr_dedup",
    "exact_substr_keep_first_dedup",
    "incremental_exact_substr",
    "temperature_resample_langs",
    "blocklist_filter_stats",
    "join_key_skew_report",
    "bm25_search_persisted",
    "incremental_span_dedup",
    "incremental_dedup_clusters",
    "incremental_bm25_search",
    "snapshot_docs_changes",
    "data_quality_report",
    "doc_char_entropy",
    "hourly_seasonal_trend",
    "bpe_learned_merges",
    "bpe_encode_docs",
    "source_token_fertility",
    "ngram_jaccard_prefix",
    "containment_near_dup",
    "split_leakage_report",
    "dup_cluster_size_histogram",
    "vocab_coverage_topk",
    "event_hourly_ols_trend",
    "event_hourly_theil_sen",
    "event_hourly_theil_sen_sampled",
    "media_wav_decode",
    "media_png_decode",
    "media_png_adam7_decode",
    "media_png_palette_decode",
    "media_png_gray16_decode",
    "media_png_rgba_decode",
    "media_ppm_decode",
    "image_ahash_clusters",
    "image_phash_near_dup",
    "image_dhash_near_dup",
    "incremental_image_near_dup",
    "incremental_audio_near_dup",
    "image_dup_components",
    "domain_crawl_stats",
    "percent_encoded_url_dups",
    "audio_fingerprint_near_dup",
    "audio_spectral_near_dup",
    "incremental_ann_search",
    "streaming_incremental_index",
    "json_decode_quarantine",
    "schema_evolution_read",
    # purchase_attribution_cogrouped is excluded like
    # udtf_token_windows: it exists to exercise the cogrouped-UDF
    # surface (one Python invocation per key group by API design);
    # purchase_attribution's union-trick window is the benched path
    "multimodal_features_arrow",
    "weighted_median_prices",
    "weighted_median_prices_vudf",
    "robust_value_outliers",
    "sampled_revenue_estimate",
    "part_affinity",
    "part_affinity_triples",
    "part_pagerank",
    "part_pagerank_personalized",
    "part_pagerank_weighted",
    "part_triangle_clustering",
    "part_copurchase_components",
    "kmv_user_overlap",
    "entity_match_parts",
    "entity_sorted_neighborhood",
    "join_size_estimate_cms",
    "kmv_distinct_per_type",
    "nb_lang_classifier",
    "lang_classifier_eval",
    "embedding_label_auc",
    "embedding_class_auc",
    "snapshot_docs_upsert",
    "snapshot_indexed_point_lookups",
    "snapshot_pruned_range_scan",
    "source_upsample_repeats",
    "source_token_kl",
    "ab_test_purchase_values",
    "ks_test_purchase_values",
    "mannwhitney_purchase_values",
    "kruskal_wallis_value_by_type",
    "friedman_hourly_type_ranks",
    "event_hourly_mann_kendall",
    "hourly_spearman_matrix",
    "hourly_dispersion_index",
    "type_audience_overlap",
    "observed_ingest_quality",
    "copurchase_link_prediction",
    "copurchase_hub_hop_histogram",
    "copurchase_cheapest_paths",
    "copurchase_harmonic_centrality",
    "copurchase_seed_eccentricity",
    "hourly_count_acf",
    "source_length_ks_drift",
    "source_length_psi",
    "token_zipf_fit",
    "value_benford_audit",
    "streaming_benford_drift",
    "streaming_psi_drift",
    "streaming_domain_crawl_stats",
    "value_skewness_by_type",
    "purchase_mean_bootstrap_ci",
    "chi2_type_daypart",
    "hourly_value_cusum",
    "doc_keywords",
    "revenue_concentration",
    "customer_spend_rank",
    "conversion_latency_percentiles",
    "retention_survival_curve",
    "dau_wau_stickiness",
    "daily_new_vs_returning",
    "streaming_new_vs_returning",
    "fulfillment_lag_percentiles",
    "mmr_diverse_neighbors",
    "pipeline_retention_funnel",
    # srp_near_dup is excluded like ngram_jaccard: at this corpus's
    # loose 0.35 threshold its 4-bit bands admit n^2/16-scale
    # candidate volume (see the operator's parameter-economics note);
    # embedding_near_dup_cells is the benched loose-threshold path
    # and IS in the list below.
    # udtf_token_windows is excluded: it exists to exercise the Python
    # UDTF surface end-to-end; chunk_documents is the benched JVM path
    # for the same semantics
    # dedup_clusters and dedup_cluster_representatives are
    # correctness-gated but excluded here for the same reason as
    # ngram_jaccard: their pair source is the exact quadratic
    # verifier (the LSH path is the benched scale path)
]

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
    so a .cache() populated by an earlier sample — of this query or of
    another sharing the pass, as minhash_lsh and cross_source_dup_matrix
    share one shingle pass — would serve this one warm and the timing
    would be cache-hit time, not the query."""
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
