"""Shuffle-budget regression guard: cornerstone queries carry a
pinned MAXIMUM exchange count (current value from PLANS.md, verbatim
— no headroom: these plans are the product).  A refactor that adds a
shuffle to any of them fails HERE, with the query named, instead of
surfacing as an unexplained bench regression three rounds later.

The pins are ceilings, not equalities, so a plan IMPROVEMENT never
fails the guard — regenerate PLANS.md and lower the pin when that
happens.
"""

from __future__ import annotations

import pytest

from real_time_data_analytics_cassandra_spark import queries as q
from real_time_data_analytics_cassandra_spark.plans import (
    explain_str,
    operator_count,
)
from tests.conftest import SF_SMOKE

# query -> max shuffle exchanges (PLANS.md values at pin time)
BUDGETS = {
    # reference-parity cornerstones
    "geo_hourly_counts": 1,
    "latest_info_per_user": 1,
    "global_recent_customers": 2,
    "recent_by_category": 1,
    "new_count_multi_granularity": 1,
    "pricing_summary": 1,
    "revenue_by_nation": 3,
    "subcategory_enrichment": 1,
    # analytics
    "event_transition_matrix": 4,
    "first_last_touch": 3,
    "user_info_scd2": 1,
    "purchase_running_spend": 1,
    "user_trailing_hour_stats": 1,
    "small_quantity_revenue": 2,
    "hourly_value_ewma": 3,
    "hourly_value_cusum": 4,
    # range-partitioned global_rank (post-checkpoint leaf + offsets):
    # 2 more than the old unpartitioned-window form, but no task ever
    # holds the full entity sort
    "revenue_concentration": 8,
    "customer_spend_rank": 3,
    "conversion_latency_percentiles": 2,
    # range-partitioned global_cumsum (ECDF prefix sums): same
    # construction as global_rank, no single-task sort of the
    # distinct-value relation
    "ks_test_purchase_values": 7,
    # enum-bounded densified grid + keyed windows only
    "source_length_ks_drift": 11,
    "retention_survival_curve": 5,
    # deterministic md5 pair sample: hourly count + rates agg +
    # pair join + keyed rank window + ordered output
    "event_hourly_theil_sen_sampled": 6,
    # training-data pipeline
    "dedup_exact": 1,
    "dedup_fingerprint": 1,
    "text_quality": 0,
    "token_count": 1,
    "span_dedup_keep_first": 5,
    # spread no-op + window-hash count agg + join-back on wh +
    # per-doc rebuild agg + join on id + ordered output
    "exact_substr_dedup": 6,
    "exact_substr_keep_first_dedup": 6,
    "decontaminate_overlap": 3,
    "tfidf_top_terms": 7,
    "doc_keywords": 8,
    "chunk_documents": 0,
    # sketches / estimation
    "kmv_distinct_per_type": 3,
    # +2 vs r5's first pin: cms_sketch spread()s its CPU-bound digest
    # fold (a no-op exchange on parallel production scans, see
    # catalog.spread)
    "join_size_estimate_cms": 8,
    "sampled_revenue_estimate": 2,
    "value_deciles": 2,
    "cms_token_counts": 5,
    # two-pass exact heavy hitters: spread no-op exchange + MG summary
    # merge + broadcast-recount agg + TakeOrdered
    "heavy_hitter_tokens": 4,
    # Arrow signature stage + signature groupBy + join-back
    "image_ahash_clusters": 4,
    # signature groupBy + band explode/join + distinct + 2 verify joins
    "image_phash_near_dup": 10,
    "image_dhash_near_dup": 10,
    "incremental_image_near_dup": 3,
    "incremental_audio_near_dup": 3,
    "image_dup_components": 4,
    "domain_crawl_stats": 5,
    # groupBy+countDistinct two-phase agg + ordered output
    "percent_encoded_url_dups": 3,
    # r12: the registrable domain is now a broadcast suffix-TABLE
    # lookup, so the doc->domain subtree carries joins and no longer
    # qualifies for a static broadcast — the two pairs><doms joins
    # plan as shuffle joins, the CORRECT 100 TB shape (the doc->domain
    # map is corpus-sized; AQE converts to broadcast at runtime when
    # the built side is actually small)
    # r12 optimization: minhash_lsh_pairs now CACHES one shared
    # shingle pass (signature + verify arms read the same relation —
    # one corpus tokenize instead of two).  The textual exchange
    # count RISES because each InMemoryRelation reference repeats the
    # cached subtree's plan (incl. its spread() exchange) in explain
    # output, while the EXECUTED shuffle count falls: the cached pass
    # materializes once and all three consumers read it back
    # (measured 4.6 s -> 3.1 s at sf0.1, see OPTIMIZATION_r12.md)
    "cross_domain_dup_matrix": 15,
    "source_token_fertility": 4,
    "audio_fingerprint_near_dup": 10,
    "audio_spectral_near_dup": 10,
    # graph / linkage (post-loop leaves for the iterative ones;
    # triangle counting: adjacency build + 2 adjacency joins +
    # contribution regroup + output-degree regroup over the
    # checkpointed oriented-edge leaf)
    "part_pagerank": 0,
    "part_pagerank_weighted": 0,
    "part_pagerank_personalized": 0,
    "part_triangle_clustering": 6,
    "entity_match_parts": 9,
    "entity_sorted_neighborhood": 3,
    # round 6: bounded two-phase top-k (2 ranking exchanges by design),
    # prefix-filtered joins, and the new source/decode surfaces
    "knn_bruteforce": 2,
    "hard_negative_mining": 3,
    "containment_near_dup": 10,
    "ngram_jaccard_prefix": 9,
    # split-leakage = the 9-exchange prefix-filtered pair set + two
    # split-decoration id joins
    "split_leakage_report": 11,
    "dup_cluster_size_histogram": 3,
    # per-source bounded two-phase rank (salted partial + final) +
    # the totals aggregation and its join
    "vocab_coverage_topk": 8,
    # (type, hour) count + per-type OLS sums + ordered output +
    # the 1-row first-hour broadcast's exchange
    "event_hourly_ols_trend": 4,
    # hourly counts + hour spine + grid left join + per-hour pair
    # join + pair sums + ordered output (types ride a broadcast)
    "event_type_correlation_matrix": 8,
    # round 9: the Pearson tail + the per-type (y, count) aggregate,
    # its partitioned cumulative window, and the rank-decoration join
    "hourly_spearman_matrix": 17,
    # hourly count + pair join reduced by keyed SUMs + tie aggregate
    # + n aggregate + ordered output — no windows
    "event_hourly_mann_kendall": 5,
    # hourly count + spine + grid join + lag fan equi-join + per-lag
    # sums + ordered output (lags/totals/denominator ride broadcasts)
    "hourly_count_acf": 13,
    # per-(value, arm) count + global_cumsum range exchange + its
    # offsets + the 1-row totals broadcast's exchange
    "mannwhitney_purchase_values": 4,
    # same construction, 5-way counts: per-value count + global_cumsum
    # range exchange + its offsets
    "kruskal_wallis_value_by_type": 3,
    # (hour, type) count + spine + grid join + per-block windows +
    # the 1-row final aggregate
    "friedman_hourly_type_ranks": 3,
    # capped adjacency build (checkpointed leaf) + wedge self-join +
    # pair count + anti join + degree joins, TakeOrdered output
    "copurchase_link_prediction": 3,
    # A-priori: pair-lattice wedge join + 3 constrained support joins
    # + support regroup + ordered output
    "part_affinity_triples": 5,
    # round 10: post-loop leaves — the settled-table output is a
    # checkpointed leaf + ordered output
    "copurchase_cheapest_paths": 1,
    # post-loop (seed, id) table: harmonic regroup + ordered output
    "copurchase_harmonic_centrality": 2,
    # same post-loop table, 8-row per-seed aggregate
    "copurchase_seed_eccentricity": 2,
    # distinct (user, type) projection (checkpointed leaf) + user
    # self-join + pair count + two enum-size decoration joins
    "type_audience_overlap": 4,
    # observe() metrics ride the scan; the returned readout is a
    # 1-row local relation — zero exchanges by construction
    "observed_ingest_quality": 0,
    # one keyed aggregate over the densified grid + ordered output
    "hourly_dispersion_index": 5,
    # one expand + hash aggregate + ordered output: CUBE never
    # rescans per margin
    "order_priority_cube": 2,
    # broadcast anti-join + two day aggregations reusing one
    # exchange + ordered output
    "signup_no_purchase_7d": 3,
    "lang_confusion_matrix": 2,
    # per-order close-day max + interval join + day deltas + the
    # (calendar-bounded) global running sum
    "order_backlog_daily": 4,
    # distinct projection + per-user min + cohort sizes + offset
    # counts + the size join + ordered output
    "weekly_cohort_retention": 6,
    "media_wav_decode": 2,
    "media_png_decode": 2,
    "media_ppm_decode": 2,
    "json_decode_quarantine": 3,
    "schema_evolution_read": 2,
    "purchase_attribution_cogrouped": 2,
    "multimodal_features_arrow": 1,
    # round 6 second wave: mergeable HDR quantiles (daily build +
    # merge + per-type window + final agg over the tiny bucket
    # relation), phrase search (scan form's only exchange is the
    # output ordering; postings form adds one adjacency join), eval
    # metrics (post-checkpoint margins; AUC over global_rank's leaf)
    "hdr_value_percentiles": 4,
    "phrase_search": 1,
    "phrase_search_postings": 2,
    "lang_classifier_eval": 5,
    "embedding_label_auc": 4,
}


@pytest.mark.parametrize("name", sorted(BUDGETS))
def test_exchange_budget_holds(spark, name):
    # count on a cache-free plan: an InMemoryRelation left behind by an
    # earlier test embeds its (never re-executed) child exchanges into
    # every consumer's printed plan, inflating the count spuriously
    spark.catalog.clearCache()
    df = q.queries()[name](spark, SF_SMOKE)
    n = operator_count(df, "Exchange")
    assert n <= BUDGETS[name], (
        f"{name}: {n} exchanges > pinned {BUDGETS[name]} — a shuffle "
        f"crept in:\n{explain_str(df)[:2000]}"
    )


# query -> max Spark jobs for one forced run (driver-side build plus
# the noop-sink force), measured at sf0.001.  Job count is
# deterministic where wall time is not; the graph family pays one
# barrier per loop round, so a change to a loop's checkpoint cadence
# shows here first, and the vector family's driver-side fits show a
# new collect or probe here.  Ceilings, like BUDGETS: lower a pin when a change
# cuts jobs.
JOB_BUDGETS = {
    "part_pagerank": 24,
    "part_pagerank_weighted": 23,
    "part_pagerank_personalized": 26,
    "copurchase_hub_hop_histogram": 27,
    # lazy per-round checkpoints: the isEmpty probe that ends each
    # BFS round materializes the round's frame, no job of its own
    "copurchase_harmonic_centrality": 25,
    "copurchase_seed_eccentricity": 25,
    # lazy per-round checkpoints, like the BFS loop: each round's
    # isEmpty probe materializes the improved set (40 jobs eager)
    "copurchase_cheapest_paths": 31,
    "part_triangle_clustering": 13,
    "part_copurchase_kcore": 7,
    # one label-sum aggregate probes each h-index round
    "part_copurchase_coreness": 92,
    "copurchase_link_prediction": 11,
    "copurchase_degree_histogram": 6,
    # vector family: driver-side training (probe count + sample
    # collect), query-matrix and centroid collects, Arrow stages
    "knn_bruteforce": 5,
    "hard_negative_mining": 7,
    "mmr_diverse_neighbors": 8,
    "ann_ivf": 7,
    "ann_ivf_kmeans": 10,
    "ann_ivf_kmeans_refined": 15,
    "ann_pq": 10,
    "ann_ivfpq": 11,
    "embedding_near_dup": 3,
    "embedding_near_dup_cells": 8,
    "semantic_dedup": 9,
    "embedding_pca_norms": 5,
    # banded near-dup family (dedup._band_pairs candidates)
    "srp_near_dup": 8,
    "minhash_lsh": 18,
    "simhash_near_dup": 11,
    "image_phash_near_dup": 10,
    "image_dhash_near_dup": 10,
    "audio_fingerprint_near_dup": 10,
    "audio_spectral_near_dup": 10,
    # the second call (WARM_CALLS): counts the replayed (no-op) append
    # and the probe
    "incremental_ann_search": 20,
}

# Uncounted calls made before the counted one, for a query whose first
# call builds state the next call reuses: incremental_ann_search's
# first call builds its index fixture and appends the odd-id batch.
WARM_CALLS = {"incremental_ann_search": 1}


@pytest.mark.parametrize("name", sorted(JOB_BUDGETS))
def test_job_budget_holds(spark, name):
    # the shared pair fixture is built once per input, outside the
    # counted group, so a cold fixture cache does not count against
    # whichever query runs first
    q.build_copurchase_pairs_fixture(spark, SF_SMOKE)
    for _ in range(WARM_CALLS.get(name, 0)):
        q.queries()[name](spark, SF_SMOKE)
    spark.catalog.clearCache()
    sc = spark.sparkContext
    group = f"job-budget-{name}"
    sc.setJobGroup(group, group)
    try:
        q.queries()[name](spark, SF_SMOKE).write.format("noop").mode(
            "overwrite"
        ).save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    n = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n <= JOB_BUDGETS[name], (
        f"{name}: {n} jobs > pinned {JOB_BUDGETS[name]} — a barrier "
        "crept in"
    )


@pytest.mark.parametrize(
    "name",
    [
        "incremental_ingest_dedup",
        "ngram_jaccard",
        "ngram_jaccard_prefix",
        "minhash_lsh",
        "simhash_near_dup",
        "containment_near_dup",
        "tfidf_top_terms",
        "bm25_search",
        "hybrid_search_rrf",
        "nb_lang_classifier",
        "pipeline_retention_funnel",
        "lm_quality_buckets",
    ],
)
def test_query_leaves_no_cached_relation(spark, name):
    """Queries that reuse an intermediate relation (a shingle pass, a
    tf table, a funnel stage, a score table) materialize it as a lazy
    local checkpoint, not a cached relation, so a forced run leaves
    nothing in the session's CacheManager (the checkpoint blocks go
    with the result).  One query per operator that reuses one."""
    spark.catalog.clearCache()
    q.queries()[name](spark, SF_SMOKE).write.format("noop").mode(
        "overwrite"
    ).save()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
