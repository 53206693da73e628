"""Cross-validation of approximate operators against their exact
counterparts — the correctness story for the no-oracle queries.
"""

from __future__ import annotations

from real_time_data_analytics_cassandra_spark import queries as q
from tests.conftest import SF_ORACLE


def _pairs(df):
    return {(r.id_a, r.id_b) for r in df.collect()}


def test_minhash_lsh_subset_and_recall_of_exact_jaccard(spark):
    """Every LSH pair is exact-Jaccard-verified (zero false
    positives); recall vs the exhaustive shared-shingle join must be
    high at threshold 0.5 (32 hashes / 8 bands -> ~99% at s=0.5)."""
    exact = _pairs(q.ngram_jaccard(spark, SF_ORACLE))
    lsh = _pairs(q.minhash_lsh(spark, SF_ORACLE))
    assert lsh <= exact, f"false positives: {sorted(lsh - exact)[:5]}"
    assert exact, "fixture must contain near-duplicate pairs"
    recall = len(lsh) / len(exact)
    assert recall >= 0.9, f"recall {recall:.3f}"


def test_ann_ivf_recall_vs_bruteforce(spark):
    """IVF (nprobe=8) top-5 neighbour sets per query vs exact knn.
    Floor 0.8: the near-uniform fixture scatters true neighbours
    across coarse cells (see ann_ivf's nprobe note)."""
    exact = {}
    for r in q.knn_bruteforce(spark, SF_ORACLE).collect():
        exact.setdefault(r.q_vec_id, set()).add(r.n_vec_id)
    approx = {}
    for r in q.ann_ivf(spark, SF_ORACLE).collect():
        approx.setdefault(r.q_vec_id, set()).add(r.n_vec_id)
    assert set(exact) == set(approx)
    hits = sum(len(exact[k] & approx[k]) for k in exact)
    total = sum(len(exact[k]) for k in exact)
    recall = hits / total
    assert recall >= 0.8, f"recall {recall:.3f}"


def test_ann_kmeans_recall_vs_bruteforce(spark):
    """Trained centroids must reach at least the recall floor of the
    stride baseline (usually better: cells follow the data)."""
    exact = {}
    for r in q.knn_bruteforce(spark, SF_ORACLE).collect():
        exact.setdefault(r.q_vec_id, set()).add(r.n_vec_id)
    approx = {}
    for r in q.ann_ivf_kmeans(spark, SF_ORACLE).collect():
        approx.setdefault(r.q_vec_id, set()).add(r.n_vec_id)
    hits = sum(len(exact[k] & approx.get(k, set())) for k in exact)
    total = sum(len(exact[k]) for k in exact)
    recall = hits / total
    assert recall >= 0.8, f"recall {recall:.3f}"


def test_ann_pq_recall_vs_bruteforce(spark):
    """PQ ANN (16x32 codes, ADC shortlist, exact rerank) top-5 per
    query vs exact knn.  The rerank step recomputes exact cosine, so
    any neighbour PQ returns that IS in the exact top-5 must carry the
    identical sim value."""
    exact_rows = q.knn_bruteforce(spark, SF_ORACLE).collect()
    exact = {}
    exact_sims = {}
    for r in exact_rows:
        exact.setdefault(r.q_vec_id, set()).add(r.n_vec_id)
        exact_sims[(r.q_vec_id, r.n_vec_id)] = r.sim
    approx = {}
    for r in q.ann_pq(spark, SF_ORACLE).collect():
        approx.setdefault(r.q_vec_id, set()).add(r.n_vec_id)
        if (r.q_vec_id, r.n_vec_id) in exact_sims:
            assert r.sim == exact_sims[(r.q_vec_id, r.n_vec_id)], (
                r.q_vec_id,
                r.n_vec_id,
            )
    assert set(exact) == set(approx)
    hits = sum(len(exact[k] & approx[k]) for k in exact)
    total = sum(len(exact[k]) for k in exact)
    recall = hits / total
    assert recall >= 0.8, f"recall {recall:.3f}"


def test_ann_ivfpq_recall_vs_bruteforce(spark):
    """IVF-PQ (residual codes, nprobe=8, exact rerank) top-5 per
    query vs exact knn; reranked sims must equal the exact ones."""
    exact_rows = q.knn_bruteforce(spark, SF_ORACLE).collect()
    exact = {}
    exact_sims = {}
    for r in exact_rows:
        exact.setdefault(r.q_vec_id, set()).add(r.n_vec_id)
        exact_sims[(r.q_vec_id, r.n_vec_id)] = r.sim
    approx = {}
    for r in q.ann_ivfpq(spark, SF_ORACLE).collect():
        approx.setdefault(r.q_vec_id, set()).add(r.n_vec_id)
        if (r.q_vec_id, r.n_vec_id) in exact_sims:
            assert r.sim == exact_sims[(r.q_vec_id, r.n_vec_id)]
    hits = sum(len(exact[k] & approx.get(k, set())) for k in exact)
    total = sum(len(exact[k]) for k in exact)
    recall = hits / total
    assert recall >= 0.8, f"recall {recall:.3f}"


def test_misra_gries_heavy_hitter_guarantees(spark):
    """The merged Misra-Gries summary must satisfy, against exact
    counts: (1) every estimate is a lower bound, (2) undercount is
    bounded by the summed error mass, (3) every value whose true
    count exceeds the error mass is PRESENT in the summary."""
    from pyspark.sql import functions as F

    from real_time_data_analytics_cassandra_spark.catalog import spread, table
    from real_time_data_analytics_cassandra_spark.functions.textfns import tokens
    from real_time_data_analytics_cassandra_spark.operators.sketches import (
        heavy_hitters,
    )

    tok = spread(table(spark, SF_ORACLE, "documents")).select(
        F.explode(tokens(F.col("text"))).alias("term")
    )
    exact = {r.term: r.n for r in
             tok.groupBy("term").agg(F.count(F.lit(1)).alias("n")).collect()}
    # k=8 < vocabulary size, so the MG decrement path actually fires
    # (k=64 would hold the whole fixture vocabulary exactly, err 0)
    rows = heavy_hitters(tok, "term", k=8).collect()
    assert rows
    err = rows[0].max_err
    assert err > 0, "fixture must exercise the compress/decrement path"
    est = {r.value: r.est_count for r in rows}
    for v, e in est.items():
        assert e <= exact[v], (v, e, exact[v])
        assert exact[v] - e <= err, (v, e, exact[v], err)
    for v, n in exact.items():
        if n > err:
            assert v in est, (v, n, err)
    # and the sketch actually surfaces the true top tokens
    true_top5 = {v for v, _ in sorted(exact.items(), key=lambda x: (-x[1], x[0]))[:5]}
    assert true_top5 <= set(est)


def test_verified_heavy_hitters_exactness_margin(spark):
    """heavy_hitter_tokens is EXACT because the MG candidate pass is
    complete above the error mass: assert (1) the exactness margin —
    the 20th exact count exceeds the worst-case subtracted mass at
    the query's k=64 (so the two-pass result equals the true top-20
    under ANY partitioning), and (2) the query output IS the exact
    top-20 recomputed driver-side."""
    from pyspark.sql import functions as F

    from real_time_data_analytics_cassandra_spark.catalog import spread, table
    from real_time_data_analytics_cassandra_spark.functions.textfns import tokens
    from real_time_data_analytics_cassandra_spark.operators.sketches import (
        heavy_hitters,
    )

    tok = spread(table(spark, SF_ORACLE, "documents")).select(
        F.explode(tokens(F.col("text"))).alias("term")
    )
    exact = {r.term: r.n for r in
             tok.groupBy("term").agg(F.count(F.lit(1)).alias("n")).collect()}
    top20 = sorted(exact.items(), key=lambda x: (-x[1], x[0]))[:20]
    # the actual summed error mass at the query's k — and the
    # worst-case bound n/(k+1) — both sit below the 20th count
    err = heavy_hitters(tok, "term", k=64).collect()[0].max_err
    n_total = sum(exact.values())
    assert top20[-1][1] > err, (top20[-1], err)
    assert top20[-1][1] > n_total / 65, (top20[-1], n_total)
    got = [(r.term, r.exact_count, r.rank)
           for r in q.heavy_hitter_tokens(spark, SF_ORACLE).collect()]
    want = [(t, n, i + 1) for i, (t, n) in enumerate(top20)]
    assert got == want


def test_sq8_reconstruction_quality_floor(spark):
    """Int8 scalar quantization must reconstruct every fixture
    embedding with cosine >= 0.995 — the quality bar that makes SQ8
    storage a safe default for ANN corpora (correctness itself is
    oracle-gated; this pins the operator's usefulness)."""
    rows = q.embedding_sq8_error(spark, SF_ORACLE).collect()
    assert rows and min(r.cos_sim for r in rows) >= 0.995
    assert max(r.max_abs_err for r in rows) < 0.05


def test_persistent_ann_index_probe_equals_fresh_ivfpq(spark):
    """ann_index_build + ann_index_probe (the build-once/probe-many
    production shape) must return EXACTLY what the in-memory
    ivfpq_topk computes with the same hyperparameters: same seeded
    training, same codes, same ADC + exact rerank — persistence must
    not change a single row."""
    import tempfile

    from real_time_data_analytics_cassandra_spark.catalog import table
    from real_time_data_analytics_cassandra_spark.operators.similarity import (
        ann_index_build,
        ann_index_probe,
        ivfpq_topk,
    )

    emb = table(spark, SF_ORACLE, "embeddings")
    queries = emb.filter(emb.vec_id % 50 == 0)
    path = tempfile.mkdtemp(prefix="rtdac_annidx_") + "/idx"
    stats = ann_index_build(emb, path)
    assert stats["m"] == 16 and stats["n_codes"] == 32
    got = sorted(
        tuple(r) for r in ann_index_probe(emb, queries, path).collect()
    )
    want = sorted(tuple(r) for r in ivfpq_topk(emb, queries).collect())
    assert got == want and len(got) > 0


def test_near_dup_cells_subset_and_recall_of_exact(spark):
    """Cell-pruned near-dup pairs must be a strict subset of the exact
    blocked-GEMM pairs (the within-cell math is bit-identical, so a
    false positive is impossible) with recall >= 0.9 at 4-probe
    assignment."""
    exact = _pairs(q.embedding_near_dup(spark, SF_ORACLE))
    cells = _pairs(q.embedding_near_dup_cells(spark, SF_ORACLE))
    assert cells <= exact, f"false positives: {sorted(cells - exact)[:5]}"
    assert exact, "fixture must contain near-duplicate embedding pairs"
    recall = len(cells) / len(exact)
    assert recall >= 0.9, f"recall {recall:.3f}"


def test_simhash_pairs_have_low_hamming_and_similar_text(spark):
    """SimHash survivors must be verified (hamming <= 3 by
    construction) and should overlap the exact Jaccard pairs."""
    rows = q.simhash_near_dup(spark, SF_ORACLE).collect()
    assert all(r.hamming <= 3 for r in rows)
    if rows:
        exact = _pairs(q.ngram_jaccard(spark, SF_ORACLE))
        sim_pairs = {(r.id_a, r.id_b) for r in rows}
        assert sim_pairs & exact, "simhash should find some true near-dups"


def test_hll_merged_estimate_close_to_exact(spark):
    """Merging per-day sketches must estimate within HLL error of the
    exact distinct count (lgConfigK=12 default -> ~1.6% rsd; allow
    5% headroom)."""
    from real_time_data_analytics_cassandra_spark import queries as q

    est = {
        r["event_type"]: r["n_users_merged_est"]
        for r in q.hll_reaggregated_users(spark, SF_ORACLE).collect()
    }
    exact = {
        r["event_type"]: r["n_users"]
        for r in q.distinct_users_per_type(spark, SF_ORACLE).collect()
    }
    assert set(est) == set(exact)
    for t, e in exact.items():
        assert abs(est[t] - e) <= max(3, 0.05 * e), (t, est[t], e)


def test_approx_percentiles_close_to_exact(spark):
    """approx_percentile(accuracy=10000) must land within 1% relative
    rank error of the exact interpolated percentile values."""
    from real_time_data_analytics_cassandra_spark import queries as q

    approx = {
        r["event_type"]: (r["p50_value_approx"], r["p90_value_approx"])
        for r in q.approx_value_percentiles(spark, SF_ORACLE).collect()
    }
    exact = {
        r["event_type"]: (r["p50_value"], r["p90_value"])
        for r in q.value_percentiles(spark, SF_ORACLE).collect()
    }
    assert set(approx) == set(exact)
    for t, (p50e, p90e) in exact.items():
        p50a, p90a = approx[t]
        spread = abs(p90e - p50e) + 1e-9
        assert abs(p50a - p50e) <= 0.05 * spread, (t, p50a, p50e)
        assert abs(p90a - p90e) <= 0.05 * spread, (t, p90a, p90e)


def test_hdr_percentiles_relative_bound_and_mergeability(spark):
    """HDR quantile guarantee: each reported bucket lower bound lb
    must satisfy lb <= exact_rank_value < lb + bucket_width, where
    the exact rank value is the cents value at rank ceil(q*n) and
    bucket_width = 2^max(bitlen(lb)-1-p, 0) <= max(1, lb/2^p) — i.e.
    a deterministic under-estimate within relative error 2^-p.
    Mergeability (sum of per-day bucket counts == one global build)
    is implied by the oracle equality (the oracle builds globally,
    the query merges daily sketches) but asserted here directly too."""
    from pyspark.sql import functions as F

    from real_time_data_analytics_cassandra_spark import queries as q
    from real_time_data_analytics_cassandra_spark.catalog import table
    from real_time_data_analytics_cassandra_spark.operators import (
        sketches as sketches_op,
    )

    p = 5
    got = {
        r["event_type"]: (r["n_events"], r["p50_cents"], r["p90_cents"], r["p99_cents"])
        for r in q.hdr_value_percentiles(spark, SF_ORACLE).collect()
    }
    cents_rows = (
        table(spark, SF_ORACLE, "events")
        .select(
            "event_type",
            F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("cents"),
        )
        .filter(F.col("cents") >= 0)
        .collect()
    )
    by_type: dict = {}
    for r in cents_rows:
        by_type.setdefault(r.event_type, []).append(r.cents)
    assert set(got) == set(by_type)
    for t, vals in by_type.items():
        vals.sort()
        n, *est = got[t]
        assert n == len(vals)
        for quant, lb in zip((0.5, 0.9, 0.99), est):
            exact = vals[int(-(-quant * n // 1)) - 1]  # ceil(q*n), 1-based
            width = 1 << max(exact.bit_length() - 1 - p, 0)
            assert lb <= exact < lb + max(width, 1) + 1, (t, quant, lb, exact)
            if exact > 0:
                assert (exact - lb) / exact <= 2**-p + 1e-12

    # direct mergeability: per-day sketches merged == global build
    ev = table(spark, SF_ORACLE, "events").select(
        "event_type",
        F.to_date("ts").alias("day"),
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("cents"),
    ).filter(F.col("cents") >= 0)
    merged = {
        (r.event_type, r.lb): r.cnt
        for r in sketches_op.hdr_merge(
            sketches_op.hdr_sketch(ev, ["event_type", "day"], "cents", p=p),
            ["event_type"],
        ).collect()
    }
    direct = {
        (r.event_type, r.lb): r.cnt
        for r in sketches_op.hdr_sketch(ev, ["event_type"], "cents", p=p).collect()
    }
    assert merged == direct


def test_semantic_dedup_greedy_invariants(spark):
    """SemDeDup verdicts: (1) every dropped vector really exceeds the
    threshold against its recorded (kept, lower-id, same-cell)
    dup_of; (2) kept vectors within a cell are mutually
    sub-threshold (the greedy invariant); (3) the sweep is
    deterministic; (4) verdicts partition the corpus."""
    import numpy as np

    rows = q.semantic_dedup(spark, SF_ORACLE).collect()
    emb = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in q.table(spark, SF_ORACLE, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    }

    def cos(a, b):
        return float(
            round(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)), 6)
        )

    verdict = {r.vec_id: r for r in rows}
    assert len(verdict) == len(emb), "one verdict per corpus vector"
    kept_by_cell: dict[int, list[int]] = {}
    for r in rows:
        if r.keep:
            assert r.dup_of is None
            kept_by_cell.setdefault(r.cell, []).append(r.vec_id)
    for r in rows:
        if not r.keep:
            d = verdict[r.dup_of]
            assert d.keep and d.cell == r.cell and r.dup_of < r.vec_id
            assert cos(emb[r.vec_id], emb[r.dup_of]) >= 0.35 - 1e-6
    for cell, kept in kept_by_cell.items():
        kept = sorted(kept)
        for i, a in enumerate(kept):
            for b in kept[i + 1 :]:
                assert cos(emb[a], emb[b]) < 0.35 + 1e-6, (cell, a, b)

    again = {
        (r.vec_id, r.cell, r.keep, r.dup_of)
        for r in q.semantic_dedup(spark, SF_ORACLE).collect()
    }
    assert again == {(r.vec_id, r.cell, r.keep, r.dup_of) for r in rows}


def test_semantic_dedup_finds_duplicates(spark):
    """The fixture corpus contains near-duplicate embeddings (the
    exact pair query proves so); the semantic sweep must drop a
    non-trivial share of them."""
    dropped = [
        r for r in q.semantic_dedup(spark, SF_ORACLE).collect() if not r.keep
    ]
    assert len(dropped) > 0


def test_srp_near_dup_subset_and_recall_of_exact(spark):
    """Every SRP-LSH pair is cosine-verified with the exact fold
    (zero false positives, bit-identical sims); banding (64 bits /
    8 bands) must recover most exact pairs at threshold 0.35."""
    exact = {(r.id_a, r.id_b): r.sim for r in q.embedding_near_dup(
        spark, SF_ORACLE).collect()}
    srp = {(r.id_a, r.id_b): r.sim for r in q.srp_near_dup(
        spark, SF_ORACLE).collect()}
    assert set(srp) <= set(exact), (
        f"false positives: {sorted(set(srp) - set(exact))[:5]}"
    )
    for k, sim in srp.items():
        assert sim == exact[k], f"sim mismatch on {k}: {sim} vs {exact[k]}"
    assert exact, "fixture must contain near-duplicate pairs"
    recall = len(srp) / len(exact)
    assert recall >= 0.85, f"recall {recall:.3f}"


def test_prefix_jaccard_equals_naive_and_prunes_candidates(spark):
    """PPJoin prefix filtering must be LOSSLESS (pair-for-pair equal
    to the naive shared-shingle join, sims included) while generating
    strictly fewer candidate pairs."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from real_time_data_analytics_cassandra_spark.operators import dedup as d

    naive = {
        (r.id_a, r.id_b): (r.n_inter, r.jaccard)
        for r in q.ngram_jaccard(spark, SF_ORACLE).collect()
    }
    pref = {
        (r.id_a, r.id_b): (r.n_inter, r.jaccard)
        for r in q.ngram_jaccard_prefix(spark, SF_ORACLE).collect()
    }
    assert pref == naive

    # candidate economics: prefix collisions << all shared-shingle
    # collisions on the same corpus
    from real_time_data_analytics_cassandra_spark.catalog import table

    docs = table(spark, SF_ORACLE, "documents")
    sh = d.shingle_sets(docs, "doc_id", "text", 3)
    naive_cands = (
        sh.select(F.col("id").alias("a"), "shingle")
        .join(sh.select(F.col("id").alias("b"), "shingle"), "shingle")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
        .count()
    )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_"))
    w = Window.partitionBy("id").orderBy(F.asc("df_"), F.asc("shingle"))
    prefix = (
        sh.join(freq, "shingle")
        .withColumn("rk", F.row_number().over(w))
        .join(sizes, "id")
        .filter(F.col("rk") <= F.col("n_sh") - F.ceil(0.5 * F.col("n_sh")) + 1)
        .select("id", "shingle")
    )
    pref_cands = (
        prefix.select(F.col("id").alias("a"), "shingle")
        .join(prefix.select(F.col("id").alias("b"), "shingle"), "shingle")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
        .count()
    )
    assert pref_cands < naive_cands
    assert len(pref) <= pref_cands


def test_kmv_estimates_within_error_bounds(spark):
    """KMV estimator branch (distinct >> k): two synthetic id sets
    with known cardinalities and overlap; the (k-1)/h_k estimate must
    land within ~4 standard errors (sigma ~= n/sqrt(k-1), k=256 ->
    ~6.3% relative) of the truth for |A|, |B|, |A∪B|, and the
    sketch-derived intersection within the same tolerance of 2500."""
    from pyspark.sql import functions as F

    from real_time_data_analytics_cassandra_spark.operators.sketches import (
        kmv_estimate,
        kmv_sketch,
    )

    k = 256
    a_df = spark.range(0, 5000).select(F.col("id"))
    b_df = spark.range(2500, 7500).select(F.col("id"))
    sa = kmv_sketch(a_df, "id", k).localCheckpoint(eager=True)
    sb = kmv_sketch(b_df, "id", k).localCheckpoint(eager=True)
    su = sa.union(sb).distinct().orderBy("h").limit(k)

    est_a = kmv_estimate(sa, k).collect()[0][0]
    est_b = kmv_estimate(sb, k).collect()[0][0]
    est_u = kmv_estimate(su, k).collect()[0][0]
    rel = 4 / (k - 1) ** 0.5  # ~25% at k=256, 4-sigma
    assert abs(est_a - 5000) / 5000 < rel, est_a
    assert abs(est_b - 5000) / 5000 < rel, est_b
    assert abs(est_u - 7500) / 7500 < rel, est_u

    n_inter = su.join(sa, "h").join(sb, "h").count()
    k_u = su.count()
    est_inter = (n_inter / k_u) * est_u
    # intersection compounds jaccard + union noise; allow 6 sigma
    assert abs(est_inter - 2500) / 2500 < 6 / (k - 1) ** 0.5, est_inter


def test_kmv_sketch_is_mergeable_and_partition_invariant(spark):
    """Bottom-k of a union of sketches == sketch of the union (the
    mergeability that lets sketches be persisted per shard/day), and
    the sketch is a pure function of the value set (repartition/dup
    invariant)."""
    from pyspark.sql import functions as F

    from real_time_data_analytics_cassandra_spark.operators.sketches import (
        kmv_sketch,
    )

    k = 64
    a_df = spark.range(0, 3000)
    b_df = spark.range(1500, 4000)
    direct = kmv_sketch(a_df.union(b_df), "id", k)
    merged = (
        kmv_sketch(a_df, "id", k)
        .union(kmv_sketch(b_df, "id", k))
        .distinct()
        .orderBy("h")
        .limit(k)
    )
    assert [r.h for r in direct.collect()] == [r.h for r in merged.collect()]

    shuffled = kmv_sketch(
        a_df.union(b_df).union(a_df).repartition(13), "id", k
    )
    assert {r.h for r in shuffled.collect()} == {r.h for r in direct.collect()}


def test_mmr_matches_numpy_model_and_diversifies(spark):
    """MMR selection must equal a pure-numpy greedy reference run on
    the same shortlist (same ops, same tie-breaks — exact), pick the
    most-relevant candidate FIRST, and strictly not exceed plain
    top-k's average pairwise similarity (the diversity claim)."""
    import numpy as np

    from real_time_data_analytics_cassandra_spark.catalog import table

    emb = table(spark, SF_ORACLE, "embeddings")
    rows = q.mmr_diverse_neighbors(spark, SF_ORACLE).collect()
    assert rows
    got = {}
    for r in rows:
        got.setdefault(r.q_vec_id, []).append(
            (r.rank, r.n_vec_id, r.relevance, r.mmr_score)
        )

    from real_time_data_analytics_cassandra_spark.operators.similarity import (
        brute_force_topk,
    )

    sl = brute_force_topk(
        emb, emb.filter(emb.vec_id % 50 == 0), k=20
    ).collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb.collect()}
    per_q = {}
    for r in sl:
        per_q.setdefault(r.q_vec_id, []).append((r.rank, r.n_vec_id, r.sim))
    lam = 0.7
    for qid, cands in per_q.items():
        cands.sort()
        ids = [c[1] for c in cands]
        rel = {c[1]: c[2] for c in cands}
        unit = {
            i: vecs[i] / max(np.linalg.norm(vecs[i]), 1e-12) for i in ids
        }
        chosen = []
        avail = list(ids)
        while avail and len(chosen) < 5:
            best = None
            for i in avail:
                div = max(
                    (float(unit[i] @ unit[j]) for j in chosen), default=0.0
                )
                s = lam * rel[i] - (1 - lam) * div
                key = (-s, i)
                if best is None or key < best[0]:
                    best = (key, i, s)
            chosen.append(best[1])
            avail.remove(best[1])
        want_ids = chosen
        got_ids = [t[1] for t in sorted(got[qid])]
        assert got_ids == want_ids, (qid, got_ids, want_ids)
        # first pick is the relevance argmax (tie-break by id)
        top_rel = sorted(((-r, i) for i, r in rel.items()))[0][1]
        assert got_ids[0] == top_rel
        # diversity: avg pairwise sim of the MMR set <= plain top-5 set
        def avg_pair(sel):
            ps = [
                float(unit[a] @ unit[b])
                for x, a in enumerate(sel)
                for b in sel[x + 1 :]
            ]
            return sum(ps) / len(ps)

        plain = [c[1] for c in cands[:5]]
        assert avg_pair(got_ids) <= avg_pair(plain) + 1e-9


def test_kmeans_refine_decreases_inertia_and_matches_numpy(spark):
    """Distributed Lloyd refinement must (1) yield monotonically
    non-increasing full-data inertia, and (2) land on the same
    centroids as a single-process numpy Lloyd run from the same
    initialization (same assignment argmins; means equal up to float
    summation order)."""
    import numpy as np

    from real_time_data_analytics_cassandra_spark.catalog import table
    from real_time_data_analytics_cassandra_spark.operators.similarity import (
        kmeans_centroids,
        kmeans_refine,
    )

    emb = table(spark, SF_ORACLE, "embeddings")
    init = kmeans_centroids(emb, n_cells=8)
    refined, inertias = kmeans_refine(emb, init, iterations=3)
    assert len(inertias) == 3
    assert all(
        b <= a * (1 + 1e-9) for a, b in zip(inertias, inertias[1:])
    ), inertias

    # numpy reference from the same init over the same full data
    X = np.stack(
        [
            np.array(r.embedding, dtype=np.float64)
            for r in emb.select("embedding").collect()
        ]
    )
    C = np.stack([
        v for _, v in sorted(
            (r.vec_id, np.array(r.embedding, dtype=np.float64))
            for r in init.collect()
        )
    ])
    for _ in range(3):
        d2 = (X**2).sum(1)[:, None] - 2 * X @ C.T + (C**2).sum(1)[None, :]
        a = d2.argmin(1)
        for c in range(len(C)):
            if (a == c).any():
                C[c] = X[a == c].mean(axis=0)
    got = np.stack([
        v for _, v in sorted(
            (r.vec_id, np.array(r.embedding, dtype=np.float64))
            for r in refined.collect()
        )
    ])
    assert np.allclose(got, C, atol=1e-5), np.abs(got - C).max()


def test_ann_kmeans_refined_recall_floor(spark):
    """Refined centroids must meet at least the unrefined trained
    path's recall floor vs exact knn."""
    exact = {}
    for r in q.knn_bruteforce(spark, SF_ORACLE).collect():
        exact.setdefault(r.q_vec_id, set()).add(r.n_vec_id)
    approx = {}
    for r in q.ann_ivf_kmeans_refined(spark, SF_ORACLE).collect():
        approx.setdefault(r.q_vec_id, set()).add(r.n_vec_id)
    hits = sum(len(exact[k] & approx.get(k, set())) for k in exact)
    recall = hits / sum(len(v) for v in exact.values())
    assert recall >= 0.8, f"recall {recall:.3f}"


def test_value_deciles_boundary_form_tracks_ntile(spark):
    """The scale-safe boundary-broadcast decile form must reproduce the
    global-NTILE bucket sizes (within interpolation rounding) on the
    near-unique event values — the NTILE lives ONLY here, as the tiny
    cross-check oracle; the registry query never runs a global sort."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from real_time_data_analytics_cassandra_spark.catalog import table

    out = {r.decile: r.n_events for r in q.value_deciles(spark, SF_ORACLE).collect()}
    events = table(spark, SF_ORACLE, "events")
    w = Window.orderBy("value", "event_id")
    ntile = {
        r.decile: r.n
        for r in events.withColumn("decile", F.ntile(10).over(w))
        .groupBy("decile")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n = sum(ntile.values())
    assert set(out) == set(ntile)
    for d in ntile:
        assert abs(out[d] - ntile[d]) <= max(2, 0.01 * n / 10), (d, out[d], ntile[d])


def test_cms_join_estimates_overestimate_within_bound(spark):
    """The exact join / exact-F2 verifiers for join_size_estimate_cms
    live HERE (not in the benched query): CMS inner products may only
    OVERestimate, and the min-over-depth noise stays under the
    classic 3·n_a·n_b/width envelope (deterministic md5 hash family,
    so these are fixed numbers, not a flaky tolerance)."""
    from pyspark.sql import functions as F

    from real_time_data_analytics_cassandra_spark.catalog import table

    est = {
        r.pair: r.est
        for r in q.join_size_estimate_cms(spark, SF_ORACLE).collect()
    }
    li = table(spark, SF_ORACLE, "lineitem")
    orders = table(spark, SF_ORACLE, "orders")
    n_li = li.count()
    n_ord = orders.count()
    exact_f2 = (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(F.col("c") * F.col("c")).cast("long").alias("x"))
        .collect()[0]
        .x
    )
    exact_join = (
        orders.select("o_orderkey")
        .join(
            li.select("l_orderkey"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .count()
    )
    width = 8192
    assert exact_f2 <= est["lineitem_selfjoin_partkey"] <= exact_f2 + 3 * n_li * n_li // width
    assert exact_join <= est["orders_lineitem_orderkey"] <= exact_join + 3 * n_ord * n_li // width


def test_kmv_distinct_estimates_within_bound(spark):
    """The exact COUNT(DISTINCT) verifier for kmv_distinct_per_type
    lives HERE (not in the benched query): with k=256 the estimator
    is exact below k distinct values and within ~2/sqrt(k) above."""
    from pyspark.sql import functions as F

    from real_time_data_analytics_cassandra_spark.catalog import table

    est = {
        r.event_type: r.est_distinct
        for r in q.kmv_distinct_per_type(spark, SF_ORACLE).collect()
    }
    events = table(spark, SF_ORACLE, "events")
    exact = {
        r.event_type: r.x
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("x"))
        .collect()
    }
    assert set(est) == set(exact)
    for t, x in exact.items():
        if x < 256:
            assert est[t] == float(x), (t, est[t], x)
        else:
            assert abs(est[t] - x) / x <= 2 / 256 ** 0.5, (t, est[t], x)


def test_ht_revenue_estimate_within_bound(spark):
    """The full-table true-total verifier for sampled_revenue_estimate
    lives HERE (not in the benched query): the Horvitz-Thompson
    estimate from the deterministic 10% hash sample must stay within
    50% of truth per priority at the tiny oracle SF (~6 sampled
    orders/group — the bound is the audit, not the accuracy claim;
    at sf0.01 the measured worst error is under 10%)."""
    from real_time_data_analytics_cassandra_spark.catalog import table
    from real_time_data_analytics_cassandra_spark.functions.numeric import (
        dsum,
        money,
    )

    est = {
        r.o_orderpriority: r.ht_estimate
        for r in q.sampled_revenue_estimate(spark, SF_ORACLE).collect()
    }
    orders = table(spark, SF_ORACLE, "orders")
    truth = {
        r.o_orderpriority: float(r.t)
        for r in orders.groupBy("o_orderpriority")
        .agg(dsum(money("o_totalprice"), "t"))
        .collect()
    }
    assert set(est) <= set(truth)
    for p, e in est.items():
        assert abs(e - truth[p]) / truth[p] <= 0.5, (p, e, truth[p])


def test_ppjoin_positional_prunes_candidates(spark):
    """PPJoin+ positional filter: candidates must be a STRICT subset
    of the prefix+length rule's candidates (same losslessness — the
    parity suite proves no qualifying pair is lost), so verification
    pays for strictly fewer exact-Jaccard computations."""
    from real_time_data_analytics_cassandra_spark.catalog import table
    from real_time_data_analytics_cassandra_spark.operators.dedup import (
        _ppjoin_candidates,
        shingle_sets,
    )

    docs = table(spark, SF_ORACLE, "documents")
    sh = shingle_sets(docs, "doc_id", "text", 3).cache()
    plain = _pairs(_ppjoin_candidates(sh, 0.5, positional=False))
    pos = _pairs(_ppjoin_candidates(sh, 0.5, positional=True))
    assert pos <= plain
    assert len(pos) < len(plain), (len(pos), len(plain))
    # the survivors must still include every truly-qualifying pair
    truth = _pairs(q.ngram_jaccard_prefix(spark, SF_ORACLE))
    assert truth <= pos


def test_containment_prefix_prunes_candidates_losslessly(spark):
    """The asymmetric prefix filter must (a) produce strictly fewer
    candidate pairs than the naive shared-shingle join puts in flight,
    (b) with the positional bound a subset of the prefix rule alone,
    and (c) lose no qualifying pair: containment_prefix_pairs must be
    row-identical to the naive containment_pairs."""
    from pyspark.sql import functions as F

    from real_time_data_analytics_cassandra_spark.catalog import table
    from real_time_data_analytics_cassandra_spark.operators.dedup import (
        _containment_candidates,
        containment_pairs,
        containment_prefix_pairs,
        shingle_sets,
    )

    docs = table(spark, SF_ORACLE, "documents")
    sh = shingle_sets(docs, "doc_id", "text", 3).cache()
    naive_in_flight = (
        sh.alias("a")
        .join(sh.alias("b"), "shingle")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
        .count()
    )
    plain = {
        (r.id_s, r.id_l)
        for r in _containment_candidates(sh, 0.6, positional=False).collect()
    }
    pos = {
        (r.id_s, r.id_l)
        for r in _containment_candidates(sh, 0.6, positional=True).collect()
    }
    assert pos <= plain
    assert len(plain) < naive_in_flight, (len(plain), naive_in_flight)
    naive_rows = sorted(
        map(tuple, containment_pairs(docs, "doc_id", "text", 3, 0.6).collect())
    )
    pruned_rows = sorted(
        map(
            tuple,
            containment_prefix_pairs(docs, "doc_id", "text", 3, 0.6).collect(),
        )
    )
    assert pruned_rows == naive_rows
    assert len(naive_rows) > 0  # the fixture must actually exercise it


def test_ann_index_append_equals_one_pass_encode(spark):
    """build(even) + append(odd) must leave a codes table equal to
    encoding the WHOLE corpus in one pass with the same (immutable)
    model, so a probe over the appended index is bit-identical to one
    over a fresh-encoded index; a replayed batch is a no-op; a forged
    half-applied batch is rolled back by the next append."""
    import tempfile

    from pyspark.sql import functions as F

    from real_time_data_analytics_cassandra_spark.catalog import table
    from real_time_data_analytics_cassandra_spark.operators.similarity import (
        _ivfpq_encode,
        _load_ivfpq_model,
        ann_index_append,
        ann_index_build,
        ann_index_probe,
    )
    from real_time_data_analytics_cassandra_spark.sinks.merge import _fs

    emb = table(spark, SF_ORACLE, "embeddings")
    old = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1)
    path = tempfile.mkdtemp(prefix="rtdac_annappend_") + "/idx"
    ann_index_build(old, path)

    # forge a half-applied batch: marker + a garbage codes directory
    fs, marker = _fs(spark, f"{path}/pending/bDEADBEEF")
    fs.mkdirs(marker.getParent())
    fs.create(marker, True).close()
    spark.read.parquet(f"{path}/codes").limit(3).withColumn(
        "batch", F.lit("bDEADBEEF")
    ).write.mode("append").partitionBy("cell", "batch").parquet(
        f"{path}/codes"
    )

    meta = ann_index_append(new, path)
    assert meta["repaired"] == ["bDEADBEEF"]
    assert meta["n_new"] == new.count()
    assert not fs.exists(marker)

    cent_unit, cell_ids, books = _load_ivfpq_model(spark, path)
    want = sorted(
        (r["vid"], r["cell"], tuple(r["codes"]))
        for r in _ivfpq_encode(
            emb, "vec_id", "embedding", cent_unit, cell_ids, books
        ).collect()
    )
    got = sorted(
        (r["vid"], r["cell"], tuple(r["codes"]))
        for r in spark.read.parquet(f"{path}/codes")
        .select("vid", "cell", "codes")
        .collect()
    )
    assert got == want and len(got) == emb.count()

    # probe equality against a one-pass-encoded index w/ same model
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    probed = sorted(
        tuple(r) for r in ann_index_probe(emb, queries, path).collect()
    )
    fresh_path = tempfile.mkdtemp(prefix="rtdac_annfresh_") + "/idx"
    ann_index_build(old, fresh_path)
    _ivfpq_encode(
        new, "vec_id", "embedding", cent_unit, cell_ids, books
    ).withColumn("batch", F.lit("b1")).repartition("cell").write.mode(
        "append"
    ).partitionBy("cell", "batch").parquet(f"{fresh_path}/codes")
    fresh = sorted(
        tuple(r)
        for r in ann_index_probe(emb, queries, fresh_path).collect()
    )
    assert probed == fresh and len(probed) > 0

    # replaying the same batch is a no-op
    meta2 = ann_index_append(new, path)
    assert meta2["n_new"] == 0 and meta2["batch"] is None


def test_verified_heavy_hitters_exact_through_decrement_path(spark):
    """verified_heavy_hitters must return the exact top-N even when k
    is SMALLER than the vocabulary (the MG decrement path fires and
    the summary genuinely undercounts) — provided the lossless margin
    holds (Nth count > subtracted mass), which the fixture satisfies
    at k=16/top=3 (err 908 < 976) and the test asserts as a
    precondition."""
    from pyspark.sql import functions as F

    from real_time_data_analytics_cassandra_spark.catalog import spread, table
    from real_time_data_analytics_cassandra_spark.functions.textfns import tokens
    from real_time_data_analytics_cassandra_spark.operators.sketches import (
        heavy_hitters,
        verified_heavy_hitters,
    )

    tok = spread(table(spark, SF_ORACLE, "documents")).select(
        F.explode(tokens(F.col("text"))).alias("term")
    )
    exact = {r.term: r.n for r in
             tok.groupBy("term").agg(F.count(F.lit(1)).alias("n")).collect()}
    err = heavy_hitters(tok, "term", k=16).collect()[0].max_err
    assert err > 0, "k=16 must exercise the decrement path"
    top3 = sorted(exact.items(), key=lambda x: (-x[1], x[0]))[:3]
    assert top3[-1][1] > err, "fixture must satisfy the lossless margin"
    got = [
        (r.value, r.exact_count, r.rank)
        for r in verified_heavy_hitters(tok, "term", k=16, top=3).collect()
    ]
    assert got == [(t, n, i + 1) for i, (t, n) in enumerate(top3)]


def test_verified_heavy_hitters_raises_when_margin_fails(spark):
    """The runtime losslessness guard (r10 ADVICE): a uniform corpus
    at a tiny k has error mass >= every exact count, so the 'exact'
    shortlist CANNOT be proven complete — the operator must raise
    rather than return a silently-approximate top-N."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from real_time_data_analytics_cassandra_spark.operators.sketches import (
        verified_heavy_hitters,
    )

    df = spark.range(2000).select(
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("value_in")
    )
    with _pytest.raises(ValueError, match="lossless margin"):
        verified_heavy_hitters(df, "value_in", k=2, top=5)
