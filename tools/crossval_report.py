#!/usr/bin/env python
"""Generate CROSSVAL.json: measured cross-validation metrics for the
registry queries that have NO DuckDB oracle (approximate by
construction: LSH / SimHash / ANN / HLL / percentile sketch / PCA).

The external driver records these as `no_oracle` rows in
CORRECTNESS_r{N}.json, which reads like a failure.  This report is
the companion evidence: for each such query, the metric its
tests/test_crossval.py (and friends) gate on, the enforced floor,
and the value measured at the oracle scale factor — regenerate with
`python tools/crossval_report.py`.

Every metric here is ALSO a hard CI assertion (file:line in the
"gate" field); this report only surfaces the numbers.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from real_time_data_analytics_cassandra_spark import queries as q  # noqa: E402
from real_time_data_analytics_cassandra_spark.session import get_spark  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR_ORACLE", "/root/testdata/sf0.01")
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "CROSSVAL.json")


def _pairs(df):
    return {(r.id_a, r.id_b) for r in df.collect()}


def _topk_sets(df):
    out: dict = {}
    for r in df.collect():
        out.setdefault(r.q_vec_id, set()).add(r.n_vec_id)
    return out


def _recall(exact: dict, approx: dict) -> float:
    hits = sum(len(exact[k] & approx.get(k, set())) for k in exact)
    total = sum(len(exact[k]) for k in exact)
    return hits / total


def main() -> None:
    spark = get_spark()
    report: dict[str, dict] = {}

    exact_jac = _pairs(q.ngram_jaccard(spark, SF))
    lsh = _pairs(q.minhash_lsh(spark, SF))
    report["minhash_lsh"] = {
        "metric": "recall vs exact n-gram Jaccard pairs (threshold 0.5)",
        "floor": 0.9,
        "value": round(len(lsh) / len(exact_jac), 4) if exact_jac else None,
        "false_positives": len(lsh - exact_jac),
        "gate": "tests/test_crossval.py::test_minhash_lsh_subset_and_recall_of_exact_jaccard",
    }

    sim_rows = q.simhash_near_dup(spark, SF).collect()
    sim_pairs = {(r.id_a, r.id_b) for r in sim_rows}
    report["simhash_near_dup"] = {
        "metric": "max Hamming distance of emitted pairs (verifier bound 3) "
                  "+ overlap with exact Jaccard pairs",
        "floor": "hamming <= 3; overlap >= 1",
        "value": {
            "max_hamming": max((r.hamming for r in sim_rows), default=0),
            "overlap_with_exact_pairs": len(sim_pairs & exact_jac),
            "n_pairs": len(sim_pairs),
        },
        "gate": "tests/test_crossval.py::test_simhash_pairs_have_low_hamming_and_similar_text",
    }

    exact_knn_rows = q.knn_bruteforce(spark, SF).collect()
    exact_knn: dict = {}
    exact_sims: dict = {}
    for r in exact_knn_rows:
        exact_knn.setdefault(r.q_vec_id, set()).add(r.n_vec_id)
        exact_sims[(r.q_vec_id, r.n_vec_id)] = r.sim
    for name, floor, gate in (
        ("ann_ivf", 0.8, "test_ann_ivf_recall_vs_bruteforce"),
        ("ann_ivf_kmeans", 0.8, "test_ann_kmeans_recall_vs_bruteforce"),
        ("ann_ivf_kmeans_refined", 0.8, "test_ann_kmeans_refined_recall_floor"),
        ("ann_pq", 0.8, "test_ann_pq_recall_vs_bruteforce"),
        ("ann_ivfpq", 0.8, "test_ann_ivfpq_recall_vs_bruteforce"),
    ):
        rows = q.queries()[name](spark, SF).collect()
        approx: dict = {}
        rerank_exact = True
        for r in rows:
            approx.setdefault(r.q_vec_id, set()).add(r.n_vec_id)
            key = (r.q_vec_id, r.n_vec_id)
            if key in exact_sims and r.sim != exact_sims[key]:
                rerank_exact = False
        entry = {
            "metric": "recall@5 vs exact brute-force cosine knn",
            "floor": floor,
            "value": round(_recall(exact_knn, approx), 4),
            "gate": f"tests/test_crossval.py::{gate}",
        }
        if name in ("ann_pq", "ann_ivfpq"):
            entry["rerank_sims_bit_exact"] = rerank_exact
        report[name] = entry

    # incremental persisted-index probe: same recall family, plus the
    # bit-identical-to-one-pass-encode gate
    rows = q.queries()["incremental_ann_search"](spark, SF).collect()
    approx = {}
    for r in rows:
        approx.setdefault(r.q_vec_id, set()).add(r.n_vec_id)
    report["incremental_ann_search"] = {
        "metric": "recall@5 vs exact brute-force cosine knn (probe over "
                  "the append-grown index; codes proven bit-identical "
                  "to a one-pass encode with the same model)",
        "floor": 0.8,
        "value": round(_recall(exact_knn, approx), 4),
        "gate": "tests/test_crossval.py::"
                "test_ann_index_append_equals_one_pass_encode",
    }

    exact_emb = _pairs(q.embedding_near_dup(spark, SF))
    cells = _pairs(q.embedding_near_dup_cells(spark, SF))
    report["embedding_near_dup_cells"] = {
        "metric": "recall vs exact blocked-GEMM pairs (subset by construction)",
        "floor": 0.9,
        "value": round(len(cells) / len(exact_emb), 4) if exact_emb else None,
        "false_positives": len(cells - exact_emb),
        "gate": "tests/test_crossval.py::test_near_dup_cells_subset_and_recall_of_exact",
    }

    from tests.test_bpe import _py_train, _py_word_freqs

    merges_rows = q.bpe_learned_merges(spark, SF).collect()
    got_merges = [(r["left"], r["right"], r["pair_count"]) for r in merges_rows]
    from real_time_data_analytics_cassandra_spark.catalog import table

    texts = [
        r["text"]
        for r in table(spark, SF, "documents").select("text").collect()
    ]
    ref_merges = _py_train(_py_word_freqs(texts), len(got_merges))
    report["bpe_learned_merges"] = {
        "metric": "merge sequence == pure-Python Sennrich reference "
                  "(order, pairs, and counts)",
        "floor": "exact equality",
        "value": {"k": len(got_merges), "exact_match": got_merges == ref_merges},
        "gate": "tests/test_bpe.py::test_trained_merges_match_python_reference",
    }
    # bpe_encode_docs moved to a FULL DuckDB oracle in round 9 (frozen
    # merge table replayed as literal folds) — no longer rows-only, so
    # it needs no cross-validation row; the encode-vs-Python gate
    # (test_encoding_matches_python_reference) still covers the
    # learned-merges application path.

    srp = _pairs(q.srp_near_dup(spark, SF))
    report["srp_near_dup"] = {
        "metric": "recall vs exact blocked-GEMM pairs (subset by "
                  "construction: same cosine verify expression)",
        "floor": 0.85,
        "value": round(len(srp) / len(exact_emb), 4) if exact_emb else None,
        "false_positives": len(srp - exact_emb),
        "gate": "tests/test_crossval.py::test_srp_near_dup_subset_and_recall_of_exact",
    }

    sem_rows = q.semantic_dedup(spark, SF).collect()
    drop_pairs = {(r.dup_of, r.vec_id) for r in sem_rows if not r.keep}
    report["semantic_dedup"] = {
        "metric": "dropped (dup_of, id) verdicts that are exact near-dup "
                  "pairs (cos >= 0.35, blocked-GEMM ground truth)",
        "floor": "greedy invariants hold (drops exceed threshold vs "
                 "dup_of, kept sets mutually sub-threshold, deterministic)",
        "value": {
            "n_vectors": len(sem_rows),
            "n_dropped": len(drop_pairs),
            "drop_pairs_in_exact": len(drop_pairs & exact_emb),
        },
        "gate": "tests/test_crossval.py::test_semantic_dedup_greedy_invariants",
    }

    exact_d = {
        r.event_type: r.n_users
        for r in q.distinct_users_per_type(spark, SF).collect()
    }
    approx_d = {
        r.event_type: r.n_users_approx
        for r in q.approx_distinct_users(spark, SF).collect()
    }
    report["approx_distinct_users"] = {
        "metric": "max relative error vs exact distinct count (HLL++ rsd=0.02)",
        "floor": 0.10,
        "value": round(
            max(abs(approx_d[k] - v) / max(v, 1) for k, v in exact_d.items()), 4
        ),
        "gate": "tests/test_oracle_parity.py::test_approx_distinct_within_error_bound",
    }

    merged = {
        r["event_type"]: r["n_users_merged_est"]
        for r in q.hll_reaggregated_users(spark, SF).collect()
    }
    report["hll_reaggregated_users"] = {
        "metric": "max relative error of merged per-day sketches vs exact "
                  "distinct count (lgConfigK=12, ~1.6% rsd)",
        "floor": 0.05,
        "value": round(
            max(abs(merged[k] - v) / max(v, 1) for k, v in exact_d.items()), 4
        ),
        "gate": "tests/test_crossval.py::test_hll_merged_estimate_close_to_exact",
    }

    approx_p = {
        r["event_type"]: (r["p50_value_approx"], r["p90_value_approx"])
        for r in q.approx_value_percentiles(spark, SF).collect()
    }
    exact_p = {
        r["event_type"]: (r["p50_value"], r["p90_value"])
        for r in q.value_percentiles(spark, SF).collect()
    }
    worst = 0.0
    for t, (p50e, p90e) in exact_p.items():
        p50a, p90a = approx_p[t]
        spread = abs(p90e - p50e) + 1e-9
        worst = max(worst, abs(p50a - p50e) / spread, abs(p90a - p90e) / spread)
    report["approx_value_percentiles"] = {
        "metric": "max spread-relative rank error vs exact interpolated "
                  "percentiles (accuracy=10000)",
        "floor": 0.05,
        "value": round(worst, 6),
        "gate": "tests/test_crossval.py::test_approx_percentiles_close_to_exact",
    }

    from pyspark.sql import functions as F

    from real_time_data_analytics_cassandra_spark.catalog import spread, table
    from real_time_data_analytics_cassandra_spark.functions.textfns import tokens
    from real_time_data_analytics_cassandra_spark.operators.sketches import (
        heavy_hitters,
    )

    tok = spread(table(spark, SF, "documents")).select(
        F.explode(tokens(F.col("text"))).alias("term")
    )
    exact_tok = {
        r.term: r.n
        for r in tok.groupBy("term").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    hh_rows = heavy_hitters(tok, "term", k=8).collect()
    hh_err = hh_rows[0].max_err if hh_rows else None
    hh_est = {r.value: r.est_count for r in hh_rows}
    true_top5 = {
        v for v, _ in sorted(exact_tok.items(), key=lambda x: (-x[1], x[0]))[:5]
    }
    report["heavy_hitter_tokens"] = {
        "metric": "Misra-Gries guarantees at k=8 (registry query uses "
                  "k=64): lower-bound estimates, undercount <= summed "
                  "error mass, completeness above it",
        "floor": "all three hold + true top-5 present",
        "value": {
            "max_err": int(hh_err),
            "worst_undercount": max(
                exact_tok[v] - e for v, e in hh_est.items()
            ),
            "lower_bound_violations": sum(
                1 for v, e in hh_est.items() if e > exact_tok[v]
            ),
            "true_top5_present": true_top5 <= set(hh_est),
        },
        "gate": "tests/test_crossval.py::test_misra_gries_heavy_hitter_guarantees",
    }

    a = {r["vec_id"]: r["pca_norm"]
         for r in q.embedding_pca_norms(spark, SF).collect()}
    b = {r["vec_id"]: r["pca_norm"]
         for r in q.embedding_pca_norms(spark, SF).collect()}
    report["embedding_pca_norms"] = {
        "metric": "two independent runs bit-identical (deterministic "
                  "driver-side fit) + per-row projection equality vs a "
                  "numpy driver recompute (tested at smoke SF)",
        "floor": "bit-exact",
        "value": {
            "deterministic": a == b,
            "rows": len(a),
        },
        "gate": "tests/test_projection.py::test_pca_projection_matches_driver_recompute",
    }

    mmr_rows = q.mmr_diverse_neighbors(spark, SF).collect()
    firsts = {}
    for r in mmr_rows:
        if r.rank == 1:
            firsts[r.q_vec_id] = r.relevance
    report["mmr_diverse_neighbors"] = {
        "metric": "greedy selection bit-equal to a pure-numpy MMR "
                  "reference on the same shortlist; first pick = "
                  "relevance argmax; avg pairwise sim <= plain top-k",
        "floor": "bit-exact selection",
        "value": {
            "n_queries": len(firsts),
            "rows": len(mmr_rows),
        },
        "gate": "tests/test_crossval.py::test_mmr_matches_numpy_model_and_diversifies",
    }

    # spectral audio hash: FFT floats forfeit the SQL oracle, so the
    # sweep proves every emitted pair (and the full signature table)
    # bit-equal to a driver-side evaluation of the SAME numpy
    # function over the raw bytes (the Spark plumbing — container
    # build, RIFF walk, Arrow batching — is what's under test)
    import numpy as _np

    from real_time_data_analytics_cassandra_spark.operators import (
        multimodal as _mm,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    py_sigs = {
        d: _mm.spectral_signature_py(
            _np.frombuffer(t.encode(), dtype=_np.uint8)
        )
        for d, t in texts.items()
    }
    spark_sigs = {
        r["doc_id"]: (r["sig_hi"], r["sig_lo"])
        for r in _mm.audio_spectral_fingerprints(
            _mm.attach_payload(docs, "doc_id", "text", "wav")
        ).collect()
    }
    pair_rows = q.audio_spectral_near_dup(spark, SF).collect()
    report["audio_spectral_near_dup"] = {
        "metric": "full signature table bit-equal to a driver-side "
                  "recompute of the shared numpy Haitsma-Kalker "
                  "function; pair set re-derived brute-force in the "
                  "pytest gate",
        "floor": "bit-exact signatures",
        "value": {
            "signatures_bit_equal": spark_sigs == py_sigs,
            "rows": len(spark_sigs),
            "n_pairs": len(pair_rows),
        },
        "gate": "tests/test_multimodal_real.py::"
                "test_audio_spectral_near_dup_matches_recompute",
    }

    with open(OUT, "w") as fh:
        json.dump(report, fh, indent=2, sort_keys=True)
        fh.write("\n")
    print(f"wrote {OUT}")
    for name, entry in sorted(report.items()):
        print(f"  {name}: value={entry['value']} floor={entry['floor']}")


if __name__ == "__main__":
    main()
