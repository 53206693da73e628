"""Dimensionality reduction (operators/projection.py): basis
properties, per-row correctness vs a driver recompute, and the JL
distance-preservation guarantee — the correctness story for the
non-SQL-expressible projection operators.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from real_time_data_analytics_cassandra_spark.catalog import table
from real_time_data_analytics_cassandra_spark.operators import projection as proj
from real_time_data_analytics_cassandra_spark.operators import similarity as sim
from tests.conftest import SF_SMOKE


def _emb_matrix(spark):
    rows = (
        table(spark, SF_SMOKE, "embeddings")
        .orderBy("vec_id")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    return ids, mat


def test_pca_basis_orthonormal_and_variance_ordered(spark):
    emb = table(spark, SF_SMOKE, "embeddings")
    mean, comps, explained = proj.pca_fit(emb, out_dim=16)
    gram = comps @ comps.T
    assert np.allclose(gram, np.eye(16), atol=1e-8)
    # near-uniform synthetic data: 16/64 dims should explain ~25%,
    # and PCA must do at least as well as a random axis-aligned pick
    assert 16 / 64 * 0.9 <= explained <= 1.0
    # components ordered by decreasing captured variance
    _, full = _emb_matrix(spark)
    var = ((full - full.mean(axis=0)) @ comps.T).var(axis=0)
    assert all(var[i] >= var[i + 1] - 1e-9 for i in range(len(var) - 1))


def test_pca_projection_matches_driver_recompute(spark):
    emb = table(spark, SF_SMOKE, "embeddings")
    mean, comps, _ = proj.pca_fit(emb, out_dim=16)
    got = {
        r["vec_id"]: np.asarray(r["projected"], dtype=np.float32)
        for r in proj.project(emb, mean, comps).collect()
    }
    ids, mat = _emb_matrix(spark)
    want = ((mat - mean) @ comps.T).astype(np.float32)
    assert set(got) == set(ids.tolist())
    for i, vid in enumerate(ids.tolist()):
        assert np.array_equal(got[vid], want[i]), vid


def test_random_projection_preserves_pairwise_distances(spark):
    """JL: relative distortion of sampled pairwise distances bounded
    (loose bound at out_dim=32; seeded, so deterministic)."""
    emb = table(spark, SF_SMOKE, "embeddings")
    got = {
        r["vec_id"]: np.asarray(r["projected"], dtype=np.float64)
        for r in proj.random_projection(emb, out_dim=32).collect()
    }
    ids, mat = _emb_matrix(spark)
    rs = np.random.RandomState(0)
    worst = 0.0
    for _ in range(200):
        i, j = rs.choice(len(ids), 2, replace=False)
        d_orig = np.linalg.norm(mat[i] - mat[j])
        d_proj = np.linalg.norm(got[ids[i]] - got[ids[j]])
        worst = max(worst, abs(d_proj - d_orig) / d_orig)
    assert worst < 0.6, worst


def test_pca_registry_query_rows_and_determinism(spark):
    from real_time_data_analytics_cassandra_spark import queries as q

    a = {r["vec_id"]: r["pca_norm"] for r in q.embedding_pca_norms(spark, SF_SMOKE).collect()}
    b = {r["vec_id"]: r["pca_norm"] for r in q.embedding_pca_norms(spark, SF_SMOKE).collect()}
    assert a == b
    assert len(a) == table(spark, SF_SMOKE, "embeddings").count()
    assert all(v >= 0 for v in a.values())


def test_every_trainer_rejects_an_empty_corpus(spark):
    """PCA, coarse k-means and PQ codebooks all fit on the one bounded
    sampler (similarity._train_sample), so an empty embeddings frame
    raises its one error in each instead of a numpy stack error."""
    empty = table(spark, SF_SMOKE, "embeddings").limit(0)
    for fit in (proj.pca_fit, sim.kmeans_centroids, sim.pq_train_codebooks):
        with pytest.raises(ValueError, match="^cannot train on an empty corpus$"):
            fit(empty)
