"""Embedding dimensionality reduction: PCA and random projection.

Training-data-pipeline extensions (no analog in the reference): at
100 TB, halving the embedding width halves every downstream shuffle,
ANN scan, and GEMM — reduction is the standard precursor to
clustering / ANN / near-dup over web-scale embedding tables.

Both operators follow the module's training discipline
(see similarity.kmeans_centroids): anything learned is learned
DRIVER-SIDE on the one bounded sample, ``similarity._train_sample``
— a 64x64 covariance needs a few thousand rows no matter the corpus
size — and
the learned projection matrix ships to executors inside an
Arrow-batched ``mapInPandas`` closure (KBs).  The corpus itself is
touched exactly once, with no shuffle: projection is a pure map.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from real_time_data_analytics_cassandra_spark.operators.similarity import (
    _train_sample,
)


def pca_fit(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_dim: int = 16,
    train_cap: int = 4096,
):
    """PCA basis from a bounded driver-side sample.

    Returns (mean (d,), components (out_dim, d)) as float64 numpy.
    Deterministic: covariance eigendecomposition (``eigh`` — exact,
    not randomized SVD), eigenvectors sign-fixed so each component's
    largest-magnitude coordinate is positive.
    """
    import numpy as np

    _, pts = _train_sample(corpus, id_col, vec_col, train_cap)
    mean = pts.mean(axis=0)
    centered = pts - mean
    cov = (centered.T @ centered) / len(pts)
    eigval, eigvec = np.linalg.eigh(cov)  # ascending
    comps = eigvec[:, ::-1][:, :out_dim].T  # (out_dim, d), descending eigval
    # canonical sign: largest-|coordinate| positive
    for i in range(comps.shape[0]):
        j = np.abs(comps[i]).argmax()
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    explained = eigval[::-1][:out_dim].sum() / max(eigval.sum(), 1e-300)
    return mean, comps, float(explained)


def project(
    corpus: DataFrame,
    mean,
    components,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "projected",
) -> DataFrame:
    """Apply a linear projection (x - mean) @ W^T as one Arrow-batched
    map over the corpus — no shuffle, matrix broadcast in the closure."""
    import numpy as np

    mean = np.asarray(mean, dtype=np.float64)
    comps = np.asarray(components, dtype=np.float64)

    def run(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack(pdf["__vec"].to_numpy()).astype(np.float64)
            proj = (mat - mean) @ comps.T
            yield pd.DataFrame(
                {
                    "__id": pdf["__id"].to_numpy(),
                    "__out": [row.astype(np.float32) for row in proj],
                }
            )

    id_type = corpus.schema[id_col].dataType.simpleString()
    out = corpus.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec")
    ).mapInPandas(run, f"__id {id_type}, __out array<float>")
    return out.select(F.col("__id").alias(id_col), F.col("__out").alias(out_col))


def pca_project(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_dim: int = 16,
    train_cap: int = 4096,
) -> DataFrame:
    """Fit-and-project convenience: (id, projected array<float>)."""
    mean, comps, _ = pca_fit(corpus, id_col, vec_col, out_dim, train_cap)
    return project(corpus, mean, comps, id_col, vec_col)


def random_projection(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_dim: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Johnson-Lindenstrauss Gaussian random projection — the
    training-free reduction: W ~ N(0, 1/out_dim), pairwise distances
    preserved within (1 +/- eps) w.h.p.  Zero learning passes, so the
    corpus scan is the ONLY data access at any scale; use when even a
    bounded PCA sample pass is unwanted or dims must drop before any
    statistics exist (e.g. first contact with a new corpus).
    """
    import numpy as np

    first = corpus.select(F.col(vec_col)).first()
    if first is None or first[0] is None:
        raise ValueError("cannot project an empty corpus")
    d = len(first[0])
    rs = np.random.RandomState(seed)
    w = rs.normal(0.0, 1.0, size=(out_dim, d)) / np.sqrt(out_dim)
    return project(corpus, np.zeros(d), w, id_col, vec_col)
