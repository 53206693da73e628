"""Similarity search over embedding columns (array<float>).

Training-data-pipeline extension (BASELINE.json north star); the
reference has no vector operations.

Top-k search, each returning (q_vec_id, n_vec_id, sim, rank) with
EXACT 6-dp cosines so the variants compare directly:
- ``brute_force_topk``: exact cosine over the whole corpus, queries
  broadcast, ranked by the two-phase ``bounded_topk_per_key``.
  Baseline + oracle.
- ``ivf_topk``: probe the ``nprobe`` nearest coarse cells (stride
  centroids, ``kmeans_centroids`` or ``kmeans_refine``).
- ``pq_topk`` / ``ivfpq_topk``: product-quantized candidate scoring
  (ADC) over codes, then an exact rerank of the shortlist;
  ``ann_index_build`` / ``ann_index_append`` / ``ann_index_probe``
  persist the IVF-PQ model and codes table and probe it.
- ``mmr_topk``: MMR re-selection of the exact shortlist.

Near-duplicate pairs: exact all-pairs (``cosine_near_dup_pairs``,
the blocked-GEMM ``cosine_all_pairs_blocked``), cell-pruned
(``cosine_near_dup_cells``), SRP-LSH banding (``srp_near_dup_pairs``)
and SemDeDup's greedy per-cell keep (``semantic_dedup``).

Every search splits into candidate generation and exact
verification, and each part exists once:
- ``_train_sample``: the bounded training sample (probe count, one
  empty-corpus error) behind every driver-side fit here and in
  projection.py;
- ``_lloyd`` + ``_train_books``: k-means and per-subspace PQ
  codebooks; ``_centroid_frame`` publishes centroids;
- ``_collect_vectors``, ``_unit`` and ``_pq_encode``: the driver-side
  query/centroid matrix, clamped unit rows and the PQ encoder;
- ``_with_norm`` + ``_exact_cos``: the norm-once exact cosine column;
  ``_exact_rerank``: the shortlist -> exact cosine -> top-k stage;
- ``_self_pairs``: the diagonal block of the sequential-fold GEMM;
- ``dedup._band_pairs``: the band-collision self-join of every
  banded near-dup operator.

Scans run JVM-side higher-order functions (functions/vectors.py) or
Arrow-batched numpy; no per-row Python UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from real_time_data_analytics_cassandra_spark.functions.vectors import (
    cosine_expr,
    dot_expr,
    norm_expr,
)
from real_time_data_analytics_cassandra_spark.operators.dedup import _band_pairs
from real_time_data_analytics_cassandra_spark.operators.topk import (
    bounded_topk_per_key,
)

# Lloyd iterations of every driver-side k-means here.  _ivfpq_train's
# coarse centers must equal kmeans_centroids' output bit for bit, so
# both read this one default.
KMEANS_MAX_ITER = 10


def _with_norm(df: DataFrame, id_col: str, vec_col: str, side: str, *keep):
    """(``side``_vec_id, ``side``_emb, ``side``_norm, *keep): the norm
    is computed ONCE per row before a join — the join replicates every
    row per partner, so an inline cosine would re-fold both norms per
    pair (3x the interpreted-lambda work)."""
    return df.select(
        F.col(id_col).alias(f"{side}_vec_id"),
        F.col(vec_col).alias(f"{side}_emb"),
        norm_expr(vec_col).alias(f"{side}_norm"),
        *keep,
    )


def _exact_cos(q: str = "q", n: str = "n"):
    """The exact cosine column of every top-k here: the JVM fold of
    ``{q}_emb . {n}_emb`` over the precomputed norms, rounded to 6 dp
    so it can key a deterministic rank."""
    return F.round(
        dot_expr(f"{q}_emb", f"{n}_emb") / (F.col(f"{q}_norm") * F.col(f"{n}_norm")),
        6,
    )


def _unit(mat):
    """Row-wise unit vectors; the 1e-12 clamp keeps a zero row zero."""
    import numpy as np

    return mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)


def _collect_vectors(df: DataFrame, id_col: str, vec_col: str):
    """Driver-side (ids int64, float64 matrix) of a small, explicitly
    bounded vector frame: a query set or a centroid table."""
    import numpy as np

    rows = df.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec")
    ).collect()
    ids = np.array([r["__id"] for r in rows], dtype=np.int64)
    return ids, np.stack([np.asarray(r["__vec"], dtype=np.float64) for r in rows])


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k neighbours for each query vector.

    Output: (q_vec_id, n_vec_id, sim, rank) — sim rounded to 6dp and
    used (with the neighbour id) as the ranking key so results are
    deterministic under float summation.
    """
    q = _with_norm(queries, id_col, vec_col, "q")
    scored = (
        _with_norm(corpus, id_col, vec_col, "n")
        .join(F.broadcast(q), F.col("n_vec_id") != F.col("q_vec_id"))
        .select("q_vec_id", "n_vec_id", _exact_cos().alias("sim"))
    )
    # two-phase rank: with a handful of query keys, a single
    # per-query window funnels the full |corpus| x |queries| scored
    # set into |queries| tasks; the salted partial pass bounds the
    # final exchange at buckets*k rows per query (lossless — see
    # bounded_topk_per_key)
    return bounded_topk_per_key(
        scored,
        keys=["q_vec_id"],
        order=[F.desc("sim"), F.asc("n_vec_id")],
        k=k,
        salt_on=["n_vec_id"],
    ).select("q_vec_id", "n_vec_id", "sim", "rank")


def cosine_near_dup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, sim) for
    every pair with cosine >= threshold.

    This is the exact all-pairs form (O(n^2) dot products, but linear
    shuffle: the self-join is a broadcast when one side fits, else a
    blocked cartesian — Spark's CartesianProduct streams partitions
    pairwise).  The 100 TB path bounds the pair space first: assign
    vectors to IVF cells (assign_to_centroids) or LSH sign-buckets and
    compare only within cells — same verify expression.
    """
    a = corpus.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("emb_a"))
    b = corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("emb_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("sim", F.round(cosine_expr("emb_a", "emb_b"), 6))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def _seq_dots(a_mat, b_mat):
    """(na, nb) dot-product matrix accumulated dimension-by-dimension
    so the summation order matches a sequential left fold — bit-
    identical to the SQL ``aggregate(zip_with(...))`` expression and
    DuckDB's ``list_dot_product``."""
    import numpy as np

    acc = np.zeros((a_mat.shape[0], b_mat.shape[0]))
    for d in range(a_mat.shape[1]):
        acc += a_mat[:, d, None] * b_mat[None, :, d]
    return acc


def _seq_norms(mat):
    import numpy as np

    acc = np.zeros(mat.shape[0])
    for d in range(mat.shape[1]):
        acc += mat[:, d] * mat[:, d]
    return np.sqrt(acc)


def _self_pairs(ids, mat, slack: float):
    """Pairs (a < b) within one block whose sequential-fold cosine is
    >= ``slack``: (ids_a, ids_b, raw sims) — the diagonal block of the
    blocked GEMM and every cell of the cell-pruned form."""
    import numpy as np

    norms = _seq_norms(mat)
    sims = _seq_dots(mat, mat) / (norms[:, None] * norms[None, :])
    ia, ib = np.nonzero((ids[:, None] < ids[None, :]) & (sims >= slack))
    return ids[ia], ids[ib], sims[ia, ib]


def cosine_all_pairs_blocked(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    num_blocks: int = 8,
) -> DataFrame:
    """Exact all-pairs cosine >= threshold via blocked matrix products.

    Same contract as ``cosine_near_dup_pairs`` but the O(n^2) dot
    products run as vectorized numpy inside ``applyInPandas`` instead
    of per-pair interpreted lambdas: vectors are hashed into
    ``num_blocks`` blocks, every unordered block pair (i <= j) becomes
    one grouped task holding the two blocks' rows, and each task
    multiplies its (n/B x d) sub-matrices.  Row replication is B per
    vector, tasks are B*(B+1)/2 — at cluster scale B grows with the
    executor count and no task ever needs more than two blocks in
    memory (the standard blocked-GEMM decomposition).

    Determinism: the accumulation loops over the dimension axis
    sequentially, so every dot product is the same left-to-right IEEE
    fold the SQL ``aggregate(zip_with(...))`` expression and DuckDB's
    ``list_dot_product`` perform — results are bit-identical to the
    naive form; the final rounding happens JVM-side with the same
    ``F.round`` as everywhere else.
    """
    df = corpus.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("emb"),
        (F.col(id_col) % num_blocks).cast("int").alias("blk"),
    )
    # each vector joins every block-pair group its block is part of:
    # (min(blk,k), max(blk,k)) for k in 0..B-1; the diagonal (blk,blk)
    # appears once after array_distinct
    pair_keys = F.array_distinct(
        F.expr(
            f"transform(sequence(0, {num_blocks - 1}), "
            f"k -> struct(least(blk, k) AS i, greatest(blk, k) AS j))"
        )
    )
    keyed = df.select(
        "vid", "emb", "blk", F.explode(pair_keys).alias("pr")
    ).select(F.col("pr.i").alias("i"), F.col("pr.j").alias("j"), "vid", "emb", "blk")

    # pre-round slack: emit pairs down to threshold - 1 ulp-ish margin,
    # the exact >= check happens after JVM-side rounding
    slack = threshold - 1e-6

    def gemm(key, pdf):
        import numpy as np
        import pandas as pd

        i, j = int(key[0]), int(key[1])

        def block(which):
            sub = pdf[pdf["blk"] == which]
            mat = np.stack(sub["emb"].to_numpy()).astype(np.float64)
            return sub["vid"].to_numpy(), mat

        if i == j:
            out_a, out_b, out_s = _self_pairs(*block(i), slack)
        else:
            ids_a, mat_a = block(i)
            ids_b, mat_b = block(j)
            sims = _seq_dots(mat_a, mat_b)
            sims = sims / (_seq_norms(mat_a)[:, None] * _seq_norms(mat_b)[None, :])
            ia, ib = np.nonzero(sims >= slack)
            lo = np.minimum(ids_a[ia], ids_b[ib])
            hi = np.maximum(ids_a[ia], ids_b[ib])
            out_a, out_b, out_s = lo, hi, sims[ia, ib]
        return pd.DataFrame({"id_a": out_a, "id_b": out_b, "raw_sim": out_s})

    raw = keyed.groupBy("i", "j").applyInPandas(
        gemm, "id_a long, id_b long, raw_sim double"
    )
    return (
        raw.withColumn("sim", F.round("raw_sim", 6))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def assign_to_centroids(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probes: int = 1,
) -> DataFrame:
    """Nearest-centroid assignment: (vec_id, embedding, cell).

    ``probes > 1`` multi-assigns every vector to its ``probes``
    nearest cells (one output row per cell) — the standard recall
    lever for cell-pruned pair search: pairs that straddle a cell
    boundary still share their second-nearest cell.

    The centroid table is by construction tiny (<= 256 cells), so it
    rides to every executor inside the Arrow-batched mapInPandas
    closure and each input batch scores ALL cells in one numpy GEMM —
    a per-batch (rows x cells) matrix product instead of a
    corpus x cells join of interpreted per-dimension folds (the join
    form was ~10x slower at 64 dims; no shuffle either way, but the
    GEMM stays vectorized).  Ties on cell similarity break toward the
    lower cell id (lexsort), matching the former window ordering.
    """
    import numpy as np

    cell_ids, cent_mat = _collect_vectors(centroids, id_col, vec_col)
    cent_unit = cent_mat / np.linalg.norm(cent_mat, axis=1, keepdims=True)
    n_probe = min(probes, len(cell_ids))

    def assign(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack(pdf["__vec"].to_numpy()).astype(np.float64)
            sims = (mat @ cent_unit.T) / np.linalg.norm(mat, axis=1, keepdims=True)
            # per row: order cells by (-sim, cell_id), keep the first n_probe
            order = np.lexsort((np.broadcast_to(cell_ids, sims.shape), -sims), axis=1)
            top = order[:, :n_probe]
            n = len(pdf)
            yield pd.DataFrame(
                {
                    "__id": pdf["__id"].to_numpy().repeat(n_probe),
                    "__vec": [v for v in pdf["__vec"].to_numpy() for _ in range(n_probe)],
                    "cell": cell_ids[top].reshape(-1),
                }
            )

    vec_type = corpus.schema[vec_col].dataType.simpleString()
    id_type = corpus.schema[id_col].dataType.simpleString()
    out = corpus.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec")
    ).mapInPandas(assign, f"__id {id_type}, __vec {vec_type}, cell long")
    return out.select(
        F.col("__id").alias(id_col), F.col("__vec").alias(vec_col), "cell"
    )


def cosine_near_dup_cells(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    assign_probes: int = 2,
) -> DataFrame:
    """Cell-pruned near-duplicate pairs — the scale path for embedding
    near-dup (the exact blocked GEMM stays as verify/baseline).

    Every vector is multi-assigned to its ``assign_probes`` nearest
    coarse cells (broadcast centroid table, one IVF-style pass); each
    cell becomes ONE grouped task that compares only its own members
    with the same sequential-fold numpy math as
    ``cosine_all_pairs_blocked`` — any emitted sim is bit-identical to
    the exact form, so the output is a strict subset of the exact
    pairs (zero false positives; recall is bounded by cell geometry
    and tested in tests/test_crossval.py).  Pair space shrinks from
    O(n^2) to sum(n_c^2) over cells; at 100 TB the cell count grows
    with the corpus so n_c stays executor-sized.  A pair whose members
    share several probed cells is emitted once per shared cell with
    the identical sim; the final dropDuplicates collapses them.
    """
    assigned = assign_to_centroids(
        corpus, centroids, id_col, vec_col, probes=assign_probes
    )
    slack = threshold - 1e-6

    def cell_gemm(pdf):
        import numpy as np
        import pandas as pd

        mat = np.stack(pdf["emb"].to_numpy()).astype(np.float64)
        a, b, s = _self_pairs(pdf["vid"].to_numpy(), mat, slack)
        return pd.DataFrame({"id_a": a, "id_b": b, "raw_sim": s})

    raw = (
        assigned.select(
            F.col(id_col).alias("vid"), F.col(vec_col).alias("emb"), "cell"
        )
        .groupBy("cell")
        .applyInPandas(cell_gemm, "id_a long, id_b long, raw_sim double")
    )
    return (
        raw.withColumn("sim", F.round("raw_sim", 6))
        .filter(F.col("sim") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", "sim")
    )


def kmeans_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int | None = None,
    seed: int = 42,
    max_iter: int = KMEANS_MAX_ITER,
    train_cap: int = 4096,
) -> DataFrame:
    """Coarse IVF centroids trained driver-side on a BOUNDED sample —
    the standard IVF recipe (FAISS trains its coarse quantizer the
    same way): coarse-cell quality needs only a few thousand training
    points regardless of corpus size, so training reads a stride-
    sampled, LIMIT-capped ``train_cap`` vectors (4096 x 64 doubles ~
    2 MB on the driver at ANY corpus scale) and runs seeded kmeans++
    + Lloyd in numpy in milliseconds.  This replaced a pyspark.ml fit
    whose per-iteration job overhead dominated at small SF and whose
    full-corpus passes add nothing at 100 TB.

    Default cell count matches the stride baseline's density (~1 cell
    per 50 vectors, capped at 256); the density probe counts a
    LIMIT-bounded prefix — at the cap the result is identical to a
    full count, so sizing never scans the whole corpus (pass n_cells
    explicitly to skip the probe job entirely).  Output mimics a
    corpus row — (id, embedding) with synthetic ids — so it drops
    into the same assignment/probe code as stride centroids.
    """
    centers, _ = _kmeans_train(
        corpus, id_col, vec_col, n_cells, seed, max_iter, train_cap
    )
    return _centroid_frame(corpus.sparkSession, centers, id_col, vec_col)


def _centroid_frame(spark, centers, id_col: str, vec_col: str) -> DataFrame:
    """Centroid rows (id 0..k-1, ``array<float>`` vector) shaped like
    a corpus row, so they drop into the assignment/probe code."""
    return spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centers)],
        [id_col, "c"],
    ).select(id_col, F.col("c").cast("array<float>").alias(vec_col))


def _kmeans_train(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int | None,
    seed: int,
    max_iter: int,
    train_cap: int,
):
    """The trainer behind :func:`kmeans_centroids`, also returning the
    training sample so _ivfpq_train trains its residual codebooks on
    the same fetch (one probe job + one sample collect per IVF-PQ fit,
    not two of each).  Returns (centers ndarray, pts)."""
    import numpy as np

    probe_n, pts = _train_sample(corpus, id_col, vec_col, train_cap)
    if n_cells is None:
        n_cells = max(2, min(256, probe_n // 50))
    rs = np.random.RandomState(seed)
    return _lloyd(pts, n_cells, rs, max_iter), pts


def _train_sample(corpus: DataFrame, id_col: str, vec_col: str, train_cap: int):
    """The bounded deterministic training sample of every driver-side
    fit (coarse quantizer, PQ codebooks, IVF-PQ residuals, PCA):
    returns (probe_n, pts).

    The probe counts a LIMIT-bounded prefix wide enough for both the
    stride (``train_cap * 8``) and the default cell density (256 cells
    x 50 vectors), so one probe serves both.  Sampling is keyed on a
    HASH of the id, not the raw id modulo a stride — raw modulo assumes
    dense contiguous ids and can return far fewer than ``train_cap``
    rows on sparse id spaces (every id even, snowflake-style ids);
    xxhash64 spreads any id distribution uniformly across the stride
    classes while staying deterministic.  Raises on an empty corpus
    instead of a cryptic numpy stack error."""
    import numpy as np

    probe_n = corpus.limit(max(256 * 50, train_cap * 8)).count()
    if probe_n == 0:
        raise ValueError("cannot train on an empty corpus")
    stride = max(1, probe_n // train_cap)
    sample = (
        corpus.filter(F.pmod(F.xxhash64(F.col(id_col)), F.lit(stride)) == 0)
        .limit(train_cap)
        .select(F.col(vec_col).cast("array<double>").alias("v"))
        .toPandas()
    )
    return probe_n, np.stack(sample["v"].to_numpy())


def _lloyd(pts, k: int, rs, max_iter: int = KMEANS_MAX_ITER):
    """Seeded kmeans++ + Lloyd over a small in-memory numpy matrix —
    shared by the coarse-quantizer and PQ-codebook trainers (both
    train on bounded driver-side samples; see kmeans_centroids for
    why full-corpus training passes add nothing at 100 TB)."""
    import numpy as np

    centers = pts[rs.randint(len(pts))][None, :]
    d2 = ((pts - centers[0]) ** 2).sum(axis=1)
    for _ in range(1, k):
        probs = d2 / d2.sum() if d2.sum() > 0 else None
        nxt = pts[rs.choice(len(pts), p=probs)]
        centers = np.vstack([centers, nxt])
        d2 = np.minimum(d2, ((pts - nxt) ** 2).sum(axis=1))
    for _ in range(max_iter):
        dists = ((pts[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        assign = dists.argmin(axis=1)
        for c in range(k):
            members = pts[assign == c]
            if len(members):
                centers[c] = members.mean(axis=0)
            else:
                centers[c] = pts[dists.min(axis=1).argmax()]
    return centers


def _train_books(pts, m: int, n_codes: int, seed: int, max_iter: int):
    """One ``n_codes``-entry ``_lloyd`` codebook per contiguous
    subspace of ``pts`` (one seeded stream across the subspaces):
    returns (m, n_codes, d/m) float64."""
    import numpy as np

    d = pts.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    d_sub = d // m
    rs = np.random.RandomState(seed)
    return np.stack(
        [
            _lloyd(pts[:, s * d_sub : (s + 1) * d_sub].copy(), n_codes, rs, max_iter)
            for s in range(m)
        ]
    )


def _pq_encode(x, books, book_sq):
    """PQ codes of the rows of ``x``: per subspace the argmin of
    ||x_s - c||^2 = ||c||^2 - 2 x_s.c (``book_sq`` = the (m, n_codes)
    ||c||^2 table).  Returns (n, m) int64."""
    import numpy as np

    m, _, d_sub = books.shape
    codes = np.empty((len(x), m), dtype=np.int64)
    for s in range(m):
        dots = x[:, s * d_sub : (s + 1) * d_sub] @ books[s].T
        codes[:, s] = (book_sq[s][None, :] - 2.0 * dots).argmin(axis=1)
    return codes


def pq_train_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    n_codes: int = 16,
    seed: int = 42,
    train_cap: int = 4096,
    max_iter: int = KMEANS_MAX_ITER,
):
    """Product-quantization codebooks: split the (unit-normalized)
    vector into ``m`` contiguous subspaces and train an ``n_codes``-
    entry codebook per subspace — the FAISS IVFPQ recipe, trained
    driver-side on a stride-sampled, LIMIT-capped ``train_cap``
    vectors (codebook quality needs a few thousand training points
    regardless of corpus size; the sample is ~2 MB at any scale).

    Returns an (m, n_codes, d/m) float64 numpy array.  Vectors are
    normalized BEFORE splitting so the sum of per-subspace inner
    products approximates full cosine directly.
    """
    _, pts = _train_sample(corpus, id_col, vec_col, train_cap)
    return _train_books(_unit(pts), m, n_codes, seed, max_iter)


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    m: int = 8,
    n_codes: int = 16,
    rerank_depth: int = 30,
    seed: int = 42,
    train_cap: int = 4096,
) -> DataFrame:
    """Product-quantization ANN with asymmetric-distance scoring and
    exact top-k rerank — the memory-bound scale path: a 64-dim float
    embedding (256 B) compresses to ``m`` single-byte codes, so the
    scoring pass streams ~32x less data than IVF over raw vectors.

    Plan shape (one corpus scan, zero embedding shuffle):
    1. codebooks trained driver-side on a bounded sample
       (``pq_train_codebooks``), shipped to executors inside the
       mapInPandas closure together with the (small, explicitly
       bounded) query matrix and its per-query ADC lookup tables
       T[q, s, c] = <q_sub, codebook[s][c]>;
    2. every corpus batch is encoded (argmin subspace distance) and
       ADC-scored against ALL queries in one numpy gather+sum — the
       approximate cosine of (q, x) is sum_s T[q, s, code_s(x)];
       each batch emits only its local top-``rerank_depth``
       candidates per query;
    3. a global window keeps the overall top-``rerank_depth``
       (candidate rows only: (q_id, n_id, approx) — bytes, not
       vectors, on the shuffle);
    4. candidates broadcast-join back to the corpus for the exact
       JVM-fold cosine (same `dot_expr` as knn_bruteforce) and the
       final row_number <= k — so returned sims are EXACT and
       directly comparable across ANN variants; only the candidate
       choice is approximate (recall vs knn_bruteforce tested in
       tests/test_crossval.py).
    """
    import numpy as np

    books = pq_train_codebooks(
        corpus, id_col, vec_col, m=m, n_codes=n_codes, seed=seed, train_cap=train_cap
    )
    q_ids, q_mat = _collect_vectors(queries, id_col, vec_col)
    q_unit = _unit(q_mat)
    d_sub = q_mat.shape[1] // m
    # ADC tables: (nq, m, n_codes)
    adc = np.stack(
        [
            q_unit[:, s * d_sub : (s + 1) * d_sub] @ books[s].T
            for s in range(m)
        ],
        axis=1,
    )
    book_sq = (books**2).sum(axis=2)  # (m, n_codes)
    depth = rerank_depth

    def score(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["__id"].to_numpy()
            mat = _unit(np.stack(pdf["__vec"].to_numpy()).astype(np.float64))
            codes = _pq_encode(mat, books, book_sq)
            # ADC gather: approx[q, x] = sum_s adc[q, s, codes[x, s]]
            approx = np.zeros((len(q_ids), len(ids)))
            for s in range(m):
                approx += adc[:, s, codes[:, s]]
            # per query: drop the query's own vector BEFORE the local
            # top-depth slice, so the batch containing the query still
            # contributes the full candidate budget (masking after the
            # slice silently cost one candidate); then top-depth by
            # (-approx, id) for determinism
            for qi in range(len(q_ids)):
                mask = ids != q_ids[qi]
                cand_ids = ids[mask]
                row = approx[qi][mask]
                top = np.lexsort((cand_ids, -row))[: min(depth, len(cand_ids))]
                yield pd.DataFrame(
                    {
                        "q_vec_id": np.full(len(top), q_ids[qi], dtype=np.int64),
                        "cand_id": cand_ids[top],
                        "approx_sim": row[top],
                    }
                )

    cand = (
        corpus.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec"))
        .mapInPandas(score, "q_vec_id long, cand_id long, approx_sim double")
    )
    return _exact_rerank(
        cand, [F.desc("approx_sim"), F.asc("cand_id")],
        corpus, queries, id_col, vec_col, depth, k,
    )


def _exact_rerank(
    cand: DataFrame,
    approx_order: list,
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    depth: int,
    k: int,
) -> DataFrame:
    """The exact stage of both PQ searches: a global window keeps each
    query's top-``depth`` (q_vec_id, cand_id) rows of ``cand`` by
    ``approx_order`` (candidate ids only on the shuffle), the shortlist
    broadcast-joins back to the corpus for the exact cosine, and the
    top ``k`` by (sim desc, id) are returned — so returned sims are
    exact and comparable across every ANN variant."""
    wq = Window.partitionBy("q_vec_id").orderBy(*approx_order)
    shortlist = (
        cand.withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= depth)
        .select("q_vec_id", "cand_id")
    )
    exact = (
        _with_norm(corpus, id_col, vec_col, "n")
        .join(F.broadcast(shortlist), F.col("n_vec_id") == F.col("cand_id"))
        .join(F.broadcast(_with_norm(queries, id_col, vec_col, "q")), ["q_vec_id"])
        .withColumn("sim", _exact_cos())
    )
    w = Window.partitionBy("q_vec_id").orderBy(F.desc("sim"), F.asc("n_vec_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_vec_id", "n_vec_id", "sim", "rank")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    centroid_stride: int = 50,
    nprobe: int = 4,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF ANN: probe the nprobe nearest centroid cells per query.

    Default centroids are the deterministic subset ``vec_id %
    centroid_stride == 0`` (oracle-friendly); pass
    ``kmeans_centroids(corpus)`` for trained cells (better recall —
    the production path; see tests/test_crossval.py).
    """
    if centroids is None:
        centroids = corpus.filter((F.col(id_col) % centroid_stride) == 0)
    assigned = assign_to_centroids(corpus, centroids, id_col, vec_col)

    q = _with_norm(queries, id_col, vec_col, "q")
    cent = centroids.select(F.col(id_col).alias("cell"), F.col(vec_col).alias("c_emb"))
    qcells = q.join(F.broadcast(cent)).withColumn("c_sim", cosine_expr("q_emb", "c_emb"))
    wq = Window.partitionBy("q_vec_id").orderBy(F.desc("c_sim"), F.asc("cell"))
    probes = (
        qcells.withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= nprobe)
        .select("q_vec_id", "q_emb", "q_norm", "cell")
    )

    cand = (
        _with_norm(assigned, id_col, vec_col, "n", "cell")
        .join(F.broadcast(probes), ["cell"])
        .filter(F.col("n_vec_id") != F.col("q_vec_id"))
    )
    w = Window.partitionBy("q_vec_id").orderBy(F.desc("sim"), F.asc("n_vec_id"))
    return (
        cand.withColumn("sim", _exact_cos())
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_vec_id", "n_vec_id", "sim", "rank")
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int | None = None,
    nprobe: int = 4,
    m: int = 16,
    n_codes: int = 32,
    rerank_depth: int = 60,
    seed: int = 42,
    train_cap: int = 4096,
) -> DataFrame:
    """IVF-PQ ANN — coarse cells + residual product quantization +
    exact rerank: the billion-scale composition (FAISS IVFPQ) of the
    two scale levers this module already has.

    Vectors are unit-normalized, so L2 on the sphere ranks exactly
    like cosine (||a-b||^2 = 2 - 2cos); each vector is assigned to
    its nearest coarse cell and its RESIDUAL (x - centroid) is PQ-
    encoded — residuals are tighter than raw vectors, so the same
    code budget quantizes finer.  All training (coarse cells via
    kmeans_centroids's bounded sample, residual codebooks via the
    same stride sample) is driver-side and corpus-size-independent.

    Plan shape and why it scales:
    1. ONE corpus scan: assignment + residual encode run as chained
       Arrow stages with no exchange between them;
    2. the ONLY shuffle groups (id, cell, codes) by cell — m bytes of
       codes per vector, never the embeddings;
    3. each cell task scores only the queries that probe it (query →
       nprobe cells, precomputed driver-side on the tiny centroid
       table) with per-(query, cell) ADC tables of residual-L2
       partial distances — a numpy gather+sum per batch;
    4. per-cell top-``rerank_depth`` candidates → ``_exact_rerank``
       (global window, exact JVM-fold cosine, top k), so returned
       sims are exact and comparable across all ANN variants.
    """
    cent_unit, cell_ids, books = _ivfpq_train(
        corpus, id_col, vec_col, n_cells, m, n_codes, seed, train_cap
    )
    encoded = _ivfpq_encode(corpus, id_col, vec_col, cent_unit, cell_ids, books)
    return _ivfpq_probe(
        encoded, corpus, queries, cent_unit, cell_ids, books,
        id_col, vec_col, k, nprobe, rerank_depth,
    )


def _ivfpq_train(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int | None,
    m: int,
    n_codes: int,
    seed: int,
    train_cap: int,
):
    """Driver-side IVF-PQ model fit on bounded samples: returns
    (cent_unit (C, d), cell_ids (C,), books (m, n_codes, d/m))."""
    import numpy as np

    centers, pts = _kmeans_train(
        corpus, id_col, vec_col, n_cells, seed, KMEANS_MAX_ITER, train_cap
    )
    cell_ids = np.arange(len(centers), dtype=np.int64)
    # float32 round-trip kept: kmeans_centroids publishes centroids as
    # array<float>, and r12's collect re-widened those f32 values —
    # the PQ model must train against bit-identical cell centers
    cent_unit = _unit(centers.astype(np.float32).astype(np.float64))
    # residual codebooks train on the coarse quantizer's own sample
    pts = _unit(pts)
    residuals = pts - cent_unit[(pts @ cent_unit.T).argmax(axis=1)]
    books = _train_books(residuals, m, n_codes, seed, KMEANS_MAX_ITER)
    return cent_unit, cell_ids, books


def _ivfpq_encode(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    cent_unit,
    cell_ids,
    books,
) -> DataFrame:
    """ONE corpus scan: cell assignment + residual PQ encode as
    chained Arrow stages -> (vid, cell, codes) with m small ints per
    vector.  This is the index's data table; everything downstream
    ships codes, never embeddings."""
    import numpy as np

    book_sq = (books**2).sum(axis=2)

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            mat = _unit(np.stack(pdf["__vec"].to_numpy()).astype(np.float64))
            cells = (mat @ cent_unit.T).argmax(axis=1)
            res = mat - cent_unit[cells]
            codes = _pq_encode(res, books, book_sq).astype(np.int32)
            yield pd.DataFrame(
                {
                    "vid": pdf["__id"].to_numpy(),
                    "cell": cell_ids[cells],
                    "codes": list(codes),
                }
            )

    return corpus.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec")
    ).mapInPandas(encode, "vid long, cell long, codes array<int>")


def _ivfpq_probe(
    encoded: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    cent_unit,
    cell_ids,
    books,
    id_col: str,
    vec_col: str,
    k: int,
    nprobe: int,
    rerank_depth: int,
) -> DataFrame:
    """Probe path shared by the in-memory operator and the persistent
    index: per-cell ADC scoring of the probing queries over the codes
    table, global shortlist, exact JVM-fold cosine rerank."""
    import numpy as np

    m = books.shape[0]
    d_sub = books.shape[2]

    # --- query-side: probed cells + per-(query, cell) ADC tables ---
    q_ids, q_mat = _collect_vectors(queries, id_col, vec_col)
    q_unit = _unit(q_mat)
    q_cell_sims = q_unit @ cent_unit.T
    order = np.lexsort(
        (np.broadcast_to(cell_ids, q_cell_sims.shape), -q_cell_sims), axis=1
    )
    probes = order[:, : min(nprobe, len(cell_ids))]  # (nq, nprobe) col indices
    cell_to_q: dict[int, list[int]] = {}
    for qi in range(len(q_ids)):
        for ci in probes[qi]:
            cell_to_q.setdefault(int(cell_ids[ci]), []).append(qi)
    cell_pos = {int(c): i for i, c in enumerate(cell_ids)}
    depth = rerank_depth

    # --- per-cell ADC scoring of the probing queries ---------------
    def score_cell(key, pdf):
        import pandas as pd

        cell = int(key[0])
        probing = cell_to_q.get(cell, [])
        if not probing or not len(pdf):
            return pd.DataFrame(
                {"q_vec_id": [], "cand_id": [], "approx_dist": []}
            ).astype({"q_vec_id": "int64", "cand_id": "int64", "approx_dist": "float64"})
        ids = pdf["vid"].to_numpy()
        codes = np.stack(pdf["codes"].to_numpy()).astype(np.int64)  # (n, m)
        c_vec = cent_unit[cell_pos[cell]]
        out_q, out_c, out_d = [], [], []
        for qi in probing:
            qres = q_unit[qi] - c_vec
            # ADC: dist^2 partials || qres_s - book[s][c] ||^2
            approx = np.zeros(len(ids))
            for s in range(m):
                qs = qres[s * d_sub : (s + 1) * d_sub]
                tbl = ((books[s] - qs[None, :]) ** 2).sum(axis=1)  # (n_codes,)
                approx += tbl[codes[:, s]]
            # drop the query's own vector BEFORE the slice so its home
            # cell still yields the full depth-candidate budget
            mask = ids != q_ids[qi]
            cand_ids = ids[mask]
            cand_approx = approx[mask]
            keep = np.lexsort((cand_ids, cand_approx))[
                : min(depth, len(cand_ids))
            ]
            out_q.append(np.full(len(keep), q_ids[qi], dtype=np.int64))
            out_c.append(cand_ids[keep])
            out_d.append(cand_approx[keep])
        return pd.DataFrame(
            {
                "q_vec_id": np.concatenate(out_q),
                "cand_id": np.concatenate(out_c),
                "approx_dist": np.concatenate(out_d),
            }
        )

    cand = encoded.groupBy("cell").applyInPandas(
        score_cell, "q_vec_id long, cand_id long, approx_dist double"
    )
    return _exact_rerank(
        cand, [F.asc("approx_dist"), F.asc("cand_id")],
        corpus, queries, id_col, vec_col, depth, k,
    )


def ann_index_build(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int | None = None,
    m: int = 16,
    n_codes: int = 32,
    seed: int = 42,
    train_cap: int = 4096,
) -> dict:
    """Build and PERSIST an IVF-PQ index: the production build-once /
    probe-many shape (a FAISS index directory re-expressed as three
    parquet tables), so query workloads never retrain or re-encode.

    Layout under ``path``:
    - ``codes/``      (vid, cell, codes array<int>) — m small ints per
      corpus vector, hive-partitioned BY CELL so a probe reads only
      the nprobe cells it touches (partition pruning = the inverted
      list seek); a second ``batch`` level stamps which ingest wrote
      each row (``ann_index_append``);
    - ``centroids/``  (cell_id, vector) — C rows (IMMUTABLE after
      build: appends encode with the existing model);
    - ``codebooks/``  (subspace, code, vector) — m * n_codes rows
      (immutable likewise);
    - ``pending/``    crash markers for appends (see
      ``ann_index_append``).

    The build is ONE corpus scan (chained Arrow assign+encode) plus a
    cell-partitioned write; training is driver-side on bounded
    samples, corpus-size-independent.  Returns {n_cells, m, n_codes}.
    """
    spark = corpus.sparkSession
    cent_unit, cell_ids, books = _ivfpq_train(
        corpus, id_col, vec_col, n_cells, m, n_codes, seed, train_cap
    )
    encoded = _ivfpq_encode(
        corpus, id_col, vec_col, cent_unit, cell_ids, books
    ).withColumn("batch", F.lit("b0"))
    (
        encoded.repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell", "batch")
        .parquet(f"{path}/codes")
    )
    spark.createDataFrame(
        [
            (int(cell_ids[i]), [float(x) for x in cent_unit[i]])
            for i in range(len(cell_ids))
        ],
        "cell_id long, vector array<double>",
    ).repartition(1).write.mode("overwrite").parquet(f"{path}/centroids")
    spark.createDataFrame(
        [
            (s, c, [float(x) for x in books[s, c]])
            for s in range(books.shape[0])
            for c in range(books.shape[1])
        ],
        "subspace int, code int, vector array<double>",
    ).repartition(1).write.mode("overwrite").parquet(f"{path}/codebooks")
    return {"n_cells": len(cell_ids), "m": int(books.shape[0]),
            "n_codes": int(books.shape[1])}


def ann_index_probe(
    corpus: DataFrame,
    queries: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 4,
    rerank_depth: int = 60,
) -> DataFrame:
    """Probe a persisted IVF-PQ index (``ann_index_build``): loads the
    KB-sized model tables (centroids + codebooks) to the driver,
    prunes the codes table to the probed cells (hive partition
    pruning — the inverted-list seek), ADC-scores, and exact-reranks
    against the corpus by candidate id.  No training, no re-encode:
    probe cost is independent of how the index was built.

    ``corpus`` supplies the raw vectors for the exact rerank only —
    at scale that is a broadcast-shortlist join touching
    |queries| * rerank_depth rows of it.
    """
    spark = corpus.sparkSession
    cent_unit, cell_ids, books = _load_ivfpq_model(spark, path)
    encoded = spark.read.parquet(f"{path}/codes")
    return _ivfpq_probe(
        encoded, corpus, queries, cent_unit, cell_ids, books,
        id_col, vec_col, k, nprobe, rerank_depth,
    )


def _load_ivfpq_model(spark, path: str):
    """Driver-side load of the KB-sized immutable model tables
    (centroids + codebooks) a probe or append needs."""
    import numpy as np

    cent_rows = sorted(
        spark.read.parquet(f"{path}/centroids").collect(),
        key=lambda r: r["cell_id"],
    )
    cell_ids = np.array([r["cell_id"] for r in cent_rows], dtype=np.int64)
    cent_unit = np.stack(
        [np.asarray(r["vector"], dtype=np.float64) for r in cent_rows]
    )
    book_rows = spark.read.parquet(f"{path}/codebooks").collect()
    m = 1 + max(r["subspace"] for r in book_rows)
    n_codes = 1 + max(r["code"] for r in book_rows)
    d_sub = len(book_rows[0]["vector"])
    books = np.zeros((m, n_codes, d_sub))
    for r in book_rows:
        books[r["subspace"], r["code"]] = np.asarray(
            r["vector"], dtype=np.float64
        )
    return cent_unit, cell_ids, books


def ann_index_append(
    batch_df: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """O(batch) append to a persisted IVF-PQ index: new vectors are
    encoded with the EXISTING coarse centroids and PQ codebooks (the
    standard grow-the-inverted-lists maintenance — the model is
    immutable after build; drift bad enough to retrain is a REBUILD,
    an explicit operation) and land in their cell directories under a
    fresh ``batch=`` stamp.  A new crawl slice never triggers a
    re-encode of the existing corpus.

    Crash-safety is the same marker protocol as the BM25 index append
    (operators/index.py::append_text_index): any half-applied earlier
    batch is rolled back first (its ``batch=`` directories deleted —
    codes are the only mutable table, so rollback is pure file ops),
    then ``pending/<batch>`` is written before the codes append and
    removed after it.  Replaying a COMPLETED batch is a no-op: the
    batch anti-joins the existing code table's vids.  Probing after
    append is bit-identical to probing an index whose codes were
    encoded in one pass with the same model (asserted in
    tests/test_crossval.py).  Returns {n_new, batch, repaired}."""
    from real_time_data_analytics_cassandra_spark.operators.index import (
        _content_batch,
        _pending_marker,
    )
    from real_time_data_analytics_cassandra_spark.sinks.merge import _fs

    spark = batch_df.sparkSession
    # roll back any half-applied batch
    fs, pend = _fs(spark, f"{path}/pending")
    repaired = []
    if fs.exists(pend):
        for st in fs.listStatus(pend):
            b = st.getPath().getName()
            glob = spark._jvm.org.apache.hadoop.fs.Path(
                f"{path}/codes/cell=*/batch={b}"
            )
            for g in fs.globStatus(glob) or []:
                fs.delete(g.getPath(), True)
            fs.delete(st.getPath(), False)
            repaired.append(b)

    known = spark.read.parquet(f"{path}/codes").select("vid")
    fresh = batch_df.join(
        known, batch_df[id_col] == known.vid, "left_anti"
    ).localCheckpoint(eager=True)
    n_new, batch = _content_batch(fresh, id_col)
    if n_new == 0:
        return {"n_new": 0, "batch": None, "repaired": repaired}

    cent_unit, cell_ids, books = _load_ivfpq_model(spark, path)
    encoded = _ivfpq_encode(
        fresh, id_col, vec_col, cent_unit, cell_ids, books
    ).withColumn("batch", F.lit(batch))
    with _pending_marker(spark, path, batch):
        (
            encoded.repartition("cell")
            .write.mode("append")
            .partitionBy("cell", "batch")
            .parquet(f"{path}/codes")
        )
    return {"n_new": n_new, "batch": batch, "repaired": repaired}


def semantic_dedup(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
) -> DataFrame:
    """SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication", 2023): embedding-space
    deduplication that drops documents SEMANTICALLY equivalent to a
    kept one, not just textually near-identical.  Every vector is
    assigned to its nearest coarse cell (single probe — the paper's
    k-means partitioning); within each cell a greedy sweep in
    ascending id order keeps a vector iff its cosine to every
    ALREADY-KEPT vector in the cell stays below ``threshold``,
    otherwise records the kept vector it duplicates.

    Output: (id, cell, keep, dup_of) — one row per corpus vector;
    ``dup_of`` is the lowest-id kept vector with maximal similarity
    (None for kept rows).  Deterministic: single assignment + id-
    ordered greedy makes the verdict independent of partitioning.

    Scale shape: the centroid table is bounded (<= 256 rows) and
    rides in the assignment closure; each cell is ONE grouped task
    whose greedy loop is numpy dot products against the kept-set
    matrix — O(n_c * kept_c) flops, executor-local.  Cells stay
    executor-sized because cell count grows with the corpus (same
    argument as cosine_near_dup_cells).  One shuffle total (the
    groupBy cell); nothing corpus-sized touches the driver.
    """
    assigned = assign_to_centroids(corpus, centroids, id_col, vec_col, probes=1)

    def cell_greedy(pdf):
        import numpy as np
        import pandas as pd

        ids = pdf["vid"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        mat = np.stack(pdf["emb"].to_numpy()).astype(np.float64)[order]
        unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        kept_idx: list[int] = []
        keep = np.zeros(len(ids), dtype=bool)
        dup_of = np.full(len(ids), -1, dtype=np.int64)
        for i in range(len(ids)):
            if kept_idx:
                sims = np.round(unit[kept_idx] @ unit[i], 6)
                j = int(np.argmax(sims))
                if sims[j] >= threshold:
                    dup_of[i] = ids[kept_idx[j]]
                    continue
            keep[i] = True
            kept_idx.append(i)
        out = pd.DataFrame(
            {
                "id": ids,
                "cell": pdf["cell"].to_numpy()[order],
                "keep": keep,
                "dup_of": dup_of,
            }
        )
        out.loc[out["keep"], "dup_of"] = None
        return out

    return (
        assigned.select(
            F.col(id_col).alias("vid"), F.col(vec_col).alias("emb"), "cell"
        )
        .groupBy("cell")
        .applyInPandas(cell_greedy, "id long, cell long, keep boolean, dup_of long")
        .select(F.col("id").alias(id_col), "cell", "keep", "dup_of")
    )


def srp_band_signatures(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 64,
    n_bands: int = 8,
    seed: int = 11,
) -> DataFrame:
    """Signed-random-projection (SimHash-for-vectors, Charikar 2002)
    band keys: ``n_bits`` fixed Gaussian hyperplanes (driver-seeded,
    bounded: n_bits x dim floats broadcast in the task closure) give
    every vector a sign bitstring, split into ``n_bands`` bands of
    n_bits/n_bands bits; two vectors collide in a band with
    probability (1 - theta/pi)^bits_per_band — the cosine analogue of
    MinHash banding.

    Output: (id, band_idx, band_key) — n_bands rows per vector, key =
    the band's bits packed into a BIGINT.  Computation is one
    Arrow-batched ``mapInPandas`` pass (a dim x n_bits GEMM per batch
    — dense BLAS, not expressible as builtin columns without n_bits
    codegen'd fold expressions); no shuffle is introduced here, the
    long format leaves the map side already-exploded.
    """
    import numpy as np

    first = corpus.select(F.col(vec_col)).first()
    if first is None or first[0] is None:
        raise ValueError("cannot sign an empty corpus")
    dim = len(first[0])
    if n_bits % n_bands != 0:
        raise ValueError("n_bits must divide evenly into n_bands")
    r = n_bits // n_bands
    if r > 62:
        raise ValueError("band keys must fit a signed 64-bit int")
    h = np.random.RandomState(seed).normal(0.0, 1.0, size=(n_bits, dim))
    weights = (1 << np.arange(r, dtype=np.int64))[None, :]

    def sign_bands(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            bits = (mat @ h.T) > 0  # (n, n_bits)
            ids = pdf[id_col].to_numpy()
            out_id, out_band, out_key = [], [], []
            for b in range(n_bands):
                band = bits[:, b * r : (b + 1) * r].astype(np.int64)
                keys = (band * weights).sum(axis=1)
                out_id.append(ids)
                out_band.append(np.full(len(ids), b, dtype=np.int64))
                out_key.append(keys)
            yield pd.DataFrame(
                {
                    "id": np.concatenate(out_id),
                    "band_idx": np.concatenate(out_band),
                    "band_key": np.concatenate(out_key),
                }
            )

    return corpus.select(id_col, vec_col).mapInPandas(
        sign_bands, "id long, band_idx int, band_key long"
    )


def srp_near_dup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    n_bits: int = 64,
    n_bands: int = 16,
    seed: int = 11,
) -> DataFrame:
    """Embedding near-dup via SRP-LSH banding: candidate pairs =
    vectors sharing ANY band key; every candidate is verified with
    the same JVM ``cosine_expr`` fold the exact all-pairs form uses,
    so the output is a strict SUBSET of ``cosine_near_dup_pairs``
    (zero false positives; recall rises with n_bands and is
    cross-validated in tests/test_crossval.py).

    The third member of the near-dup family: MinHash/LSH buckets
    Jaccard on token shingles, SimHash buckets Hamming on text
    hashes, SRP buckets COSINE on dense embeddings — same
    band-bucket-verify shape end to end.

    Parameter economics (the real LSH tradeoff, stated rather than
    hidden): a pair at angle theta collides in an r-bit band with
    p = (1-theta/pi)^r, and uniform data loads each band's buckets
    with ~n/2^r vectors, so candidate work is ~n_bands * n^2 / 2^r.
    TIGHT thresholds (0.8+: theta <= 37 deg, p_bit ~0.8) afford
    r=8..16 and prune massively; this corpus's exact pairs all sit
    at cosine 0.35-0.5 (theta 60-69 deg, p_bit ~0.6), which forces
    r=4 x 16 bands for ~0.9 recall — cheap only because buckets
    still split n by 16 per band.  For loose thresholds at 100 TB
    prefer the data-adaptive cell path (cosine_near_dup_cells /
    semantic_dedup: KMeans cells follow the cluster structure instead
    of fixed hyperplanes); SRP is the training-free path and the
    right index for tight near-identity dedup.

    Scale shape: signatures are map-side Arrow batches; the ONLY
    corpus-wide shuffle is the (8-byte key, id) band explode into
    bucket hash-aggregation; pair verification joins embeddings by id
    for the candidate set only.  All-pairs never materializes —
    sum(bucket^2) per band bounds the work exactly like MinHash
    bands.
    """
    sigs = srp_band_signatures(
        corpus, id_col, vec_col, n_bits=n_bits, n_bands=n_bands, seed=seed
    )
    cands = _band_pairs(sigs.withColumnRenamed("band_idx", "band"), "id")
    a = corpus.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("emb_a"))
    b = corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("emb_b"))
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("sim", F.round(cosine_expr("emb_a", "emb_b"), 6))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def mmr_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    depth: int = 20,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein, SIGIR'98):
    per query, greedily select k of the top-``depth`` exact-cosine
    candidates maximizing ``lam·rel(d) − (1−lam)·max_{s∈S} sim(d,s)``
    — relevance WITH diversity, the retrieval shape RAG rerankers and
    dedup-aware samplers want (top-k alone returns near-duplicates of
    one hit).

    Two stages: the distributed exact shortlist
    (:func:`brute_force_topk`, JVM-side) bounds the problem to
    ``depth`` rows per query; the greedy selection — inherently
    sequential but O(depth²) — runs as ONE Arrow batch per query
    group (`applyInPandas`), vectorized candidate-candidate GEMM
    inside.  Deterministic: relevance is the 6dp-rounded shortlist
    sim, numpy float64 ops are IEEE-fixed, ties break on candidate
    id.  At 100 TB the shortlist is the scale problem (swap in
    ivfpq_topk for it); the MMR stage stays |queries|·depth² however
    big the corpus is.
    """
    import numpy as np

    shortlist = brute_force_topk(corpus, queries, id_col, vec_col, k=depth)
    cand = shortlist.join(
        corpus.select(
            F.col(id_col).alias("n_vec_id"), F.col(vec_col).alias("n_emb")
        ),
        "n_vec_id",
    )

    def select(pdf):
        import pandas as pd

        ids = pdf["n_vec_id"].to_numpy()
        rel = pdf["sim"].to_numpy().astype(np.float64)
        mat = _unit(np.stack(pdf["n_emb"].to_numpy()).astype(np.float64))
        sims = mat @ mat.T
        chosen: list = []
        scores: list = []
        avail = list(range(len(ids)))
        while avail and len(chosen) < k:
            best = None
            for i in avail:
                div = max((sims[i, j] for j in chosen), default=0.0)
                s = lam * rel[i] - (1.0 - lam) * div
                key = (-s, ids[i])
                if best is None or key < best[0]:
                    best = (key, i, s)
            chosen.append(best[1])
            scores.append(best[2])
            avail.remove(best[1])
        return pd.DataFrame(
            {
                "q_vec_id": pdf["q_vec_id"].iloc[: len(chosen)].to_numpy()[0]
                * np.ones(len(chosen), dtype=np.int64),
                "rank": np.arange(1, len(chosen) + 1, dtype=np.int32),
                "n_vec_id": ids[chosen],
                "relevance": rel[chosen],
                "mmr_score": np.round(scores, 6),
            }
        )

    return cand.groupBy("q_vec_id").applyInPandas(
        select,
        "q_vec_id long, rank int, n_vec_id long, relevance double, "
        "mmr_score double",
    )


def kmeans_refine(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iterations: int = 2,
):
    """Distributed Lloyd refinement of coarse centroids over the FULL
    corpus — the complement of :func:`kmeans_centroids`' bounded-
    sample training: when cell quality matters more than training
    cost, refine the sample-trained centers with full-data passes.

    Each iteration is ONE Arrow `mapInPandas` pass (vectorized GEMM
    assignment + per-partition partial sums per cell) followed by a
    tiny (k·d)-row shuffle; the driver only ever holds the k×d
    centroid matrix and per-iteration inertia — corpus-size-
    independent, the same contract a 1000-executor run needs.  Empty
    cells keep their previous center.

    Returns ``(centroids_df, inertias)`` where ``inertias`` has one
    full-data sum of squared distances per iteration (monotonically
    non-increasing up to float addition order — asserted with
    tolerance in tests).
    """
    import numpy as np

    ids, cents = _collect_vectors(centroids, id_col, vec_col)
    cents = cents[np.argsort(ids, kind="stable")]
    k, d = cents.shape
    inertias = []
    for _ in range(iterations):
        c = cents  # close over this iteration's matrix
        c_sq = (c**2).sum(axis=1)

        def part(batches):
            import pandas as pd

            for pdf in batches:
                if not len(pdf):
                    continue
                mat = np.stack(pdf["__v"].to_numpy()).astype(np.float64)
                d2 = (
                    (mat**2).sum(axis=1)[:, None]
                    - 2.0 * (mat @ c.T)
                    + c_sq[None, :]
                )
                cell = d2.argmin(axis=1)
                best = d2[np.arange(len(cell)), cell]
                out = []
                for cl in np.unique(cell):
                    m = cell == cl
                    out.append(
                        {
                            "cell": int(cl),
                            "n": int(m.sum()),
                            "sums": mat[m].sum(axis=0).tolist(),
                            "inertia": float(best[m].sum()),
                        }
                    )
                yield pd.DataFrame(out)

        parts = corpus.select(
            F.col(vec_col).cast("array<double>").alias("__v")
        ).mapInPandas(
            part, "cell int, n long, sums array<double>, inertia double"
        )
        agg = (
            parts.select(
                "cell",
                "n",
                "inertia",
                F.posexplode("sums").alias("dim", "s"),
            )
            .groupBy("cell", "dim")
            .agg(
                F.sum("s").alias("s"),
                # n and inertia repeat per dim; divide back out later
                F.sum("n").alias("n"),
                F.sum("inertia").alias("i"),
            )
            .collect()
        )
        sums = np.zeros((k, d))
        counts = np.zeros(k)
        inertia = 0.0
        for r in agg:
            sums[r["cell"], r["dim"]] = r["s"]
            if r["dim"] == 0:
                counts[r["cell"]] = r["n"]
                inertia += r["i"]
        nz = counts > 0
        new = cents.copy()
        new[nz] = sums[nz] / counts[nz, None]
        cents = new
        inertias.append(inertia)
    return _centroid_frame(corpus.sparkSession, cents, id_col, vec_col), inertias
