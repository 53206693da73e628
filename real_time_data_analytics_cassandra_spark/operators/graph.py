"""Connected components over a pair graph (iterative label
propagation).

The training-data use case: near-duplicate detection emits PAIRS
(dedup.py, similarity.py); deduplication needs CLUSTERS — the
connected components of the pair graph — so one canonical document
per component survives.

Spark-first: iterative min-label propagation expressed as DataFrame
joins/aggregations.  Each iteration is one shuffle (edges are
materialized bidirectionally, labels propagate across them, every
node keeps the min label seen); convergence is a driver-side scalar
check (count of changed labels — the only thing that ever reaches
the driver).  Iteration count is bounded by the graph diameter, and
near-dup components are tiny in practice (pathological chains are
bounded by ``max_iterations``).

At 100 TB: each iteration is a standard shuffle join on node id —
partition-parallel, AQE-sized.  Crucially the per-iteration label
frame is ``localCheckpoint``-ed, which TRUNCATES the
logical lineage: without it the plan doubles every iteration
(20 iterations → an unrolled ~200-exchange plan whose analysis cost
is quadratic in depth and which risks driver StackOverflow on deep
components).  With the checkpoint every iteration's plan is O(1) —
one join + one aggregate over two materialized inputs — so the loop
is genuinely O(iterations) at any scale.

Each iteration shape runs ONE way: the three PageRank forms differ
only in the edge weights and teleport flags they hand to
``_pagerank_rounds``, the one integer rank loop; ``bfs_hops`` and
``multi_source_bfs_hops`` differ only in the state keys they hand to
``_frontier_hops``, the one frontier loop.  Edge lists are normalized
one way each (``_undirected``: least/greatest, ``_bidirected``: both
orientations), and ``degrees`` is the one (id, deg) frame — the
co-purchase queries build theirs with it too.

Checkpoint EAGERNESS is per-loop, settled empirically in r12:

- Loops whose every round ends in a DRIVER PROBE (the convergence
  count/isEmpty in connected_components, star contraction, k_core,
  core_decomposition, ``_frontier_hops`` and ``bellman_ford_bounded``)
  use LAZY checkpoints (``eager=False``): the probe action
  materializes the round's frame anyway, so the eager form's
  dedicated materialization job per round was a pure extra barrier —
  r12 measured 20-45% wall-clock cuts from folding it into the probe,
  and Bellman-Ford's improved set, although it feeds both the next
  frontier and the settled table, is materialized by its own isEmpty
  probe before either reads it (copurchase_cheapest_paths: 40 -> 31
  jobs at sf0.001, 64 -> 50 at sf0.01).
- FIXED-ITERATION loops with no mid-loop action
  (``_pagerank_rounds``) and frames referenced from MULTIPLE branches
  of one final job (triangle orientation, CN adjacency) keep EAGER
  checkpoints: with a lazy leaf, sibling stages of the one big job
  each recompute the un-materialized subtree before the persist
  catches (r12 measured pagerank_weighted 3.7x SLOWER lazy), so the
  dedicated job is the cheaper trade there.
- The read-modify-write index operators (``cluster_index_append``)
  keep EAGER checkpoints for correctness, not speed: materialization
  must complete BEFORE the subsequent snapshot upsert rewrites what
  the plan reads.

On a real cluster with
long-running executors, swap ``localCheckpoint`` for
``df.checkpoint()`` against a reliable ``spark.sparkContext
.setCheckpointDir`` location to also survive executor loss.
(GraphFrames/Pregel would be the library route; the point here is
that plain DataFrame ops suffice.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _undirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """(a, b) with a < b: each undirected simple edge ONCE, whatever
    its input orientation — self-loops and duplicates dropped."""
    return (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _bidirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """(a, b): each undirected simple edge in BOTH orientations —
    self-loops and duplicates dropped."""
    return (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def degrees(edges: DataFrame, src: str = "u", dst: str = "v") -> DataFrame:
    """(id, deg bigint): the number of edge rows each vertex is an
    endpoint of — its degree when ``edges`` holds every undirected
    edge once, as :func:`_undirected` output and the co-purchase pair
    table do.  No dedup here: callers pass an edge SET."""
    return (
        edges.select(F.col(src).alias("id"))
        .unionAll(edges.select(F.col(dst).alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Component label (= min node id in the component) per node that
    appears in ``edges``.  Output: (id, component) — isolated nodes
    (absent from edges) are the caller's concern.
    """
    # Materialize the (stable) bidirectional edge list once and cut it
    # loose from the upstream pair-generation plan (which can itself be
    # a large LSH/minhash pipeline).
    bidir = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        bidir.select(F.col("u").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint(eager=False)
    )
    for _ in range(max_iterations):
        # neighbor labels: for each node u, the labels of its neighbors
        neighbor = (
            bidir.join(labels, bidir.v == labels.id)
            .select(F.col("u").alias("id"), "component")
        )
        # Lazy checkpoint: truncates lineage (the next iteration plans
        # against a leaf instead of the whole unrolled history) while
        # the convergence count below does the materializing.
        new_labels = (
            labels.unionByName(neighbor)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
            .localCheckpoint(eager=False)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


def pagerank(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    iterations: int = 4,
    unit: int = 10**9,
    damp_num: int = 85,
    damp_den: int = 100,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list, computed in
    INTEGER "micro-rank" units so the result is bit-exact and
    partitioning-order-invariant (floating-point summation order never
    enters the algorithm; BIGINT sums are exact in any order).

    Semantics (all integer arithmetic, reproducible in ANSI SQL):

    - every node that appears as a SOURCE gets initial rank ``unit``
      (callers wanting undirected semantics symmetrize first, which
      also guarantees outdeg >= 1 for every node);
    - per edge u->v, u contributes ``rank_u div outdeg_u`` (integer
      division, remainder deliberately dropped — deterministic);
    - ``rank'_v = (unit*(damp_den-damp_num)) div damp_den
      + (damp_num * sum(contribs)) div damp_den``;
    - exactly ``iterations`` rounds, no convergence test (a count()
      race between "close enough" thresholds would make the result
      depend on scheduling; a fixed depth keeps it a pure function
      of the input).

    Overflow: total rank mass stays <= N*unit, so the damped sum
    ``damp_num * s`` needs N*unit*damp_num < 2^63 — with the default
    unit=1e9 that allows ~1e8 nodes; drop ``unit`` to 1e6 for larger
    graphs (precision trades off against node count, explicitly).

    At 100 TB: each iteration is two hash-partitioned passes (join
    contributions on the source key, re-aggregate on the destination
    key) over a ``localCheckpoint``-materialized edge list; lineage is
    truncated per iteration exactly like :func:`connected_components`,
    so plan cost is O(1) per round and the loop is O(iterations).
    """
    ewd = _unit_weight_edges(edges, src, dst)
    return _pagerank_rounds(
        ewd, _every_source(ewd), iterations, unit, damp_num, damp_den
    )


def pagerank_weighted(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    weight: str = "w",
    iterations: int = 4,
    unit: int = 10**9,
    damp_num: int = 85,
    damp_den: int = 100,
) -> DataFrame:
    """WEIGHTED fixed-iteration PageRank: node u distributes its rank
    proportionally to positive integer edge weights instead of
    uniformly — the form link-strength ranking actually uses (a part
    co-purchased with another in 50 orders should pull more rank mass
    along that edge than along a one-order fluke).

    Same integer "micro-rank" model as :func:`pagerank` (BIGINT
    everywhere, no float summation order), with the per-edge
    contribution generalized to ``(rank_u * w_uv) div W_u`` where
    ``W_u = Σ_v w_uv`` is u's total out-weight (uniform weights
    reduce to the unweighted operator exactly when every w is 1).
    Weights must be POSITIVE BIGINTs, and the input must carry ONE
    row per directed edge — unlike :func:`pagerank` there is no
    ``distinct()`` here (deduping weighted rows would need a
    weight-combine rule the caller should choose), so duplicate
    (src, dst) rows would double-count their weight.  Callers
    wanting undirected semantics symmetrize first, which guarantees
    W_u >= 1 for every source.

    Overflow: the per-edge product ``rank_u * w_uv`` needs
    N·unit·max_w < 2^63 — with the default unit=1e9 that allows
    ~1e8 rank-mass units times the max edge weight; drop ``unit``
    when N·max_w approaches 1e9·1e9 (documented trade, same
    convention as :func:`pagerank`).

    At 100 TB: identical shape to the unweighted operator — the
    weighted edge list (with its out-weight) is localCheckpoint-
    materialized once, each iteration is two hash-partitioned passes
    with lineage truncated every second round, plan cost O(1) per
    round."""
    # (u, v, w, wout) in ONE pass: the out-weight is a sum window
    # over the same u-partitioning — no separate groupBy + join
    ewd = (
        edges.select(
            F.col(src).alias("u"),
            F.col(dst).alias("v"),
            F.col(weight).cast("long").alias("w"),
        )
        .withColumn(
            "wout", F.sum("w").over(Window.partitionBy("u")).cast("long")
        )
        .localCheckpoint(eager=True)
    )
    return _pagerank_rounds(
        ewd, _every_source(ewd), iterations, unit, damp_num, damp_den
    )


def pagerank_personalized(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "u",
    dst: str = "v",
    iterations: int = 4,
    unit: int = 10**9,
    damp_num: int = 85,
    damp_den: int = 100,
) -> DataFrame:
    """PERSONALIZED fixed-iteration PageRank: the teleport mass
    restarts at a SEED set instead of uniformly, so rank measures
    proximity TO THE SEEDS through the link structure — the
    related-items / recommendation form of the rank family (global
    PageRank answers "important overall"; this answers "important
    relative to here").

    Same integer "micro-rank" model as :func:`pagerank` (BIGINT
    everywhere, bit-exact in any engine, partitioning-invariant):

    - initial rank: ``unit`` for seeds, 0 elsewhere;
    - per edge u->v, u contributes ``rank_u div outdeg_u``;
    - ``rank'_v = teleport_v + (damp_num * sum(contribs)) div
      damp_den`` where ``teleport_v = (unit*(damp_den-damp_num)) div
      damp_den`` for seeds and 0 for every other node.

    Non-seed sinks leak mass exactly as in :func:`pagerank` (callers
    symmetrize for undirected semantics, which removes sinks); seeds
    must appear in the graph.  Overflow bound is the same
    N·unit·damp_num < 2^63 as the uniform operator.

    At 100 TB: identical shape to :func:`pagerank` — the seed flag
    rides the checkpointed node frame (one extra tiny column), each
    iteration is the same two hash-partitioned passes with lineage
    truncated every second round, O(1) plan per round."""
    ewd = _unit_weight_edges(edges, src, dst)
    seed_ids = seeds.select(
        F.col(seeds.columns[0]).alias("id"), F.lit(1).alias("is_seed")
    ).distinct()
    nodes = (
        ewd.select(F.col("u").alias("id"))
        .distinct()
        .join(seed_ids, "id", "left")
        .select("id", F.coalesce(F.col("is_seed"), F.lit(0)).alias("t"))
    )
    return _pagerank_rounds(ewd, nodes, iterations, unit, damp_num, damp_den)


def _unit_weight_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """(u, v, w ≡ 1, wout = outdeg) over the DISTINCT directed edges,
    checkpointed, in ONE pass: the out-degree is a count window over
    the same u-partitioning the distinct already produced — no
    separate groupBy + join, and only this frame materializes."""
    return (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .distinct()
        .withColumn("w", F.lit(1))
        .withColumn("wout", F.count(F.lit(1)).over(Window.partitionBy("u")))
        .localCheckpoint(eager=True)
    )


def _every_source(ewd: DataFrame) -> DataFrame:
    """(id, t ≡ 1): every edge source teleports — uniform PageRank's
    node frame."""
    return (
        ewd.select(F.col("u").alias("id")).distinct().withColumn("t", F.lit(1))
    )


def _pagerank_rounds(
    ewd: DataFrame,
    nodes: DataFrame,
    iterations: int,
    unit: int,
    damp_num: int,
    damp_den: int,
) -> DataFrame:
    """The integer rank loop every PageRank form runs: ``ewd`` is the
    checkpointed (u, v, w, wout) edge list and ``nodes`` the (id, t)
    node frame, t the 0/1 teleport flag.  Initial rank is ``t*unit``;
    per edge u->v, u contributes ``(r_u * w) div wout_u``; the update
    is ``t*base + (damp_num * coalesce(s, 0)) div damp_den`` with
    ``base = (unit*(damp_den-damp_num)) div damp_den``.  w ≡ 1 makes
    wout the out-degree (:func:`pagerank`), t ≡ 1 makes the teleport
    uniform — both reductions are exact.  Output: (id, rank_micro)."""
    base = (unit * (damp_den - damp_num)) // damp_den
    nodes = nodes.localCheckpoint(eager=True)
    ranks = nodes.select(
        "id", (F.col("t") * F.lit(unit)).cast("long").alias("r")
    )
    for i in range(iterations):
        contribs = (
            ewd.join(ranks, ewd.u == ranks.id)
            .select(
                F.col("v").alias("id"), F.expr("(r * w) div wout").alias("c")
            )
            .groupBy("id")
            .agg(F.sum("c").alias("s"))
        )
        ranks = nodes.join(contribs, "id", "left").select(
            "id",
            (
                (F.col("t") * F.lit(base)).cast("long")
                + F.expr(f"({damp_num} * coalesce(s, 0L)) div {damp_den}")
            ).alias("r"),
        )
        # checkpoint every SECOND round (and the last): lineage stays
        # bounded at <= 2 rounds of joins while paying half the
        # materialization cost — the checkpoint write, not the plan,
        # dominates each iteration once lineage is truncated
        if i % 2 == 1 or i == iterations - 1:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select("id", F.col("r").alias("rank_micro"))


def triangle_counts(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Exact per-vertex triangle counts over an UNDIRECTED simple
    graph given as (src, dst) pairs (either orientation; duplicates
    and self-loops are dropped).  Output: (id, deg, triangles) for
    every vertex incident to at least one edge.

    Degree-ordered orientation — the standard scale-safe exact
    formulation: each undirected edge is directed from its lower
    (degree, id) endpoint to its higher one; a triangle {u,v,w} then
    has exactly one vertex with both its triangle edges pointing
    outward, so counting, per oriented edge u→v, the size of
    out(u) ∩ out(v) finds every triangle exactly once.  The
    intersection runs on SORTED out-neighbor ARRAYS joined onto the
    edge list (codegen `array_intersect`), so no wedge row is ever
    materialized or shuffled — the naive wedge join ships
    Σ outdeg·(outdeg−1)/2 three-column rows through an exchange;
    this form ships each adjacency array once.

    Why this survives hubs at 100 TB: a celebrity vertex with degree
    d would generate d·(d−1)/2 wedges under naive neighbor-pairing;
    under degree orientation every out-degree is bounded by O(√m)
    (a vertex keeps an out-edge only toward HIGHER-degree neighbors,
    and at most 2√m vertices can have degree ≥ √m), so adjacency
    arrays stay O(√m) elements — a hub's full neighborhood never
    collects — and total intersection work is O(m^1.5) worst case
    instead of Σ d².  Both adjacency joins are equi-joins on the
    vertex key, hash-partitioned and AQE-sized.  The |V|-row degree
    table joins onto the edge list WITHOUT a broadcast hint: the
    degree table is derived from the (unbounded) input edge set, so
    a forced broadcast would OOM on a billion-vertex graph — AQE
    promotes the join to broadcast-hash at runtime when the built
    side measures small, and degrades to a shuffle join when it
    doesn't.

    Everything is exact integer arithmetic; the result is a pure
    function of the edge SET (orientation ties broken by id), so it
    is reproducible under any partitioning and ANSI-SQL expressible
    for oracle comparison.
    """
    e = _undirected(edges, src, dst)
    deg = degrees(e, "a", "b")
    # No broadcast hint: ``deg`` has one row per vertex of the INPUT
    # graph, so its size is unbounded.  AQE broadcasts it when its
    # runtime size is under the threshold and shuffles otherwise.
    ed = e.join(
        deg.select(F.col("id").alias("a"), F.col("deg").alias("deg_a")),
        "a",
    ).join(
        deg.select(F.col("id").alias("b"), F.col("deg").alias("deg_b")),
        "b",
    )
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = ed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("s"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("t"),
    ).localCheckpoint(eager=True)
    # sorted out-neighbor array per source vertex; O(√m) elements max
    adj = oriented.groupBy("s").agg(
        F.sort_array(F.collect_list("t")).alias("nbrs")
    )
    closed = (
        oriented.select(F.col("s").alias("eu"), F.col("t").alias("ev"))
        .join(
            adj.select(F.col("s").alias("eu"), F.col("nbrs").alias("nbrs_u")),
            "eu",
        )
        .join(
            adj.select(F.col("s").alias("ev"), F.col("nbrs").alias("nbrs_v")),
            "ev",
        )
        .select(
            "eu",
            "ev",
            F.array_intersect("nbrs_u", "nbrs_v").alias("wset"),
        )
        .withColumn("n", F.size("wset"))
        .filter(F.col("n") > 0)
    )
    # ONE pass over the per-edge intersections: each edge (u,v) with
    # |wset| closing vertices contributes |wset| triangles to u and
    # to v, and 1 to each w — exploded as (id, c) pairs so the
    # expensive join pipeline executes once, not three times
    contrib = F.concat(
        F.array(
            F.struct(F.col("eu").alias("id"), F.col("n").alias("c")),
            F.struct(F.col("ev").alias("id"), F.col("n").alias("c")),
        ),
        F.transform(
            "wset",
            lambda w: F.struct(w.alias("id"), F.lit(1).alias("c")),
        ),
    )
    per_vertex = (
        closed.select(F.explode(contrib).alias("kv"))
        .select("kv.id", "kv.c")
        .groupBy("id")
        .agg(F.sum("c").alias("triangles"))
    )
    # degrees for the OUTPUT come from the checkpointed oriented leaf
    # (deg(id) = occurrences of id as either endpoint — each edge is
    # stored once), not from `deg` above, whose lineage would re-run
    # the entire upstream edge build a second time
    deg_out = (
        oriented.select(F.explode(F.array("s", "t")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    return deg_out.join(per_vertex, "id", "left").select(
        "id",
        "deg",
        F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
    )


def common_neighbor_counts(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    hub_cap: int = 64,
) -> DataFrame:
    """Common-neighbor counts for every unordered vertex pair joined
    by at least one length-2 path — the classic LINK-PREDICTION
    score (Liben-Nowell & Kleinberg 2003): pairs with many shared
    neighbors but no edge are the edges most likely to appear next.
    Output: (u, v, cn) with u < v, INCLUDING pairs that are already
    edges (callers wanting candidates anti-join the edge list; the
    raw counts also feed Jaccard/Adamic-Adar style rescoring).

    Wedge centers are CAPPED at degree ≤ ``hub_cap``: a wedge
    through a center of degree d contributes C(d,2) pairs, so the
    exact all-centers count is Σ C(d,2) — quadratic in hub degree
    and a genuine 100 TB scale-killer on power-law graphs.  The cap
    is PART OF THE OPERATOR CONTRACT, not an approximation knob: a
    shared neighbor that half the graph touches carries no
    predictive signal (the same argument Adamic-Adar encodes by
    1/log(deg) down-weighting — here the weight just hits 0 at the
    cap), and with it total wedge work is ≤ C(hub_cap, 2) per
    center — LINEAR in vertices.  Both engines apply the identical
    cap, so results stay oracle-exact.

    Scale shape: one degree aggregate, one equi-self-join of the
    capped adjacency on the center key (hash join, AQE-sized; the
    per-center fan is ≤ hub_cap rows), one count aggregate keyed on
    the pair.  No broadcast hints: the adjacency is unbounded."""
    bidir = _bidirected(edges, src, dst)
    deg = bidir.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    adj = bidir.join(
        deg.filter(F.col("deg") <= hub_cap).select("a"), "a"
    ).localCheckpoint(eager=True)
    return (
        adj.select(F.col("a"), F.col("b").alias("u"))
        .join(adj.select(F.col("a"), F.col("b").alias("v")), "a")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("cn"))
    )


def bfs_hops(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "u",
    dst: str = "v",
    max_hops: int = 12,
) -> DataFrame:
    """Minimum HOP DISTANCE from a source vertex set, by synchronous
    frontier expansion bounded at ``max_hops`` — the reachability
    primitive behind "how far does this cluster/contamination spread"
    audits.  Output: (id, hops) for every vertex within ``max_hops``
    of a source (sources themselves at 0); vertices farther away are
    ABSENT (the bound is part of the contract, mirrored in oracles as
    a depth-limited recursion).

    ``sources`` is a 1-column DataFrame of vertex ids.

    Scale shape: FRONTIER-ONLY expansion — unweighted BFS discovers
    a vertex exactly at its minimum distance, so each round needs to
    join only LAST round's newly-discovered frontier against the
    edge list (one equi-join on the vertex key) and anti-join the
    settled set (one more vertex-keyed join), never re-relax the
    whole distance table the way label propagation must
    (:func:`connected_components` labels can improve late; hop
    counts cannot).  The frontier SHRINKS as the ball saturates, so
    per-round work tracks the wave, not the reached set;
    ``localCheckpoint`` keeps every round's plan O(1), and the
    frontier count (the loop's natural control variable) is the only
    driver-side state.  Cost: O(min(diameter, max_hops)) rounds of
    two frontier-sized hash joins."""
    frontier = sources.select(F.col(sources.columns[0]).alias("id")).distinct()
    return _frontier_hops(edges, src, dst, frontier, ["id"], max_hops)


def multi_source_bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "u",
    dst: str = "v",
    max_hops: int = 8,
) -> DataFrame:
    """PER-SEED minimum hop distances from a seed vertex set — the
    multi-source generalization of :func:`bfs_hops` that keeps the
    seed identity in the state, so s seeds cost ONE synchronized
    frontier loop instead of s sequential traversals (the joins carry
    (seed, id) composite keys; rounds stay O(min(diameter,
    max_hops))).  Output: (seed, id, hops) for every (seed, vertex)
    pair within ``max_hops`` (seeds at 0 from themselves); farther
    pairs are ABSENT — the bound is part of the contract, mirrored in
    oracles as a depth-limited recursive CTE over the seed set.

    This is the sampled-centrality primitive: harmonic/closeness
    centrality estimates need distances from a SAMPLE of sources
    (Eppstein & Wang 2004), and the sample rides one loop here.

    Scale shape: identical envelope to :func:`bfs_hops` — frontier-
    only expansion, two (seed, id)-keyed hash joins per round,
    ``localCheckpoint`` keeping every round's plan O(1); state is
    bounded by s x |reached ball|, and the frontier shrinks as each
    seed's ball saturates."""
    frontier = (
        seeds.select(F.col(seeds.columns[0]).alias("seed"))
        .distinct()
        .withColumn("id", F.col("seed"))
    )
    return _frontier_hops(edges, src, dst, frontier, ["seed", "id"], max_hops)


def _frontier_hops(
    edges: DataFrame,
    src: str,
    dst: str,
    frontier: DataFrame,
    keys: list[str],
    max_hops: int,
) -> DataFrame:
    """The synchronous frontier loop both BFS forms run over the
    undirected graph.  ``frontier`` is the hop-0 state keyed by
    ``keys`` (the vertex column ``id`` last; earlier keys, such as a
    seed, ride along unchanged).  Each round joins last round's
    frontier to the edges, anti-joins the settled (keys) set and stops
    when nothing new is reached or at ``max_hops``.  Output: keys +
    hops.  Every round ends in the ``isEmpty`` probe, so checkpoints
    are lazy."""
    bidir = _bidirected(edges, src, dst).localCheckpoint(eager=False)
    frontier = frontier.localCheckpoint(eager=False)
    dist = frontier.withColumn("hops", F.lit(0).cast("long"))
    for k in range(1, max_hops + 1):
        frontier = (
            bidir.join(frontier, bidir.a == frontier.id)
            .select(*keys[:-1], F.col("b").alias("id"))
            .distinct()
            .join(dist.select(*keys), keys, "left_anti")
            .localCheckpoint(eager=False)
        )
        if frontier.isEmpty():
            break
        dist = dist.unionByName(
            frontier.withColumn("hops", F.lit(k).cast("long"))
        ).localCheckpoint(eager=False)
    return dist


def bellman_ford_bounded(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "u",
    dst: str = "v",
    weight: str = "w",
    rounds: int = 6,
) -> DataFrame:
    """CHEAPEST WEIGHTED PATH within ``rounds`` edge relaxations from
    a source vertex set — synchronous bounded Bellman-Ford over the
    undirected graph, the weighted sibling of :func:`bfs_hops` (hop
    counts answer "how far"; this answers "how cheap", e.g. with
    inverse co-occurrence strength as the cost).  Output: (id, cost)
    where cost = the exact minimum total weight over paths of at most
    ``rounds`` edges (sources at 0); vertices unreachable within the
    bound are ABSENT.  The bound is part of the CONTRACT (mirrored in
    oracles as the same number of unrolled relaxation rounds), which
    is what makes the result well-defined without global convergence
    detection.  Weights must be non-negative integers (exact
    arithmetic in any engine).

    Scale shape: LABEL-CORRECTING frontier form — round t only
    relaxes vertices whose distance improved in round t-1 (a vertex
    whose label did not change cannot produce a better offer than it
    already did), so per-round work is two frontier-sized hash
    equi-joins (offers = frontier x incident edges, then a min-merge
    against the settled table), exactly the
    :func:`bfs_hops` envelope with a min-combining update instead of
    an anti-join.  This is synchronous Bellman-Ford, so after round t
    the table holds the true min over <= t-edge paths — frontier
    pruning changes the work, never the labels.  ``localCheckpoint``
    keeps every round's plan O(1); the only driver-side state is the
    frontier-empty flag."""
    bidir = (
        edges.select(
            F.col(src).alias("a"),
            F.col(dst).alias("b"),
            F.col(weight).cast("long").alias("w"),
        )
        .union(
            edges.select(
                F.col(dst).alias("a"),
                F.col(src).alias("b"),
                F.col(weight).cast("long").alias("w"),
            )
        )
        .filter(F.col("a") != F.col("b"))
        # parallel edges keep only the cheapest — same relaxed result
        .groupBy("a", "b")
        .agg(F.min("w").alias("w"))
        .localCheckpoint(eager=False)
    )
    src_col = sources.columns[0]
    dist = (
        sources.select(F.col(src_col).alias("id"))
        .distinct()
        .withColumn("cost", F.lit(0).cast("long"))
        .localCheckpoint(eager=False)
    )
    frontier = dist
    for _ in range(rounds):
        offers = (
            bidir.join(frontier, bidir.a == frontier.id)
            .select(
                F.col("b").alias("id"),
                (F.col("cost") + F.col("w")).alias("cost"),
            )
            .groupBy("id")
            .agg(F.min("cost").alias("cost"))
        )
        improved = (
            offers.join(
                dist.select("id", F.col("cost").alias("old_cost")),
                "id",
                "left",
            )
            .filter(
                F.col("old_cost").isNull()
                | (F.col("cost") < F.col("old_cost"))
            )
            .select("id", "cost")
            .localCheckpoint(eager=False)
        )
        if improved.isEmpty():
            break
        dist = (
            dist.join(improved.select("id"), "id", "left_anti")
            .unionByName(improved)
            .localCheckpoint(eager=False)
        )
        frontier = improved
    return dist.select("id", F.col("cost").cast("long").alias("cost"))


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "u",
    dst: str = "v",
    max_rounds: int = 16,
) -> DataFrame:
    """Exact K-CORE of an undirected simple graph: the maximal
    subgraph where every vertex has degree >= k, by iterative peeling
    (drop all vertices with degree < k, recompute, repeat to
    fixpoint).  Output: (id, core_deg) for every surviving vertex,
    core_deg = its degree INSIDE the core.

    Each round is one degree aggregation plus two anti-joins that
    delete edges touching peeled vertices — all hash equi-joins on
    the vertex key, no forced broadcasts (the peel set derives from
    the unbounded input; AQE broadcasts it when its runtime size is
    small).  ``localCheckpoint`` truncates lineage per round like the
    other iterative operators here.  Peeling converges in at most
    |V| rounds but in practice a handful; like
    :func:`connected_components_star`, round-budget exhaustion RAISES
    instead of returning a wrong (unconverged) subgraph.

    Oracle-compatible by construction: a fixed-depth unrolled SQL
    peel with AT LEAST as many rounds reaches the identical fixpoint,
    because extra rounds after convergence are no-ops (the edge set
    is unchanged once every degree >= k).  ``max_rounds`` counts
    PEELS, and the degree check runs once more after the final peel,
    so a graph needing exactly ``max_rounds`` peels converges (an
    unrolled oracle with N rounds pairs with ``max_rounds=N``)."""
    e = _undirected(edges, src, dst).localCheckpoint(eager=False)
    peels = 0
    while True:
        deg = degrees(e, "a", "b").localCheckpoint(eager=False)
        bad = deg.filter(F.col("deg") < k)
        if bad.isEmpty():
            return deg.select("id", F.col("deg").cast("long").alias("core_deg"))
        if peels >= max_rounds:
            raise RuntimeError(
                f"k_core: peeling did not reach a fixpoint within "
                f"max_rounds={max_rounds} peels; raise max_rounds (an "
                "unrolled oracle must cover at least as many rounds)."
            )
        peels += 1
        e = (
            e.join(bad.select(F.col("id").alias("a")), "a", "left_anti")
            .join(bad.select(F.col("id").alias("b")), "b", "left_anti")
            .select("a", "b")
            .localCheckpoint(eager=False)
        )


def core_decomposition(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    max_rounds: int = 64,
) -> DataFrame:
    """FULL core decomposition of an undirected simple graph: every
    vertex's CORENESS — the maximum k such that the vertex belongs to
    the k-core.  Output: (id, coreness) for every vertex with at
    least one edge.  Coreness is the density-tier primitive of
    LLM-graph dedup (how deeply embedded a document is in its
    near-dup neighborhood) where :func:`k_core` answers only a single
    membership question.

    Algorithm: the distributed H-INDEX ITERATION (Lü et al., "The
    H-index of a network node and its relation to degree and
    coreness", Nat. Commun. 2016; Montresor et al., "Distributed
    k-core decomposition", IEEE TPDS 2013 for the message-passing
    frame): labels start at degree; each SYNCHRONOUS round every
    vertex replaces its label with the h-index of its neighbors'
    labels (the largest h with >= h neighbors labelled >= h).  The
    sequence is monotone non-increasing, lower-bounded by coreness,
    and its fixpoint IS the coreness vector — peeling level-by-level
    would need max-coreness rounds (82 on the sf0.01 co-purchase
    graph), while the h-index iteration converges in ~log-ish
    practical rounds (19 there).

    Spark shape per round: one hash join (directed edges x labels,
    shuffle on the neighbor key), one PARTITIONED rank window (per
    vertex — never global), one aggregate; ``localCheckpoint``
    truncates lineage so the plan stays O(1) per round.  Convergence
    is an EXACT no-change check: labels are integers that never
    increase, so a round whose label sum equals the previous round's
    changed no label; one aggregate per round, no join.  Round-budget
    exhaustion RAISES like the other iterative operators here.

    Oracle-compatible by construction: the synchronous update makes
    every intermediate round reproducible in unrolled SQL, and
    post-fixpoint rounds are no-ops, so an oracle unrolled to AT
    LEAST the convergence depth matches bit-for-bit."""
    e = _undirected(edges, src, dst)
    dir_e = (
        e.select(F.col("a").alias("id"), F.col("b").alias("nb"))
        .unionAll(e.select(F.col("b").alias("id"), F.col("a").alias("nb")))
        .localCheckpoint(eager=False)
    )
    labels = (
        dir_e.groupBy("id")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    w = Window.partitionBy("id").orderBy(F.desc("c"))

    def label_sum(df: DataFrame):
        return df.agg(F.sum("c")).first()[0]

    total = label_sum(labels)
    for _ in range(max_rounds):
        nb = dir_e.join(
            labels.select(F.col("id").alias("nb"), "c"), "nb"
        ).select("id", "c")
        new_labels = (
            nb.withColumn("rn", F.row_number().over(w).cast("long"))
            .groupBy("id")
            .agg(F.max(F.least(F.col("c"), F.col("rn"))).alias("c"))
            .localCheckpoint(eager=False)
        )
        # integer labels never increase, so an unchanged sum is exactly
        # "no label changed"
        new_total = label_sum(new_labels)
        if new_total == total:
            return new_labels.select(
                "id", F.col("c").cast("long").alias("coreness")
            )
        labels, total = new_labels, new_total
    raise RuntimeError(
        f"core_decomposition: h-index iteration did not reach a "
        f"fixpoint within max_rounds={max_rounds}; raise max_rounds "
        "(an unrolled oracle must cover at least as many rounds)."
    )


def dedup_clusters(
    pairs: DataFrame,
    all_docs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Full dedup verdict per document: its component (cluster) label
    and whether it is the cluster's canonical survivor (min id).
    Documents with no near-dup pair are their own singleton cluster."""
    comp = connected_components(pairs, src, dst)
    return (
        all_docs.select(F.col(id_col).alias("id"))
        .join(comp, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("component", F.col("id")).alias("cluster_id"),
        )
        .withColumn("is_canonical", (F.col(id_col) == F.col("cluster_id")))
    )


def connected_components_star(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_rounds: int = 30,
) -> DataFrame:
    """Connected components by ALTERNATING STAR CONTRACTION
    (large-star / small-star, Kiveris et al., "Connected Components
    in MapReduce and Beyond", SoCC'14) — the O(log n)-round
    counterpart to :func:`connected_components`'s min-label
    propagation, whose round count is the graph DIAMETER.  Near-dup
    clusters are shallow, so label propagation wins there; span/chain
    graphs (overlap chains, sessions, co-purchase paths) can have
    diameter in the thousands, where a per-round shuffle each hop is
    the scale-killer.  Star contraction converges in O(log n) rounds
    on ANY topology:

    - large-star: each node u links every STRICTLY-LARGER neighbor to
      m = min(neighbors(u) ∪ {u});
    - small-star: orient edges to the larger endpoint, then each node
      u links its smaller-or-equal neighbors (and itself) to m.

    Both steps preserve connectivity exactly (each replaces edges
    within one node's neighborhood by a path through its minimum) and
    monotonically pull components into stars rooted at their minimum
    id; convergence = the small-star pass is a fixpoint (edge set
    unchanged — checked EXACTLY with an anti-join, not a fingerprint).

    Every round is two hash-shuffled aggregations over the current
    edge set (which only shrinks), with ``localCheckpoint`` lineage
    truncation exactly like the other iterative operators here.
    Output: (id, component) for every node incident to an edge,
    component = min node id — identical contract (and output) to
    :func:`connected_components`; randomized equivalence is asserted
    in tests/test_properties.py, including chains far deeper than
    label propagation's round budget.
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    converged = False
    for _ in range(max_rounds):
        # -- large-star: for each u, m = min(N(u) ∪ {u}); emit (v, m)
        #    for every neighbor v > u
        sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        ls = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        # -- small-star: orient toward the larger endpoint (v <= u),
        #    m = min(N(u)); emit (x, m) for x in N(u) ∪ {u} \ {m}
        ori = ls.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        smins = ori.groupBy("u").agg(F.min("v").alias("m"))
        ss = (
            ori.join(smins, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(smins.select(F.col("u"), F.col("m").alias("v")))
            .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        # fixpoint: the canonically-oriented edge set did not change
        same_size = ss.count() == e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct().count()
        if same_size:
            prev = e.select(
                F.greatest("u", "v").alias("a"), F.least("u", "v").alias("b")
            ).distinct()
            new_edges = ss.join(
                prev,
                (ss.u == prev.a) & (ss.v == prev.b),
                "left_anti",
            ).count()
            if new_edges == 0:
                e = ss
                converged = True
                break
        e = ss
    if not converged:
        # Returning the unconverged edge set would yield WRONG labels
        # that cluster_index_build/append then persist — fail loudly.
        raise RuntimeError(
            "connected_components_star: small-star fixpoint not "
            f"reached within max_rounds={max_rounds}; component "
            "diameter exceeds the round budget — raise max_rounds "
            "(rounds needed is O(log n))."
        )
    # converged stars: (child u, root v) with v = component min; roots
    # appear as v — union both sides for the full node set
    return (
        e.select(F.col("u").alias("id"), F.col("v").alias("component"))
        .unionByName(
            e.select(F.col("v").alias("id"), F.col("v").alias("component"))
        )
        .distinct()
    )


def cluster_index_build(
    spark,
    pairs: DataFrame,
    path: str,
    src: str = "id_a",
    dst: str = "id_b",
) -> int:
    """Materialize connected components as a SNAPSHOT-versioned
    cluster index (id, component) — the persisted half of incremental
    dedup clustering.  Labels come from
    :func:`connected_components_star`; storage is
    sinks/snapshots.py's manifest log, so later appends are atomic
    merge-on-read commits that never rewrite existing files."""
    from real_time_data_analytics_cassandra_spark.sinks.snapshots import (
        write_snapshot,
    )

    comp = connected_components_star(pairs, src, dst)
    return write_snapshot(comp, path, mode="overwrite", stats_cols=("id",))


def cluster_index_append(
    spark,
    path: str,
    new_pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> int:
    """Fold a BATCH of new near-dup pairs into the persisted cluster
    index without recomputing the corpus graph — the cluster-level
    analog of the incremental BM25/ANN/span-dedup appends: a new
    crawl slice's pairs arrive, clusters they touch merge, everything
    else is untouched.

    Mechanics (exact, not heuristic):

    1. TOUCHED nodes = the batch pairs' endpoints; their current
       labels come from one scan of the index with the (small) batch
       node set broadcast into the scan-stage semi-join — the index
       never shuffles.  (At 100 TB, hash-bucket the index on id so
       this read is partition-pruned; the write side below is already
       O(affected).)
    2. LOCAL contraction: star contraction runs on the batch pairs
       UNION (node -> current label) edges.  A component's stored
       label is itself a member node, so connecting each touched node
       to its label makes label-level merges visible to the local
       graph — the contraction never needs the untouched members.
    3. RELABEL cascade: any stored label L whose local component got
       a smaller root renames; members of L (read with a scan-stage
       IN filter on the changed labels only) are remapped through a
       broadcast (old -> new) table — O(members of merged
       components), never O(corpus).
    4. One atomic MOR upsert commits touched nodes + cascaded members
       (tombstone + append in a single manifest version; no data file
       is rewritten).

    Replaying a completed batch recomputes the identical labels (the
    lookup now returns post-merge labels, whose local contraction is
    a fixpoint), so replays are CONTENT-idempotent: a new version
    commits, but every (id, component) row is unchanged —
    tested in tests/test_graph.py."""
    from real_time_data_analytics_cassandra_spark.sinks.snapshots import (
        read_snapshot,
        upsert_into_snapshot,
    )

    batch = (
        new_pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        batch.select(F.col("u").alias("id"))
        .union(batch.select(F.col("v").alias("id")))
        .distinct()
    )
    index = read_snapshot(spark, path)
    # scan-stage broadcast semi-join: the index is filtered where it
    # is read; only the <=|batch nodes| matching rows leave the scan
    known = index.join(F.broadcast(nodes), "id", "left_semi").localCheckpoint(
        eager=True
    )
    local_edges = batch.unionByName(
        known.select(F.col("id").alias("u"), F.col("component").alias("v"))
    )
    local = connected_components_star(local_edges, "u", "v").localCheckpoint(
        eager=True
    )
    # stored labels whose local root changed -> cascade remap
    remap = (
        known.select(F.col("component").alias("id"))
        .distinct()
        .join(local, "id")
        .filter(F.col("id") != F.col("component"))
        .select(
            F.col("id").alias("old_label"), F.col("component").alias("new_label")
        )
        .localCheckpoint(eager=True)
    )
    old_labels = [r.old_label for r in remap.select("old_label").collect()]
    changed = local.select("id", "component")
    if old_labels:
        members = (
            index.filter(F.col("component").isin(old_labels))
            .join(
                F.broadcast(remap),
                index.component == F.col("old_label"),
            )
            .select("id", F.col("new_label").alias("component"))
        )
        changed = changed.unionByName(members)
    # last-writer-wins inside the batch: cascaded members that are
    # ALSO touched nodes already carry the local label — identical by
    # construction; distinct collapses them
    return upsert_into_snapshot(
        spark, changed.distinct(), path, "id", stats_cols=("id",)
    )
