"""Closeness / harmonic centrality — batched multi-root BFS.

The distance-based centrality pair next to betweenness (same batched
level-synchronous forward pass as betweenness.py, minus path counts):
for each root r over directed distances d(r, v),

    harmonic(r)  = sum_{v reachable, v != r} 1 / d(r, v)
    closeness(r) = reached(r) / sum d(r, v)     (0 when nothing reached)

Harmonic is the variant that stays well-defined on disconnected
webgraphs (Boldi & Vigna 2014 recommend it for exactly that reason);
the closeness column uses the reached-count numerator so partial
reachability does not inflate scores.

Scale: the batch dimension is a key column — one join advances all
roots' waves (``multi_source_levels``: the ``frontier_closure`` keyed
by root that betweenness's forward pass also runs); the final score is
one groupBy(root) over the accumulated level table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from combblas_spark.graph import simple_adjacency, vertices
from combblas_spark.operators.spmv import frontier_closure


def multi_source_levels(
    edges: DataFrame,
    roots: list[int] | None = None,
    directed: bool = True,
    max_hops: int | None = None,
    prepped: DataFrame | None = None,
) -> DataFrame:
    """Batched multi-root BFS levels: one (root, id, level) row per
    (root, reached vertex) — the traversal shared by
    closeness_centrality and landmark_distances. All roots' waves ride
    one ``frontier_closure`` keyed by ``root`` (the same closure as
    betweenness's forward pass, minus path counts). roots=None starts a
    wave from every vertex. ``max_hops`` caps the depth (None = run to
    fixpoint); ``prepped`` reuses a ``simple_adjacency(edges, "src",
    directed)`` the caller already built (and owns)."""
    spark = edges.sparkSession
    e = prepped if prepped is not None else simple_adjacency(edges, "src", directed)

    if roots is None:
        fr0 = vertices(edges).select(F.col("id").alias("root"), F.col("id"))
    else:
        fr0 = spark.createDataFrame(
            [(int(r), int(r)) for r in roots], "root long, id long")

    levels, _ = frontier_closure(e, fr0, keys=["root"], max_depth=max_hops)
    if prepped is None:
        e.unpersist()
    return levels


def closeness_centrality(
    edges: DataFrame,
    roots: list[int] | None = None,
    directed: bool = True,
) -> DataFrame:
    """Returns (id, harmonic, closeness) for every root (roots=None ->
    every vertex; exact centrality)."""
    levels = multi_source_levels(edges, roots, directed)

    scores = (
        levels.groupBy("root")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("level") > 0, F.lit(1.0) / F.col("level"))),
                F.lit(0.0)).alias("harmonic"),
            F.sum("level").alias("_sumd"),
            F.count(F.when(F.col("level") > 0, F.lit(1))).alias("_reached"),
        )
        .select(
            F.col("root").alias("id"),
            "harmonic",
            F.when(F.col("_sumd") > 0,
                   F.col("_reached").cast("double") / F.col("_sumd"))
            .otherwise(F.lit(0.0)).alias("closeness"),
        )
    )
    # one row per COMPUTED root only: with a roots subset, zero-filling
    # the rest of the vertex set would make "never computed" look like a
    # real 0.0 score; an off-graph root still gets its (0, 0) row.
    # Every computed root has its own level-0 row, so the base set comes
    # straight from the levels table — no second vertices() job.
    base = (levels.where(F.col("level") == 0)
            .select(F.col("root").alias("id")).dropDuplicates(["id"]))
    out = base.join(scores, "id", "left").select(
        "id",
        F.coalesce("harmonic", F.lit(0.0)).alias("harmonic"),
        F.coalesce("closeness", F.lit(0.0)).alias("closeness"),
    )
    out = out.localCheckpoint(eager=True)
    return out


def diameter_double_sweep(edges: DataFrame) -> DataFrame:
    """Double-sweep diameter lower bound (Magnien, Latapy & Habib 2009):
    BFS from a fixed start (the minimum vertex id), then BFS again from
    the farthest vertex found (max level, min-id tie-break). Returns ONE
    row (root, far_id, ecc_root, diameter_lb) where diameter_lb is the
    second sweep's eccentricity — in practice within a few percent of
    the true undirected diameter at a cost of exactly 2 BFS runs
    (the exact diameter is all-pairs; the ANF/HyperBall sketches in
    anf.py give the effective-diameter ESTIMATE, this gives the exact
    LOWER BOUND — the standard companion pair).

    Scale shape: two level-synchronous BFS supersteps (the engine's
    existing bfs_levels loop — frontier-sized traffic per level) plus
    two 1-row driver reads (the start id and the farthest id — scalar
    convergence reads, the documented exception to no-collect).
    """
    from combblas_spark.algorithms.bfs import bfs_levels
    from combblas_spark.graph import vertices

    spark = edges.sparkSession
    v0 = vertices(edges).agg(F.min("id").alias("m")).collect()[0]["m"]
    if v0 is None:
        return spark.createDataFrame(
            [], "root long, far_id long, ecc_root long, diameter_lb long")
    l1 = bfs_levels(edges, int(v0), directed=False)
    far = (
        l1.orderBy(F.col("level").desc(), F.col("id").asc())
        .select("id", "level").limit(1).collect()[0]
    )
    l2 = bfs_levels(edges, int(far["id"]), directed=False)
    return (
        l2.agg(F.max("level").alias("diameter_lb"))
        .select(
            # explicit longs: F.lit(int) types by magnitude, and the
            # empty-input branch declares long — keep one schema
            F.lit(int(v0)).cast("long").alias("root"),
            F.lit(int(far["id"])).cast("long").alias("far_id"),
            F.lit(int(far["level"])).cast("long").alias("ecc_root"),
            F.col("diameter_lb").cast("long").alias("diameter_lb"),
        )
    )


def landmark_distances(
    edges: DataFrame,
    n_landmarks: int = 4,
    directed: bool = False,
    max_hops: int = 40,
) -> DataFrame:
    """Landmark distance sketch (Potamias et al. CIKM'09): BFS levels
    from the ``n_landmarks`` highest-degree vertices (degree-ranked
    selection is the paper's best practical heuristic; ties to the
    smaller id) — the precomputed table behind constant-time
    point-to-point distance ESTIMATION on web graphs, where exact
    all-pairs is out of the question. Returns (lm, id, dist) for every
    vertex reached from each landmark.

    Scale shape: landmark pick = TakeOrdered over the degree aggregate
    (n rows to the driver — the same sanctioned scalar read as BFS
    roots); then ONE batched multi-root BFS (all landmarks' waves ride
    the same join per depth — multi_source_levels, reusing the SAME
    prepped symmetric edge set the degree rank was computed from, so
    the edge dedup/symmetrize shuffle runs once). Sketch size is
    n_landmarks x |V| rows, the product you materialize and equi-join
    at query time. ``max_hops`` (default 40) bounds the wave depth —
    the DuckDB oracle twin's recursive CTE carries the same 40-hop cap
    (the module-wide recursive-BFS convention), so distances beyond it
    are absent from BOTH engines by contract.
    """
    if n_landmarks < 1:
        raise ValueError(
            f"landmark_distances: n_landmarks must be >= 1, got {n_landmarks}")
    # degree rank over the loop-free undirected view (self-loops never
    # affect BFS levels; simple_adjacency drops them)
    e = simple_adjacency(edges, "src", directed)
    deg_side = (
        e if not directed else
        e.unionByName(e.select(F.col("dst").alias("src"),
                               F.col("src").alias("dst"))).distinct()
    )
    deg = deg_side.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("c"))
    lms = [r["id"] for r in
           deg.orderBy(F.desc("c"), F.asc("id")).limit(n_landmarks).collect()]
    levels = multi_source_levels(edges, lms, directed=directed,
                                 max_hops=max_hops, prepped=e)
    e.unpersist()
    return levels.select(F.col("root").alias("lm"), "id",
                         F.col("level").cast("long").alias("dist"))


def landmark_estimate(sketch: DataFrame, max_id: int | None = None) -> DataFrame:
    """Point-to-point distance estimates from a landmark sketch:
    est(u, v) = min over landmarks (dist(u, lm) + dist(lm, v)) — an
    UPPER bound on the true distance (exact when a shortest path
    passes a landmark, or an endpoint is one). The bound REQUIRES an
    undirected sketch (``landmark_distances(directed=False)``, the
    default): a directed sketch's forward-BFS levels are d(lm, u),
    not the d(u, lm) the triangle inequality needs, so sums over a
    directed sketch are reachability-ordered estimates with no bound
    guarantee (ADVICE r4). ``max_id`` bounds the
    query set (id_a < id_b <= max_id) so the output is pair-sized, the
    caller's query-batch pattern. Returns (id_a, id_b, est).

    Scale shape: one self-equi-join of the (pre-filtered) sketch on
    the landmark key + a map-side-combinable min — never touches the
    graph again; that is the whole point of the sketch.
    """
    s = sketch if max_id is None else sketch.where(F.col("id") <= max_id)
    a = s.select("lm", F.col("id").alias("id_a"), F.col("dist").alias("_da"))
    b = s.select("lm", F.col("id").alias("id_b"), F.col("dist").alias("_db"))
    return (
        a.join(b, "lm")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.min(F.col("_da") + F.col("_db")).cast("long").alias("est"))
    )
