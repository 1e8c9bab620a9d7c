"""BFS — Graph500 kernel 2 (top-down), reference
Applications/TopDownBFS.cpp:435-447.

Per superstep the reference runs
    fringe  = SpMV<Select2nd>(A, fringe, indexisvalue)
    fringe  = EWiseMult(fringe, parents, exclude=true)   # drop visited
    parents.Set(fringe)
which is ``operators.spmv.frontier_wave``: join the frontier onto the
cached ``simple_adjacency`` -> groupBy(dst) min parent -> anti-join
visited; the level is then unioned into the visited set. The frontier
is broadcast while ``broadcastable`` holds for its row count (the
driver-side analogue of the reference's adaptive SpMSpV path,
CC.h:1251-1294). ``_bfs`` keeps its own loop around the wave because it
alone picks a direction per level (DirOptBFS.cpp:376-443); every other
traversal runs ``frontier_closure``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from combblas_spark.graph import simple_adjacency, symmetrize
from combblas_spark.operators.spmv import frontier_wave
from combblas_spark.runtime.plans import broadcastable, observed_checkpoint


def _parent_agg(parent_rule: str, seed: str = "bfsrand"):
    """Aggregation picking the parent among a vertex's discovering
    frontier neighbors. 'min' is the deterministic min-id pick
    (Select2nd/min semiring); 'random' mirrors the reference's
    SelectRandSRing (RandomParentBFS.cpp:100-127: each candidate gets a
    random priority, min wins) with a SEEDED md5 priority instead of
    rand() — reproducible across runs/partitionings and expressible in
    the DuckDB oracle (same md5 idiom as MIS/matching). Both are single
    map-side-combinable aggregates."""
    if parent_rule == "random":
        pri = F.md5(F.concat_ws(":", F.lit(seed), F.col("dst"), F.col("src")))
        return F.min(F.struct(pri.alias("p"), F.col("src").alias("s")))["s"].alias("parent")
    return F.min("src").alias("parent")


def _bfs(edges: DataFrame, root: int, directed: bool, max_depth: int,
         want_parents: bool, direction_optimizing: bool = False,
         bottom_up_fraction: float = 0.05,
         parent_rule: str = "min") -> DataFrame:
    from combblas_spark.graph import vertices

    # src-partitioned: every level's frontier join on src reads the
    # cache shuffle-free
    adj = simple_adjacency(edges, "src", directed)
    spark = edges.sparkSession
    verts = None
    n = None
    if direction_optimizing:
        verts = vertices(edges).persist(StorageLevel.MEMORY_AND_DISK)
        n = verts.count()

    # visited: (id, level, parent)
    visited = spark.createDataFrame(
        [(root, 0, root)], "id long, level int, parent long").localCheckpoint(eager=True)
    frontier = visited.select("id")
    frontier_n = 1
    visited_n = 1

    level = 0
    while frontier_n > 0 and level < max_depth:
        level += 1
        bottom_up = (
            direction_optimizing
            and frontier_n > bottom_up_fraction * n
            and (n - visited_n) < frontier_n * 8
        )
        if bottom_up:
            # bottom-up step (DirOptBFS.cpp:376-443): work proportional
            # to the UNVISITED set's in-edges, not the frontier's
            # out-edges — filter edges by the (now smaller) unvisited dst
            # side first, then semi-check the src against the frontier.
            # Each side is broadcast only while it is broadcastable:
            # "smaller than 8x frontier" can still be hundreds of
            # millions of ids at web scale.
            unvisited = (
                verts.join(visited.select("id"), "id", "left_anti")
                .withColumnRenamed("id", "dst")
            )
            if broadcastable(n - visited_n):
                unvisited = F.broadcast(unvisited)
            f = F.broadcast(frontier) if broadcastable(frontier_n) else frontier
            nxt = (
                adj.join(unvisited, "dst")
                .join(f.withColumnRenamed("id", "src"), "src", "left_semi")
                .groupBy(F.col("dst").alias("id"))
                .agg(_parent_agg(parent_rule))
            )
        else:
            nxt = frontier_wave(adj, frontier, visited, [_parent_agg(parent_rule)],
                                broadcast=broadcastable(frontier_n),
                                broadcast_visited=broadcastable(visited_n))
        nxt, seen = observed_checkpoint(
            nxt.withColumn("level", F.lit(level)).select("id", "level", "parent"), level,
            [F.count(F.lit(1)).alias("n")])
        frontier_n = seen["n"]
        if frontier_n == 0:
            break
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        visited_n += frontier_n
        frontier = nxt.select("id")

    adj.unpersist()
    if verts is not None:
        verts.unpersist()
    if want_parents:
        return visited.select("id", "parent")
    if want_parents is None:
        return visited.select("id", "level", "parent")
    return visited.select("id", "level")


def bfs_levels(edges: DataFrame, root: int, directed: bool = False,
               max_depth: int = 1000,
               direction_optimizing: bool = False) -> DataFrame:
    """(id, level) for vertices reachable from root.

    direction_optimizing=True switches to a bottom-up step when the
    frontier is a large fraction of the graph and few vertices remain
    unvisited (DirOptBFS.cpp:376-443 heuristic) — identical results
    (min-id parents), different join order."""
    return _bfs(edges, root, directed, max_depth, False, direction_optimizing)


def bfs_parents(edges: DataFrame, root: int, directed: bool = False,
                max_depth: int = 1000, parent_rule: str = "min") -> DataFrame:
    """(id, parent) — the Graph500 parent tree (root's parent is itself,
    matching parents.Set semantics TopDownBFS.cpp:433).

    parent_rule='min': min-id predecessor at the discovering level.
    parent_rule='random': seeded-random predecessor — the reference's
    RandomParentBFS.cpp SelectRandSRing semiring (min over per-candidate
    random priorities), with md5-seeded priorities so the tree is
    reproducible and oracle-checkable. Either rule yields a valid
    kernel-2 tree (validate_bfs_tree passes); levels are identical."""
    return _bfs(edges, root, directed, max_depth, True, parent_rule=parent_rule)


def single_child_frontier(tree: DataFrame, root: int,
                          seed: str = "scbfs") -> DataFrame:
    """One chosen child per (level, parent) of a BFS tree — the
    ``fringe.Uniq(RandReduce<int64_t>())`` primitive SingleChildBFS.cpp
    :282 computes per superstep (one random representative child per
    parent in the new frontier). Derived from the finished tree: the
    children a parent discovered at level L are exactly the tree rows
    (parent=p, level=L), so the per-level Uniq is one groupBy with a
    seeded-md5 min pick — deterministic, partition-invariant, and an
    exact DuckDB twin. Returns (level, parent, child)."""
    c = tree.where(F.col("id") != root)
    pri = F.md5(F.concat_ws(":", F.lit(seed), F.col("parent"), F.col("id")))
    return (
        c.groupBy("level", "parent")
        .agg(F.min(F.struct(pri.alias("p"), F.col("id").alias("c")))["c"].alias("child"))
        .select("level", "parent", "child")
    )


def bfs_tree(edges: DataFrame, root: int, directed: bool = False,
             max_depth: int = 1000) -> DataFrame:
    """(id, level, parent) — full kernel-2 output, the input shape
    ``validate_bfs_tree`` checks."""
    return _bfs(edges, root, directed, max_depth, None)


def validate_bfs_tree(edges: DataFrame, tree: DataFrame, root: int,
                      directed: bool = False) -> dict:
    """Graph500 kernel-2 result validation, distributed.

    The official Graph500 harness validates every kernel-2 run before
    timing counts (spec §4.3; the reference instead prints the parent
    tree for offline diff, TopDownBFS.cpp:450-454 — this implements the
    actual spec rules as DataFrame checks so RMAT-scale runs validate
    in-engine, no collect of vertex data):

      r1_root      the root's row is (root, level 0, parent root)
      r2_unique    every vertex appears exactly once in the tree
      r3_tree_edge each non-root (parent(v), v) is an edge of the graph
      r4_level     level(v) == level(parent(v)) + 1 for every non-root
                   (monotone levels => the parent pointers are acyclic)
      r5_span      the tree spans exactly root's component: no graph
                   edge leads from a discovered vertex to an
                   undiscovered one

    Returns {"ok": bool, "violations": {rule: count}}. Each rule is one
    distributed count over vertex- or edge-sized joins — the same scale
    envelope as a BFS superstep, so validation works at any size the
    BFS itself works at.
    """
    adj = (edges.select("src", "dst") if directed
           else symmetrize(edges).select("src", "dst"))
    t = tree.select("id", "level", "parent").persist(StorageLevel.MEMORY_AND_DISK)
    nonroot = t.filter(F.col("id") != root)

    v = {}
    v["r1_root"] = int(t.filter(
        (F.col("id") == root) & (F.col("level") == 0) & (F.col("parent") == root)
    ).count() != 1)
    v["r2_unique"] = t.groupBy("id").count().filter(F.col("count") > 1).count()
    v["r3_tree_edge"] = (
        nonroot.select(F.col("parent").alias("src"), F.col("id").alias("dst"))
        .join(adj, ["src", "dst"], "left_anti")
        .count()
    )
    parent_level = t.select(F.col("id").alias("parent"), F.col("level").alias("_pl"))
    v["r4_level"] = (
        nonroot.join(parent_level, "parent", "left")
        .filter(F.col("_pl").isNull() | (F.col("level") != F.col("_pl") + 1))
        .count()
    )
    v["r5_span"] = (
        adj.join(t.select(F.col("id").alias("src")), "src", "left_semi")
        .join(t.select(F.col("id").alias("dst")), "dst", "left_anti")
        .count()
    )
    t.unpersist()
    return {"ok": all(c == 0 for c in v.values()), "violations": v}
