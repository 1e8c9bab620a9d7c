"""SpMV — sparse matrix x (sparse|dense) vector over a semiring.

Reference: ``SpMV`` dense (ParFriends.h:2380-2455) and sparse/SpMSpV
(ParFriends.h:2180-2336), plus the ``indexisvalue`` boolean optimization
(ParFriends.h:2362-2374). The reference's comm pattern
(TransposeVector -> AllGatherVector -> LocalSpMV -> Alltoallv ->
MergeContributions) collapses in Spark to ONE join + ONE groupBy.agg:

    y(i) = ADD_j  MULT( A(i,j), x(j) )

With edges stored as rows ``(src, dst, val)`` where ``val = A[src][dst]``:

* ``spmv(edges, x)``                 computes message-passing along edge
  direction: y(dst) = ADD over in-edges MULT(val, x(src))  —  y = A^T x.
  This is the orientation every graph algorithm here uses (rank/label/
  parent flows src -> dst).
* ``spmv(edges, x, transpose=True)`` computes y = A x (gather from dst).

The frontier/vector side is broadcast when small (the analogue of the
reference's adaptive AllGather-vs-Alltoall choice, FastSV.h:252-333 and
CC.h:1251-1294); otherwise it is a shuffle join that AQE plans.

``spmv_step`` is the per-superstep vector exchange of the power-iteration
loops (pagerank, katz, fastrp, ANF, ...): the regime choice and the
stitch rule live there, not in each loop. ``spmv_agg`` and ``stitch``
are its two halves for loops that need only one of them.

``frontier_wave`` is one level of the BFS family's traversal (the
masked SpMSpV of TopDownBFS.cpp:435-447, keyed by a batch column for
the batched waves of BetwCent.cpp:155-218), and ``frontier_closure``
the level-synchronous loop around it: the frontier regime choice, the
per-level checkpoint and the stop rule live there, not in each
traversal.

``local_extrema`` is one Luby round of the greedy-selection loops (mis,
jp_coloring, min_degree_ordering): the Select2ndMin SpMV over random
priorities plus the EWise compare of Applications/FilteredMIS.cpp.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from combblas_spark.operators.semiring import Semiring, PLUS_TIMES
from combblas_spark.runtime.plans import broadcastable, observed_checkpoint, small_vector


def spmv(
    edges: DataFrame,
    x: DataFrame,
    sr: Semiring = PLUS_TIMES,
    transpose: bool = False,
    broadcast_vector: bool = False,
    index_is_value: bool = False,
) -> DataFrame:
    """y = A^T x (default) or A x (transpose=True) over semiring ``sr``.

    edges: (src long, dst long[, val])  —  missing val treated as 1.0
           (boolean matrix, value elision per ParFriends.h:2362-2374).
    x:     (id long, val)               —  sparse or dense vector rows.
    index_is_value: ignore x.val and use x.id as the multiplied value
           (BFS parent trick, "indexisvalue").
    broadcast_vector: hint a broadcast of x. Without the hint the
           planner still broadcasts x when its size estimate is under
           ``spark.sql.autoBroadcastJoinThreshold``.

    Returns (id, val) with one row per output coordinate that received
    at least one contribution (sparse output, like SpMSpV).
    """
    join_col, out_col = ("dst", "src") if transpose else ("src", "dst")
    x_val = F.col("id").cast("double") if index_is_value else F.col("val")
    a_val = F.col("val") if "val" in edges.columns else F.lit(1.0)
    return spmv_agg(edges, x.select("id", x_val.alias("_x")),
                    [sr.add(sr.mult(a_val, F.col("_x"))).alias("val")],
                    broadcast_vector, on=join_col, out=out_col)


def spmv_agg(edges: DataFrame, x: DataFrame, aggs: list[Column], broadcast: bool,
             on: str = "src", out: str = "dst", keys: list[str] = ()) -> DataFrame:
    """Join-aggregate half of a superstep: join the vertex vector ``x``
    (``id`` plus value columns) onto ``edges[on]`` and aggregate ``aggs``
    grouped by ``keys`` and ``edges[out]``, returned as ``id``. The
    defaults move values along edge direction (y = A^T x);
    ``on="dst", out="src"`` gathers the other way (y = A x). ``keys``
    are batch columns of ``x`` (a BFS root, an SCC colour): one join
    advances every batch member at once. Empty ``aggs`` returns the
    distinct (keys, id) pairs reached. ``broadcast`` is the superstep
    regime: the vector is broadcast into the join (AllGather), else it
    meets the edges by shuffle (Alltoall). Over edges cached
    hash-partitioned by ``out`` the broadcast regime moves no edges."""
    xv = x.withColumnRenamed("id", on)
    joined = edges.join(F.broadcast(xv) if broadcast else xv, on)
    if not aggs:  # GroupedData.agg() rejects an empty list
        return joined.select(*keys, F.col(out).alias("id")).distinct()
    return joined.groupBy(*keys, F.col(out).alias("id")).agg(*aggs)


def stitch(state: DataFrame, inflow: DataFrame, n: int, broadcast: bool) -> DataFrame:
    """Left-join a vertex-sized ``inflow`` (keyed ``id``) onto the
    ``n``-row ``state``. The inflow is broadcast only when the vector was
    broadcast into the edge join (``broadcast``) and ``small_vector(n)``
    holds; otherwise it is a shuffle join by id. The inflow arrives
    hash-partitioned by id, so a state that keeps that layout takes it
    without an exchange. A state from ``superstep_checkpoint`` does not
    keep it on Spark 4.1 (``localCheckpoint`` reports
    UnknownPartitioning, ROADMAP open item 5), so the loops exchange
    their state by id here today."""
    return state.join(F.broadcast(inflow) if broadcast and small_vector(n) else inflow,
                      "id", "left")


def spmv_step(edges: DataFrame, x: DataFrame, aggs: list[Column], state: DataFrame,
              n: int, broadcast: bool) -> DataFrame:
    """One superstep's vector exchange: ``spmv_agg`` of ``x`` along
    ``edges`` (joined by src, aggregated by dst), stitched onto the
    ``n``-row ``state``. Returns the state's columns plus the ``aggs``
    columns, NULL where no edge delivered a value."""
    return stitch(state, spmv_agg(edges, x, aggs, broadcast), n, broadcast)


def frontier_wave(adj: DataFrame, frontier: DataFrame, visited: DataFrame,
                  aggs: list[Column], keys: list[str] = (), broadcast: bool = False,
                  on: str = "src", out: str = "dst",
                  within: DataFrame | None = None,
                  broadcast_visited: bool = False) -> DataFrame:
    """One level of a traversal: ``fringe = SpMV(A, fringe)`` then
    ``EWiseMult(fringe, visited, exclude=true)`` (TopDownBFS.cpp:435-447).
    ``spmv_agg`` moves the ``frontier`` (keys, id, value columns) along
    ``adj`` and aggregates ``aggs`` per (keys, id); a ``within`` frame
    (keys, id) then keeps only the pairs it holds (SCC's same-colour
    rule), and the (keys, id) pairs of ``visited`` are dropped, by a
    broadcast anti-join when ``broadcast_visited`` (a checkpointed
    visited set carries no size estimate the planner would broadcast
    by), else by a shuffle one."""
    by = [*keys, "id"]
    nxt = spmv_agg(adj, frontier, aggs, broadcast, on, out, keys)
    if within is not None:
        nxt = nxt.join(within.select(*by), by, "left_semi")
    seen = visited.select(*by)
    return nxt.join(F.broadcast(seen) if broadcast_visited else seen, by, "left_anti")


def frontier_closure(adj: DataFrame, start: DataFrame, aggs: list[Column] = (),
                     keys: list[str] = (), on: str = "src", out: str = "dst",
                     within: DataFrame | None = None,
                     max_depth: int | None = None) -> tuple[DataFrame, int]:
    """Level-synchronous closure from ``start`` (keys, id, value
    columns): ``frontier_wave`` per level until a wave is empty or
    ``max_depth`` levels ran. Returns (visited, depth): ``visited`` is
    every reached (keys, id) with its value columns and a ``level``
    column (``start`` at 0), ``depth`` the number of non-empty waves.

    Each level broadcasts the frontier and the visited set while
    ``broadcastable`` holds for their row counts, and reads the level's
    count on its own checkpoint job (``observed_checkpoint``): no
    separate count or emptiness job."""
    visited, seen = observed_checkpoint(start.withColumn("level", F.lit(0)), 0,
                                        [F.count(F.lit(1)).alias("n")])
    frontier, depth = visited, 0
    n = n_visited = seen["n"]
    while max_depth is None or depth < max_depth:
        nxt, seen = observed_checkpoint(
            frontier_wave(adj, frontier, visited, aggs, keys, broadcastable(n), on, out,
                          within, broadcastable(n_visited))
            .withColumn("level", F.lit(depth + 1)), depth + 1, [F.count(F.lit(1)).alias("n")])
        n = seen["n"]
        if n == 0:
            break
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        n_visited += n
        frontier = nxt
        depth += 1
    return visited, depth


def local_extrema(adj: DataFrame, cand: DataFrame, n: int, better: str = "min") -> DataFrame:
    """One Luby round: the ``id``s of the ``n``-row candidate vector
    ``cand`` (``id``, ``p``) whose priority ``p`` strictly beats (is
    below for ``better="min"``, above for ``"max"``) the ``p`` of every
    neighbour along ``adj`` that is also a candidate. A candidate with no
    candidate neighbour wins. The neighbour extremum is ``spmv_agg`` of
    ``cand`` in the ``broadcastable(n)`` regime. It holds a row per
    neighbour of a candidate, so it is first joined to ``cand`` in the
    same regime: only the candidates that lose reach the ``stitch``, at
    most ``n`` rows, the count its broadcast gate reads."""
    agg, beats = (F.min, Column.__lt__) if better == "min" else (F.max, Column.__gt__)
    bc = broadcastable(n)
    cand = cand.select("id", "p")
    nbr = spmv_agg(adj, cand, [agg("p").alias("_nbr")], bc)
    xv = cand.withColumnRenamed("id", "src")
    lost = (nbr.join(F.broadcast(xv) if bc else xv, F.col("id") == F.col("src"))
            .filter(~beats(F.col("p"), F.col("_nbr")))
            .select("id", F.lit(True).alias("_lost")))
    return stitch(cand, lost, n, bc).filter(F.col("_lost").isNull()).select("id")


def salted_spmv(
    edges: DataFrame,
    x: DataFrame,
    sr: Semiring = PLUS_TIMES,
    degree_threshold: int = 100_000,
    n_salts: int = 32,
    transpose: bool = False,
) -> DataFrame:
    """Shuffle-join SpMV with salted repartitioning of heavy-hitter
    vertices (north rule: power-law hubs).

    In the shuffle-join regime (vector too big to broadcast), every edge
    of a join-key vertex lands in ONE reducer partition, so a hub with
    10^8 out-edges serializes. The reference randomly permutes vertex
    ids for the same reason (CC.cpp:161-171; TopDownBFS.cpp:344) — that
    balances *storage* but cannot split a single hub. Here: edges whose
    join-key degree exceeds ``degree_threshold`` get a salt
    ``hash(other-end) % n_salts`` appended to the join key, and the
    vector rows for those hubs are replicated once per salt (a small
    broadcastable table: #heavy * n_salts rows), so the hub's edges
    spread over ``n_salts`` reducers. Results are IDENTICAL to spmv()
    (verified in tests on the power_law_hub fixture): the post-join
    groupBy re-merges contributions with the semiring add, which is
    associative+commutative by definition.

    This mirrors AQE's skew-join splitting but works on the *cached
    pre-partitioned* edge table inside iterative loops, where AQE's
    runtime re-split would re-shuffle every superstep.
    """
    join_col, out_col = ("dst", "src") if transpose else ("src", "dst")

    deg = edges.groupBy(join_col).agg(F.count(F.lit(1)).alias("_deg"))
    heavy = deg.filter(F.col("_deg") > degree_threshold).select(join_col)

    e = edges.join(F.broadcast(heavy.withColumn("_h", F.lit(True))), join_col, "left")
    e = e.withColumn(
        "_salt",
        F.when(F.col("_h"), F.pmod(F.xxhash64(F.col(out_col)), F.lit(n_salts)))
        .otherwise(F.lit(0)),
    ).drop("_h")

    # replicate vector rows of heavy ids across all salts
    x_heavy = (
        x.join(F.broadcast(heavy.withColumnRenamed(join_col, "id")), "id", "left_semi")
        .crossJoin(F.broadcast(
            x.sparkSession.range(n_salts).select(F.col("id").alias("_salt"))))
    )
    x_light = (
        x.join(F.broadcast(heavy.withColumnRenamed(join_col, "id")), "id", "left_anti")
        .withColumn("_salt", F.lit(0))
    )
    xs = x_heavy.unionByName(x_light)

    a_val = F.col("e.val") if "val" in edges.columns else F.lit(1.0)
    joined = e.alias("e").join(
        xs.alias("x"),
        (F.col(f"e.{join_col}") == F.col("x.id")) & (F.col("e._salt") == F.col("x._salt")),
        "inner",
    )
    return (
        joined.select(F.col(f"e.{out_col}").alias("id"), sr.mult(a_val, F.col("x.val")).alias("_prod"))
        .groupBy("id")
        .agg(sr.add(F.col("_prod")).alias("val"))
    )
