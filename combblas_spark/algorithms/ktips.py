"""K-tips removal — dead-end path ("tip") detection on an undirected
graph (genome-assembly clipping; webgraph tendril clipping is the same
shape).

Reference: ReleaseTests/KTipsTest.cpp — columns of a frontier matrix
walk one path per degree-1 vertex under the boolean OR-AND semiring
(KTipsSR, :12-20), SetDifference masks revisits, a column sum counts
the NEW vertices per walk, and when a walk's expansion yields >= 2 new
vertices (a junction) LastNzRowIdxPerCol(F0/F1) (:23-66) reads the cut
edge endpoints; columns whose count != 1 are pruned
(PruneColumnByIndex) and the rest advance (:104-141).

Spark-native mapping: a frontier-matrix COLUMN is a row keyed by its
tip — the per-column state (F0, F1 entries) is exactly (prev, cur)
because every surviving column holds a single nonzero (the initial
column is one-hot since the source has degree 1, and Ns==1 pruning
keeps it single). So:

    F2 = KTipsSR-SpGEMM(A, F1); SetDifference(V)  ->  walk ⋈ edges,
                                                      anti-join visited
    Ns = Reduce(Column, +)                        ->  groupBy(tip).count
    Tc/Td selects + LastNzRowIdxPerCol + GGet     ->  filter on n, the
                                                      (prev, cur) columns
    PruneColumnByIndex(Td)                        ->  filter rows to n==1

Per round: one edge-sized join + one tip-sized agg, the same superstep
envelope as BFS; per-tip visited sets are (tip, v) rows — total state
is O(sum of walk lengths), bounded by l * n_tips.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from combblas_spark.graph import simple_adjacency
from combblas_spark.runtime.plans import observed_checkpoint, superstep_checkpoint


def k_tips(edges: DataFrame, l: int = 4) -> DataFrame:
    """For every degree-1 vertex (tip) of the undirected, loop-free
    graph, walk its unique path; if within ``l`` rounds the walk head
    expands to >= 2 new vertices (a junction), report the edge to cut.
    Returns (tip, cut_src, cut_dst) for ALL tips — (-1, -1) when the
    walk dead-ends or is still unbranched after ``l`` rounds, matching
    the reference's -1-initialized TipSources/TipDests vectors
    (KTipsTest.cpp:110-113)."""
    spark = edges.sparkSession
    sym = simple_adjacency(edges, "src")

    deg = sym.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("d"))
    tips = deg.where(F.col("d") == 1).select(F.col("id").alias("tip"))

    # layer 0 = the tip itself; layer 1 = its single neighbor
    walk = (
        sym.join(tips.withColumnRenamed("tip", "src"), "src")
        .select(F.col("src").alias("tip"), F.col("src").alias("prev"),
                F.col("dst").alias("cur"))
        .localCheckpoint(eager=True)
    )
    visited = (
        walk.select("tip", F.col("prev").alias("v"))
        .unionByName(walk.select("tip", F.col("cur").alias("v")))
        .localCheckpoint(eager=True)
    )
    reported = None  # (tip, cut_src, cut_dst)

    for k in range(1, l + 1):
        # expand the walk head; SetDifference(V) = per-tip anti-join
        exp = (
            sym.join(walk.withColumnRenamed("cur", "src"), "src")
            .select("tip", "prev", F.col("src").alias("cur"),
                    F.col("dst").alias("nxt"))
            .join(visited.withColumnRenamed("v", "nxt"), ["tip", "nxt"],
                  "left_anti")
        )
        stepped = (
            exp.groupBy("tip", "prev", "cur")
            .agg(F.count(F.lit(1)).alias("n"), F.min("nxt").alias("one_nxt"))
        )
        stepped = superstep_checkpoint(stepped, k)
        # Ns >= 2: junction found -> cut edge is (layer k-1, layer k)
        rep = (stepped.where(F.col("n") >= 2)
               .select("tip", F.col("prev").alias("cut_src"),
                       F.col("cur").alias("cut_dst")))
        reported = rep if reported is None else reported.unionByName(rep)
        # Ns == 1: advance (PruneColumnByIndex keeps these columns only)
        walk, seen = observed_checkpoint(
            stepped.where(F.col("n") == 1)
            .select("tip", F.col("cur").alias("prev"), F.col("one_nxt").alias("cur")),
            k, [F.count(F.lit(1)).alias("n")])
        if seen["n"] == 0:
            break
        visited = (
            visited.unionByName(walk.select("tip", F.col("cur").alias("v")))
            .localCheckpoint(eager=True)
        )

    out = tips.join(
        (reported.localCheckpoint(eager=True) if reported is not None
         else spark.createDataFrame([], "tip long, cut_src long, cut_dst long")),
        "tip", "left")
    out = out.select(
        "tip",
        F.coalesce(F.col("cut_src"), F.lit(-1)).alias("cut_src"),
        F.coalesce(F.col("cut_dst"), F.lit(-1)).alias("cut_dst"),
    ).localCheckpoint(eager=True)
    sym.unpersist()
    return out
