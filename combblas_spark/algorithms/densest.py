"""Densest subgraph — Charikar's greedy peel, batched for MapReduce
(Bahmani, Kumar, Vassilvitskii, "Densest Subgraph in Streaming and
MapReduce", VLDB 2012).

Not in the reference as a named app; it is the canonical "find the
spam-farm / link-exchange core" query on a web link graph, and it is
the iterated composition of primitives the engine already exposes:
Reduce(Row, plus) for induced degrees + Prune on the survivor set
(SURVEY.md §2.3/§2.4) — the same fused peel loop as k_core
(algorithms/kcore.py), except the threshold is density-relative and
the answer is the best snapshot rather than the fixed point.

Algorithm: S_0 = V; each round removes EVERY vertex with induced
degree <= 2(1+eps) * density(S_t); the answer is the S_t with maximum
density over all rounds (ties -> earliest round). Guarantees:
* >= n*eps/(1+eps) vertices leave per round while edges remain (at
  most n/(1+eps) vertices can exceed the threshold, since degrees sum
  to 2m = 2*density*n), so the loop ends in <= log_{1+eps} n rounds —
  ~40 supersteps for 10^12 edges at eps=0.5, independent of skew.
* the best snapshot is a 2(1+eps)-approximation of the maximum-density
  subgraph (Bahmani et al., Thm 1).

Determinism / oracle contract: the threshold compare is
`d > (1+eps) * sum_deg / n` evaluated in IEEE doubles with identical
operand order in both engines (sum_deg and n are exact integers, the
product and one division round identically), so the peel sequence —
and therefore the reported member set — is bit-stable across engines
and partitionings. eps defaults to 0.5 so (1+eps) = 1.5 is an exact
binary literal.

Scale shape: the symmetric adjacency is cached ONCE partitioned by
dst (the degree-agg key — zero edge exchange per round); the alive
set enters each round as broadcast semi-joins while vertex-sized
(else AQE shuffle semi-joins); per round = one degree-agg job (stats
ride it through ``runtime.plans.observed_checkpoint``) + one
vertex-sized filter job. Only the
current-best snapshot is retained (density is not monotone, but one
localCheckpointed vertex set is all the state the argmax needs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from combblas_spark.portable import pround

from combblas_spark.graph import simple_adjacency, vertices
from combblas_spark.runtime.plans import (
    broadcastable,
    layout_vector,
    observed_checkpoint,
)


def densest_subgraph(
    edges: DataFrame,
    eps: float = 0.5,
    max_rounds: int = 64,
) -> DataFrame:
    """Returns (id, round, n, m, density): the vertices of the densest
    peel snapshot of the undirected, de-looped graph underlying
    ``edges``, with the snapshot's round index, vertex count, edge
    count and density (m/n, rounded 6dp) repeated per row. Empty
    result for an empty graph."""
    if eps <= 0:
        raise ValueError(f"eps must be > 0, got {eps}")
    spark = edges.sparkSession
    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    sym = simple_adjacency(edges, "dst")

    verts = vertices(edges).select("id")
    n0 = verts.count()
    can_broadcast = broadcastable(n0)

    out_schema = ("id", "round", "n", "m", "density")
    if n0 == 0:
        sym.unpersist()
        empty = spark.createDataFrame(
            [], "id long, round int, n long, m long, density double")
        return empty.select(*out_schema)

    alive = layout_vector(verts, n0, shuffle_n).localCheckpoint(eager=True)
    n_alive = n0
    best = None  # (raw_density, round, n, sum_deg, snapshot frame)
    converged = False
    for r in range(max_rounds):
        av = alive.select("id")
        bc = F.broadcast(av) if can_broadcast else av
        deg = (
            sym.join(bc.withColumnRenamed("id", "src"), "src", "left_semi")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.count(F.lit(1)).alias("_d"))
            .join(bc, "id", "left_semi")
        )
        deg, seen = observed_checkpoint(
            layout_vector(deg, n0, shuffle_n), r, [F.sum("_d").alias("sum_d")])
        sum_d = int(seen["sum_d"])
        density = 0.5 * sum_d / n_alive  # exact mirror of the SQL twin
        if best is None or density > best[0]:
            best = (density, r, n_alive, sum_d, alive)
        if sum_d == 0:
            # edgeless remainder: density can only be 0 from here on
            converged = True
            break
        thr = (1.0 + eps) * sum_d / n_alive
        alive, seen = observed_checkpoint(
            layout_vector(deg.filter(F.col("_d") > thr).select("id"), n0, shuffle_n), r,
            [F.count(F.lit(1)).alias("n")])
        n_alive = seen["n"]
        if n_alive == 0:
            converged = True
            break

    sym.unpersist()
    if not converged:
        # the geometric bound makes this unreachable for any max_rounds
        # >= log_{1+eps} n; a silent return would report a non-optimal
        # snapshot as "the" answer — same contract as k_core
        raise RuntimeError(
            f"densest_subgraph did not finish peeling within "
            f"max_rounds={max_rounds}; raise max_rounds "
            f"(needs ~log_{{{1 + eps}}}(n) rounds)")

    raw, r_best, n_best, sum_d_best, snap = best
    return snap.select(
        "id",
        F.lit(r_best).alias("round"),
        F.lit(n_best).cast("long").alias("n"),
        F.lit(sum_d_best // 2).cast("long").alias("m"),
        pround(F.lit(0.5 * sum_d_best) / F.lit(float(n_best)))
        .alias("density"),
    )
