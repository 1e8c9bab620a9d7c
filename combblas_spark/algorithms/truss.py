"""k-truss — triangle-support edge peeling (Cohen 2008).

The edge-level sibling of k-core (algorithms/kcore.py): the k-truss is
the maximal subgraph in which every edge closes at least k-2 triangles
WITHIN the subgraph. Standard community/cohesion mining on webgraphs;
not in the reference (its triangle kernel stops at counting —
Applications/TriCnt*.cpp), so an extension row.

Peel loop, all relational:

  support(u,v) = triangles through (u,v) — one oriented triangle
  enumeration per round over the surviving canonical edges
  (triangles.oriented_triangles, the masked wedge join of
  triangle_count) attributed to its three edges
  (triangles.edge_support, map-side combinable).
  drop edges with support < k-2; repeat until no edge drops.

Rounds follow the peel depth (like k-core), each round's work is the
oriented wedge enumeration over surviving edges — shrinking
monotonically. Oracle: the DuckDB twin unrolls the identical rounds
(extra rounds past the fixed point are no-ops).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from combblas_spark.algorithms.triangles import (edge_support, lower_triangle,
                                                 oriented_triangles)
from combblas_spark.runtime.plans import observed_checkpoint


def _uv(L: DataFrame) -> DataFrame:
    """The canonical pattern's pairs as (u, v), u < v."""
    return L.select(F.col("src").alias("u"), F.col("dst").alias("v"))


def k_truss(edges: DataFrame, k: int, max_rounds: int = 64) -> DataFrame:
    """Returns the canonical undirected edge list (u, v) with u < v of
    the k-truss subgraph (k >= 3; k <= 2 returns all edges)."""
    L = lower_triangle(edges)
    if k <= 2:
        return _uv(L).localCheckpoint(eager=True)
    L, seen = observed_checkpoint(L, 0, [F.count(F.lit(1)).alias("n")])
    n_e = seen["n"]
    converged = n_e == 0
    for r in range(max_rounds):
        if n_e == 0:
            converged = True
            break
        # survivors as a semi-join onto L keep L's size estimate; the
        # support aggregate's own estimate compounds every round and
        # plans each later round by shuffle, one more Spark job a round
        supported = edge_support(oriented_triangles(L)).where(F.col("sup") >= k - 2)
        survivors = L.join(supported, ["src", "dst"], "left_semi")
        L, seen = observed_checkpoint(survivors, r, [F.count(F.lit(1)).alias("n")])
        n_s = seen["n"]
        if n_s == n_e:
            converged = True
            break
        n_e = n_s
    if not converged and n_e != 0:  # n_e == 0 on the last round IS the fixpoint
        # same maximality contract as k_core: peel depth is unbounded
        # by any fixed cap, and a non-converged return is a SUPERSET of
        # the k-truss, silently wrong
        raise RuntimeError(
            f"k_truss did not converge within max_rounds={max_rounds}; "
            "raise max_rounds (each round is one wedge-join job)")
    return _uv(L)


def trussness(
    edges: DataFrame,
    max_iters: int = 100,
) -> DataFrame:
    """Full truss decomposition: (u, v, trussness) with u < v over the
    canonical undirected simple edge list, where trussness(e) = the
    largest k such that e survives in the k-truss. Triangle-free edges
    report 2 (every edge is trivially in the 2-truss).

    The edge-level h-index iteration (Sariyüce, Seshadhri & Pinar,
    "Local Algorithms for Hierarchical Dense Subgraph Discovery", VLDB
    2018 — the truss instance of the same operator core_numbers uses
    for vertices, Lü et al. 2016):

        t_0(e)     = support(e)  (triangles containing e)
        t_{k+1}(e) = H({ min(t_k(e1), t_k(e2)) : {e, e1, e2} a triangle })

    converges monotonically DOWN to trussness(e) - 2. The triangle set
    is enumerated ONCE (static incidence — no re-peeling per k, unlike
    the peel-based k_truss above which answers one fixed k).

    Scale shape: one oriented triangle enumeration
    (triangles.oriented_triangles), persisted and read as three
    incidence rows per triangle; t_0 is its triangles.edge_support.
    Each round is two equi-joins of the edge-value
    vector onto the incidence plus ONE per-edge window (cardinality =
    that edge's triangle count, never global) and a map-side-combinable
    max agg. Convergence via the same sum-fixpoint read as core_numbers
    (values are monotone non-increasing integers), observed on each
    round's checkpoint job (``observed_checkpoint``); raises on cap
    exhaustion rather than returning a wrong decomposition.
    """
    from pyspark.sql import Window

    L = lower_triangle(edges).localCheckpoint(eager=True)
    e = _uv(L)
    # the triangle table is the static part: cached once, three
    # incidence rows per triangle (edge, partner 1, partner 2) read
    # lazily over it every round
    tri = oriented_triangles(L).persist(StorageLevel.MEMORY_AND_DISK)
    tri.count()
    inc = (
        tri.select(F.col("a").alias("eu"), F.col("b").alias("ev"),
                   F.col("a").alias("p1u"), F.col("c").alias("p1v"),
                   F.col("b").alias("p2u"), F.col("c").alias("p2v"))
        .unionByName(
            tri.select(F.col("a").alias("eu"), F.col("c").alias("ev"),
                       F.col("a").alias("p1u"), F.col("b").alias("p1v"),
                       F.col("b").alias("p2u"), F.col("c").alias("p2v")))
        .unionByName(
            tri.select(F.col("b").alias("eu"), F.col("c").alias("ev"),
                       F.col("a").alias("p1u"), F.col("b").alias("p1v"),
                       F.col("a").alias("p2u"), F.col("c").alias("p2v")))
    )
    sup = edge_support(tri).select(F.col("src").alias("u"), F.col("dst").alias("v"),
                                   F.col("sup").alias("t"))
    t, seen = observed_checkpoint(
        e.join(sup, ["u", "v"], "left")
        .select("u", "v", F.coalesce("t", F.lit(0)).cast("long").alias("t")), 0,
        [F.sum("t").alias("s")])
    prev_s = seen["s"]
    converged = prev_s == 0  # triangle-free graph: t==0 is the fixpoint
    w = Window.partitionBy("eu", "ev").orderBy(F.col("_rho").desc())
    for it in range(max_iters):
        if converged:
            break
        t1 = t.select(F.col("u").alias("p1u"), F.col("v").alias("p1v"),
                      F.col("t").alias("_t1"))
        t2 = t.select(F.col("u").alias("p2u"), F.col("v").alias("p2v"),
                      F.col("t").alias("_t2"))
        h = (
            inc.join(t1, ["p1u", "p1v"]).join(t2, ["p2u", "p2v"])
            .select("eu", "ev", F.least("_t1", "_t2").alias("_rho"))
            .select("eu", "ev", "_rho", F.row_number().over(w).alias("_r"))
            .filter(F.col("_rho") >= F.col("_r"))
            .groupBy("eu", "ev").agg(F.max("_r").alias("_h"))
        )
        new_t = (
            e.join(h, (e["u"] == h["eu"]) & (e["v"] == h["ev"]), "left")
            .select("u", "v", F.coalesce("_h", F.lit(0)).cast("long").alias("t"))
        )
        t, seen = observed_checkpoint(new_t, it, [F.sum("t").alias("s")])
        s = seen["s"]
        if s == prev_s:
            converged = True
        prev_s = s

    tri.unpersist()
    if not converged:
        raise RuntimeError(
            f"trussness did not converge within max_iters={max_iters}; "
            "raise max_iters (the h-index iteration is monotone, so "
            "more rounds always make progress)")
    return t.select("u", "v", (F.col("t") + 2).alias("trussness"))
