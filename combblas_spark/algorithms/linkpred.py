"""Link prediction — common-neighbor family scores over wedges.

Adamic-Adar / common-neighbors for non-adjacent vertex pairs at
distance 2: the standard "which link appears next" features for a web
graph (Liben-Nowell & Kleinberg 2003). Structurally this is the
triangle wedge join (triangles.py) with the closing-edge check
NEGATED — candidate pairs are the wedges an edge does NOT close.

Scale shape (100 TB): the wedge self-join is quadratic in the center's
degree, so hubs are excluded by ``max_center_degree`` BEFORE the join
(the same documented-cap pattern as the LSH per-bucket caps in
functions/similarity.py — at web scale a 10^7-degree hub contributes
no usable AA signal anyway: its 1/ln(deg) weight is ~0). The cap is a
plan bound, not sampling: results are exact for the capped graph, and
the DuckDB oracle applies the identical cap. ``min_common`` prunes the
long tail of weight-1 pairs at the aggregation (map-side combinable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from combblas_spark.portable import pround


def adamic_adar(
    edges: DataFrame,
    min_common: int = 2,
    max_center_degree: int | None = 64,
    materialize: bool = True,
) -> DataFrame:
    """Returns (a, b, cn, aa) for non-adjacent pairs a < b sharing at
    least ``min_common`` neighbors whose degree is <= the center cap:
    cn = |N(a) ∩ N(b)|, aa = Σ_z 1/ln(deg(z)) over shared neighbors z.

    Undirected loop-free view; deg counts distinct neighbors. Centers
    with deg 1 cannot form wedges; deg(z) >= 2 for every counted z, so
    ln(deg) > 0 always.

    ``materialize=False`` skips the eager result checkpoint and leaves
    the cached sym table registered — the plan stays inspectable (the
    explain audit uses this) and the caller must consume the result
    promptly and unpersist nothing.
    """
    from combblas_spark.graph import simple_adjacency

    sym = simple_adjacency(edges, "src")
    deg = sym.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("deg"))
    centers = deg if max_center_degree is None else deg.filter(
        F.col("deg") <= max_center_degree)
    # wedges through each kept center z: neighbor pairs a < b
    nbrs = sym.join(centers.withColumnRenamed("id", "src"), "src").select(
        F.col("src").alias("z"), F.col("dst").alias("n"), "deg")
    wedges = (
        nbrs.alias("x")
        .join(nbrs.alias("y"), "z")
        .filter(F.col("x.n") < F.col("y.n"))
        .select(F.col("x.n").alias("a"), F.col("y.n").alias("b"),
                (F.lit(1.0) / F.log(F.col("x.deg"))).alias("_w"))
    )
    scored = (
        wedges.groupBy("a", "b")
        .agg(F.count("*").alias("cn"), pround(F.sum("_w")).alias("aa"))
        .filter(F.col("cn") >= min_common)
    )
    # drop pairs already linked (either direction = canonical a<b once)
    existing = sym.filter(F.col("src") < F.col("dst")).select(
        F.col("src").alias("a"), F.col("dst").alias("b"))
    out = scored.join(existing, ["a", "b"], "left_anti")
    if not materialize:
        return out
    try:
        return out.localCheckpoint(eager=True)
    finally:
        sym.unpersist()
