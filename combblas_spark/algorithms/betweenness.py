"""Betweenness centrality — batched Brandes (Applications/BetwCent.cpp).

The reference processes ``batchSize`` source vertices at once: the
fringe is an n x batch matrix advanced by SpGEMM (BetwCent.cpp:155-218),
path counts accumulate in ``nsp``, and the backward pass applies the
dependency update  delta[v] += sigma[v]/sigma[w] * (1 + delta[w])  via
EWiseMult/EWiseScale into a dense accumulator ``bcu``.

Spark form: the n x batch fringe is a DataFrame keyed (root, id) — the
batch dimension is just a second key column, so one join advances ALL
roots' BFS waves at once (the exact analogue of the batched SpGEMM):
the forward pass is ``frontier_closure`` keyed by root, summing sigma.
Unweighted shortest paths (BFS), like the reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from combblas_spark.graph import simple_adjacency, vertices
from combblas_spark.operators.spmv import frontier_closure
from combblas_spark.runtime.plans import superstep_checkpoint


def betweenness_centrality(
    edges: DataFrame,
    roots: list[int] | None = None,
    directed: bool = False,
    normalize: bool = False,
) -> DataFrame:
    """Returns (id, bc). roots=None uses every vertex as a source (exact
    BC, small graphs); pass a subset for the reference's sampled/batched
    mode (BetwCent.cpp batchSize x nBatches).

    ONE src-partitioned edge copy serves both the forward wave (joins on
    src) and the backward dependency pass (joins on dst). The HITS trade
    (hits.py: a second dst-partitioned copy) measured parity here
    (BENCH.md, RMAT-16 local[32]: 0.89x/1.06x/0.95x at 64/128/256
    roots): the per-level set is broadcastable, so the edge side is
    never exchanged, and the backward wall is dominated by the
    (root, id) expansion."""
    spark = edges.sparkSession
    # distinct pairs: duplicate rows would inflate sigma path counts
    e = simple_adjacency(edges, "src", directed)
    # checkpoint: verts is referenced by the source frontier (roots=None),
    # the final bc stitch, and the normalize count — one distinct, not three
    verts = vertices(edges).localCheckpoint(eager=True)

    if roots is None:
        fr0 = verts.select(F.col("id").alias("root"), F.col("id"), F.lit(1.0).alias("sigma"))
    else:
        fr0 = spark.createDataFrame(
            [(int(r), int(r), 1.0) for r in roots], "root long, id long, sigma double"
        )

    # ---- forward: level-synchronous batched BFS with path counting
    levels, depth = frontier_closure(e, fr0, [F.sum("sigma").alias("sigma")], ["root"])

    # ---- backward: dependency accumulation from the deepest level up
    delta = None  # (root, id, delta)
    for lvl in range(depth, 0, -1):
        wset = levels.filter(F.col("level") == lvl).select(
            "root", F.col("id").alias("w"), F.col("sigma").alias("sig_w"))
        if delta is not None:
            wset = (
                wset.join(delta.withColumnsRenamed({"id": "w", "delta": "d_w"}),
                          ["root", "w"], "left")
                .select("root", "w", "sig_w", F.coalesce(F.col("d_w"), F.lit(0.0)).alias("d_w"))
            )
        else:
            wset = wset.withColumn("d_w", F.lit(0.0))
        preds = levels.filter(F.col("level") == lvl - 1).select(
            "root", F.col("id").alias("v"), F.col("sigma").alias("sig_v"))
        contrib = (
            e.select(F.col("src").alias("v"), F.col("dst").alias("w"))
            .join(wset, "w")
            .join(preds, ["root", "v"])
            .select("root", F.col("v").alias("id"),
                    (F.col("sig_v") / F.col("sig_w") * (1.0 + F.col("d_w"))).alias("_c"))
            .groupBy("root", "id")
            .agg(F.sum("_c").alias("delta_new"))
        )
        if delta is None:
            delta = contrib.withColumnRenamed("delta_new", "delta")
        else:
            delta = (
                delta.join(contrib, ["root", "id"], "full_outer")
                .select("root", "id",
                        (F.coalesce(F.col("delta"), F.lit(0.0))
                         + F.coalesce(F.col("delta_new"), F.lit(0.0))).alias("delta"))
            )
        delta = superstep_checkpoint(delta, depth - lvl)

    e.unpersist()
    if delta is None:
        return verts.select("id", F.lit(0.0).alias("bc"))
    bc = (
        delta.filter(F.col("id") != F.col("root"))
        .groupBy("id")
        .agg(F.sum("delta").alias("bc"))
    )
    out = verts.join(bc, "id", "left").select("id", F.coalesce("bc", F.lit(0.0)).alias("bc"))
    if not directed:
        out = out.select("id", (F.col("bc") / 2.0).alias("bc"))
    if normalize:
        n = verts.count()
        if n > 2:  # (n-1)(n-2) = 0 below that: bc is all-zero, leave it
            denom = (n - 1) * (n - 2) / (2.0 if not directed else 1.0)
            out = out.select("id", (F.col("bc") / F.lit(denom)).alias("bc"))
    return out
