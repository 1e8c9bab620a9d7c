"""Single-source shortest paths — Bellman-Ford over the MinPlus
(tropical) semiring.

The reference ships MinPlusSRing (include/CombBLAS/Semirings.h:236-255)
exactly for this classic CombBLAS use:  dist' = dist min.+ (A^T dist).
Each superstep is one SpMV over MIN_PLUS merged with the previous
distances via a groupBy-min (the same union-agg shape as FastSV in
components.py). A frontier optimization keeps the SpMV sparse: only
vertices whose distance improved last superstep propagate (SpMSpV,
ParFriends.h:2180 — the sparse-vector path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from combblas_spark.runtime.plans import broadcastable, superstep_checkpoint
from combblas_spark.runtime.superstep import Supersteps


def sssp(
    edges: DataFrame,
    root: int,
    weighted: bool = True,
    max_iter: int = 60,
    directed: bool = True,
    runner=None,
) -> DataFrame:
    """Returns (id, dist) for vertices reachable from ``root``.

    edges: (src, dst, val>0); val is the edge weight (1.0 if
    weighted=False). Distances follow edge direction src->dst unless
    directed=False (symmetrized first).

    The frontier is broadcast into the relax join only while it holds at
    most ``BROADCAST_MAX_VERTICES`` rows (runtime/plans.py, the same
    gate as pagerank / components); above that — near-diameter steps
    on dense graphs, or a resume where the frontier is the whole
    distance vector — it falls back to a shuffle join against the
    dst-partitioned cached edges.
    """
    spark = edges.sparkSession
    w = F.col("val") if weighted and "val" in edges.columns else F.lit(1.0)
    e = edges.select("src", "dst", w.alias("w"))
    if not directed:
        e = e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w"))
    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    e = e.repartition(shuffle_n, "dst").persist(StorageLevel.MEMORY_AND_DISK)
    e.count()

    # state = the distance vector; the frontier is not persisted — a
    # resume re-relaxes from ALL current distances once (a safe
    # over-approximation: extra relaxations are monotone no-ops)
    steps = Supersteps(runner)
    start_it, dist = steps.resume()
    if dist is None:
        dist = spark.createDataFrame([(int(root), 0.0)], "id long, dist double")
    dist = dist.localCheckpoint(eager=True)
    frontier = dist  # vertices improved last superstep
    n_front = frontier.count()

    for it in range(start_it, max_iter):
        # SpMSpV over MinPlus: relax out-edges of the frontier only.
        # Broadcast only while the frontier is provably small.
        f_in = F.broadcast(frontier) if broadcastable(n_front) else frontier
        relaxed = (
            e.join(f_in.withColumnRenamed("id", "_fid"),
                   e["src"] == F.col("_fid"))
            .select(F.col("dst").alias("id"), (F.col("w") + F.col("dist")).alias("dist"))
            .groupBy("id")
            .agg(F.min("dist").alias("dist"))
        )
        merged = (
            dist.unionByName(relaxed)
            .groupBy("id")
            .agg(F.min("dist").alias("dist"))
        )
        merged = steps.step(it, merged)
        # improved = strictly better than before (new vertices included)
        frontier = (
            merged.join(dist.withColumnRenamed("dist", "_old"), "id", "left")
            .filter(F.col("_old").isNull() | (F.col("dist") < F.col("_old")))
            .select("id", "dist")
            .localCheckpoint(eager=True)
        )
        n_front = frontier.count()  # convergence check + next broadcast gate
        dist = merged
        if n_front == 0:
            break

    if n_front > 0:
        # max_iter exhausted with an active frontier: the returned
        # vector is the exact ``max_iter``-hop Bellman-Ford relaxation —
        # a well-defined partial state (it is what runner-based resume
        # feeds back in), but NOT the shortest-path fixpoint, so say so
        # loudly instead of returning it silently (ADVICE-r3 pattern).
        import warnings

        warnings.warn(
            f"sssp: frontier still has {n_front} improving vertices "
            f"after max_iter={max_iter} supersteps; distances are the "
            f"{max_iter}-hop relaxation, not the fixpoint — raise "
            f"max_iter (graph has longer shortest paths)",
            RuntimeWarning, stacklevel=2)
    steps.finish(dist)
    e.unpersist()
    return dist


def delta_stepping_sssp(
    edges: DataFrame,
    root: int,
    delta: float,
    weighted: bool = True,
    directed: bool = True,
    max_buckets: int = 100_000,
    max_inner: int = 200,
    metrics: list | None = None,
) -> DataFrame:
    """Delta-stepping SSSP (Meyer & Sanders 2003) — returns the same
    (id, dist) fixpoint as sssp(), reached in far fewer supersteps on
    weighted graphs whose shortest-path trees are hop-deep.

    Buckets of width ``delta`` are processed in order; inside bucket i
    only LIGHT edges (w <= delta) are relaxed, repeatedly, until no
    tentative distance in [i*delta, (i+1)*delta) improves; then HEAVY
    edges (w > delta) relax once from the bucket's settled members.
    Monotonicity argument (why members are final when the bucket
    empties): every edge weight is > 0 and heavy relaxations from
    bucket i land at >= (i+1)*delta, so no later step can re-enter an
    emptied bucket — the loop never revisits.

    Bellman-Ford (sssp) is the delta -> infinity special case (one
    bucket, all edges light): its superstep count is the hop depth of
    the shortest-path tree, which at web scale with heterogeneous
    weights is thousands; delta-stepping's is
    O(#buckets + light-depth-per-bucket), tunable via delta.

    Edge weights must be > 0 (validated up front — delta-stepping's
    settling argument breaks on zero/negative weights; sssp() is the
    fallback for w >= 0).
    """
    spark = edges.sparkSession
    w = F.col("val") if weighted and "val" in edges.columns else F.lit(1.0)
    e = edges.select("src", "dst", w.cast("double").alias("w"))
    if not directed:
        e = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w"))
    if not delta > 0:
        raise ValueError(f"delta must be > 0, got {delta}")
    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    e = e.repartition(shuffle_n, "dst").persist(StorageLevel.MEMORY_AND_DISK)
    if e.filter(F.col("w") <= 0.0).limit(1).count() > 0:
        e.unpersist()
        raise ValueError("delta_stepping_sssp requires all edge weights > 0")
    light = e.filter(F.col("w") <= delta).persist(StorageLevel.MEMORY_AND_DISK)
    heavy = e.filter(F.col("w") > delta).persist(StorageLevel.MEMORY_AND_DISK)
    light.count(), heavy.count()

    def _relax(edge_side: DataFrame, frontier: DataFrame, dist: DataFrame,
               n_front: int) -> DataFrame:
        """One MinPlus relaxation + merge; returns the new dist vector
        (same union-agg shape as sssp)."""
        f_in = F.broadcast(frontier) if broadcastable(n_front) else frontier
        relaxed = (
            edge_side.join(f_in.withColumnRenamed("id", "_fid"),
                           edge_side["src"] == F.col("_fid"))
            .select(F.col("dst").alias("id"),
                    (F.col("w") + F.col("dist")).alias("dist"))
            .groupBy("id").agg(F.min("dist").alias("dist"))
        )
        return (dist.unionByName(relaxed)
                .groupBy("id").agg(F.min("dist").alias("dist")))

    dist = spark.createDataFrame([(int(root), 0.0)], "id long, dist double")
    dist = dist.localCheckpoint(eager=True)
    bucket_of = lambda c: F.floor(c / F.lit(float(delta)))  # noqa: E731
    step = 0
    cur = 0
    try:
        while cur < max_buckets:
            # next non-empty bucket >= cur (1-row scalar read, same class of
            # driver read as every convergence check here)
            row = (dist.filter(bucket_of(F.col("dist")) >= cur)
                   .agg(F.min(bucket_of(F.col("dist"))).alias("b")).collect()[0])
            if row["b"] is None:
                break
            cur = int(row["b"])
            frontier = dist.filter(bucket_of(F.col("dist")) == cur) \
                           .localCheckpoint(eager=True)
            n_front = frontier.count()
            for inner in range(max_inner + 1):
                if inner == max_inner:
                    raise RuntimeError(
                        f"delta_stepping_sssp: bucket {cur} did not settle in "
                        f"max_inner={max_inner} light rounds; raise max_inner")
                merged = superstep_checkpoint(
                    _relax(light, frontier, dist, n_front), step)
                step += 1
                frontier = (
                    merged.join(dist.withColumnRenamed("dist", "_old"), "id", "left")
                    .filter((F.col("_old").isNull() | (F.col("dist") < F.col("_old")))
                            & (bucket_of(F.col("dist")) == cur))
                    .select("id", "dist")
                    .localCheckpoint(eager=True)
                )
                n_front = frontier.count()
                dist = merged
                if metrics is not None:
                    metrics.append({"bucket": cur, "inner": inner,
                                    "frontier": n_front})
                if n_front == 0:
                    break
            # heavy relaxation once from the settled bucket members
            members = dist.filter(bucket_of(F.col("dist")) == cur) \
                          .localCheckpoint(eager=True)
            n_mem = members.count()
            if n_mem > 0:
                dist = superstep_checkpoint(
                    _relax(heavy, members, dist, n_mem), step)
                step += 1
            cur += 1
        else:
            # cur reached max_buckets without the empty-bucket break —
            # raise ONLY if unsettled distances actually remain (a graph
            # whose highest bucket index is exactly max_buckets-1 is
            # complete, not a failure)
            row = (dist.filter(bucket_of(F.col("dist")) >= cur)
                   .agg(F.min(bucket_of(F.col("dist"))).alias("b")).collect()[0])
            if row["b"] is not None:  # pragma: no cover - loud failure
                raise RuntimeError(
                    f"delta_stepping_sssp: unsettled buckets remain after "
                    f"max_buckets={max_buckets}; raise max_buckets or delta")
    finally:
        # unpersist on the raise paths too (max_inner / max_buckets)
        for c in (light, heavy, e):
            c.unpersist()
    return dist
