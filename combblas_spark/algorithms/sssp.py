"""Single-source shortest paths — Bellman-Ford over the MinPlus
(tropical) semiring.

The reference ships MinPlusSRing (include/CombBLAS/Semirings.h:236-255)
exactly for this classic CombBLAS use:  dist' = dist min.+ (A^T dist).
Each superstep is one SpMV over MIN_PLUS merged with the previous
distances via a groupBy-min (the same union-agg shape as FastSV in
components.py). A frontier optimization keeps the SpMV sparse: only
vertices whose distance improved last superstep propagate (SpMSpV,
ParFriends.h:2180 — the sparse-vector path). The merge carries the
previous distance along, so the improved count — the loop's
convergence read and the next broadcast gate — is observed on the
superstep's own checkpoint job.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from combblas_spark.runtime.plans import broadcastable, observed_checkpoint
from combblas_spark.runtime.superstep import Supersteps


def _relax(edges: DataFrame, frontier: DataFrame, n_front: int) -> DataFrame:
    """SpMSpV over MinPlus: the out-edges of the ``n_front``-row
    ``frontier`` relaxed, min per reached vertex. The frontier is
    broadcast only while it is provably small."""
    f_in = F.broadcast(frontier) if broadcastable(n_front) else frontier
    return (
        edges.join(f_in.withColumnRenamed("id", "_fid"), edges["src"] == F.col("_fid"))
        .select(F.col("dst").alias("id"), (F.col("w") + F.col("dist")).alias("dist"))
        .groupBy("id")
        .agg(F.min("dist").alias("dist"))
    )


def _min_merge(dist: DataFrame, relaxed: DataFrame) -> DataFrame:
    """``dist`` merged with ``relaxed`` by min per id, the previous
    distance carried along as ``_old`` (NULL for a newly reached
    vertex), the FastSV trick: one aggregation yields both, so what
    improved is observable on the merge's own checkpoint job."""
    return (
        dist.withColumn("_old", F.col("dist"))
        .unionByName(relaxed.withColumn("_old", F.lit(None).cast("double")))
        .groupBy("id")
        .agg(F.min("dist").alias("dist"), F.min("_old").alias("_old"))
    )


def _improved() -> Column:
    """Strictly better than before, new vertices included, over
    (dist, _old)."""
    return F.col("_old").isNull() | (F.col("dist") < F.col("_old"))


def _frontier(merged: DataFrame, dist: DataFrame, cond: Column) -> DataFrame:
    """The (id, dist) rows of the checkpointed ``merged`` where ``cond``
    holds against the previous ``dist``; lazy, so it runs inside the
    next superstep's job."""
    return (
        merged.join(dist.withColumnRenamed("dist", "_old"), "id", "left")
        .filter(cond).select("id", "dist")
    )


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
    dist, seen = observed_checkpoint(dist, start_it, [F.count(F.lit(1)).alias("n")])
    frontier = dist  # vertices improved last superstep
    n_front = seen["n"]

    for it in range(start_it, max_iter):
        merged, seen = steps.step(
            it, _min_merge(dist, _relax(e, frontier, n_front)), keep=["id", "dist"],
            aggs=[F.sum(_improved().cast("long")).alias("improved")])
        frontier = _frontier(merged, dist, _improved())
        n_front = seen["improved"]  # convergence check + next broadcast gate
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

    dist = spark.createDataFrame([(int(root), 0.0)], "id long, dist double")
    dist = dist.localCheckpoint(eager=True)
    bucket_of = lambda c: F.floor(c / F.lit(float(delta)))  # noqa: E731
    step = 0
    # the next non-empty bucket and the rows past the current one (an
    # upper bound on its size: the next frontier's broadcast gate) are
    # read on the bucket's last checkpoint, heavy or light
    cur, n_front = 0, 1  # the root's bucket
    try:
        while cur is not None:
            in_bucket = bucket_of(F.col("dist")) == cur
            past = bucket_of(F.col("dist")) > cur
            ahead = [F.min(F.when(past, bucket_of(F.col("dist")))).alias("next"),
                     F.sum(past.cast("long")).alias("past")]
            frontier = dist.filter(in_bucket)
            for inner in range(max_inner + 1):
                if inner == max_inner:
                    raise RuntimeError(
                        f"delta_stepping_sssp: bucket {cur} did not settle in "
                        f"max_inner={max_inner} light rounds; raise max_inner")
                # the frontier (improved AND still in the bucket) and the
                # bucket's members are both counted on the merge's job
                merged, seen = observed_checkpoint(
                    _min_merge(dist, _relax(light, frontier, n_front)), step,
                    [F.sum((_improved() & in_bucket).cast("long")).alias("front"),
                     F.sum(in_bucket.cast("long")).alias("members"), *ahead],
                    keep=["id", "dist"])
                step += 1
                frontier = _frontier(merged, dist, _improved() & in_bucket)
                n_front = seen["front"]
                dist = merged
                if metrics is not None:
                    metrics.append({"bucket": cur, "inner": inner,
                                    "frontier": n_front})
                if n_front == 0:
                    break
            # heavy relaxation once from the settled bucket members
            n_mem = seen["members"]
            if n_mem > 0:
                dist, seen = observed_checkpoint(
                    _min_merge(dist, _relax(heavy, dist.filter(in_bucket), n_mem)), step,
                    ahead, keep=["id", "dist"])
                step += 1
            if seen["past"] and cur + 1 >= max_buckets:  # pragma: no cover - loud failure
                raise RuntimeError(
                    f"delta_stepping_sssp: unsettled buckets remain after "
                    f"max_buckets={max_buckets}; raise max_buckets or delta")
            # "next" over no rows reads 0: no row past cur is no next bucket
            cur, n_front = int(seen["next"]) if seen["past"] else None, seen["past"]
    finally:
        # unpersist on the raise paths too (max_inner / max_buckets)
        for c in (light, heavy, e):
            c.unpersist()
    return dist
