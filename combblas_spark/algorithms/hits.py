"""HITS — hubs & authorities by power iteration (Kleinberg 1999).

Not in the reference (CombBLAS ships PageRank-adjacent kernels only via
third-party comparison code); HITS is the other canonical link-analysis
primitive a web-graph user expects next to PageRank, and it is a pure
pair of semiring SpMVs per iteration:

    a = normalize( A^T h )        # authority: sum of in-neighbor hubs
    h = normalize( A a )          # hub: sum of out-neighbor authorities

Scale design — the DUAL-LAYOUT pattern (new here, measured in BENCH.md):
unlike PageRank, each HITS iteration aggregates on BOTH matrix
dimensions (dst for the authority step, src for the hub step). One edge
cache can only satisfy one of those clusterings, so the other half-step
would pay an edge-sized exchange EVERY iteration. We instead cache the
normalized edge list TWICE — once hash-partitioned by dst, once by src
(2x storage, the classic space-for-shuffle trade; the reference
analogue is SpParMat storing A and A^T for kernels that need both
orientations, e.g. the BFS direction-optimization pair). Each half-step
then joins a broadcast vector against the copy whose partitioning
already satisfies its aggregation -> ZERO edge-sized exchange per
iteration in the broadcast regime; in the big-vector regime each copy
pins its half-step's JOIN side so only vector-sized data moves.

L2 norms ride the half-step's checkpoint job through
``runtime.plans.observed_checkpoint`` (no extra pass); the scalar
re-enters the next plan as a literal — Python float sqrt is
IEEE-correctly-rounded, identical to SQL sqrt.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from combblas_spark.portable import pround

from combblas_spark.graph import vertices
from combblas_spark.operators.spmv import spmv_agg, spmv_step
from combblas_spark.runtime.plans import (
    broadcastable,
    layout_vector,
    observed_checkpoint,
    superstep_checkpoint,
)


def hits(
    edges: DataFrame,
    n_iter: int = 5,
) -> DataFrame:
    """Returns (id, hub, auth) over the vertex set src UNION dst after
    ``n_iter`` synchronous iterations, each L2-normalized (vertices with
    no in-edges have auth 0; no out-edges -> hub 0). Fixed iteration
    count so the DuckDB oracle can unroll the identical recurrence."""
    if n_iter < 1:
        raise ValueError("hits: n_iter must be >= 1 (no authority vector exists before the first half-step)")
    v = F.col("v")
    return _hub_authority(edges, edges.select("src", "dst"), n_iter, v, v,
                          _l2_normalized_checkpoint)


def _l2_normalized_checkpoint(raw: DataFrame, step_id: int) -> DataFrame:
    """``superstep_checkpoint`` of the (id, v) half-step output, then v
    divided by its L2 norm (observed on the checkpoint job itself)."""
    raw, seen = observed_checkpoint(
        raw, step_id, [F.sum(F.col("v") * F.col("v")).alias("ss")])
    nrm = math.sqrt(float(seen["ss"]))
    if nrm == 0.0:
        return raw
    return raw.select("id", (F.col("v") / F.lit(nrm)).alias("v"))


def _hub_authority(edges: DataFrame, ew: DataFrame, n_iter: int,
                   auth_v: Column, hub_v: Column, checkpoint) -> DataFrame:
    """The dual-layout loop hits and salsa share. From h_0 = 1 each
    iteration runs an authority half-step (hubs joined on src, ``auth_v``
    summed by dst over the dst-partitioned copy of ``ew``) and then a hub
    half-step (authorities joined on dst, ``hub_v`` summed by src over
    the src-partitioned copy); ``v`` is the incoming vector value.
    ``checkpoint(df, step_id)`` materializes each half-step. Returns
    (id, hub, auth) over the vertex set of ``edges``, checkpointed,
    caches released."""
    shuffle_n = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    # dual layout: one copy per aggregation dimension (see module doc;
    # 1.57x per iteration over a single dst-partitioned copy, BENCH.md §9).
    e_dst = ew.repartition(shuffle_n, "dst").persist(StorageLevel.MEMORY_AND_DISK)
    e_dst.count()
    e_src = ew.repartition(shuffle_n, "src").persist(StorageLevel.MEMORY_AND_DISK)
    e_src.count()

    verts = vertices(edges).persist(StorageLevel.MEMORY_AND_DISK)
    n = verts.count()
    can_broadcast = broadcastable(n)

    def _half_step(edge_copy: DataFrame, vec: DataFrame, join_key: str,
                   agg_key: str, v: Column, step_id: int) -> DataFrame:
        """One semiring SpMV: sum ``v`` over ``join_key`` neighbors, group
        by ``agg_key``; the copy's partitioning satisfies the agg (or
        pins the join side in the shuffle regime). Checkpointed."""
        return checkpoint(spmv_agg(edge_copy, vec, [F.sum(v).alias("v")], can_broadcast,
                                   on=join_key, out=agg_key), step_id)

    h = layout_vector(verts.select("id", F.lit(1.0).alias("v")), n, shuffle_n)
    h = h.localCheckpoint(eager=True)
    a = None
    for it in range(n_iter):
        # authority: join on src (hub side), aggregate by dst
        a = _half_step(e_dst, h, "src", "dst", auth_v, 2 * it)
        # hub: join on dst (authority side), aggregate by src
        h = _half_step(e_src, a, "dst", "src", hub_v, 2 * it + 1)

    out = (
        verts.join(h.select("id", F.col("v").alias("_h")), "id", "left")
        .join(a.select("id", F.col("v").alias("_a")), "id", "left")
        .select(
            "id",
            F.coalesce(F.col("_h"), F.lit(0.0)).alias("hub"),
            F.coalesce(F.col("_a"), F.lit(0.0)).alias("auth"),
        )
    )
    # materialize before dropping the caches
    out = out.localCheckpoint(eager=True)
    verts.unpersist()
    e_dst.unpersist()
    e_src.unpersist()
    return out


def _in_link_iteration(edges: DataFrame, n_iter: int, update) -> DataFrame:
    """The power iteration katz and eigencentrality share: x_0 = 1 and
    x_t(v) = update(sum_{u -> v} x_{t-1}(u)) over every vertex of
    src UNION dst (a vertex with no in-edges sees inflow 0). ONE
    dst-partitioned cached edge copy; each superstep is ``spmv_step``
    stitched onto the cached vertex set. Returns the checkpointed
    (id, v) after ``n_iter`` supersteps, caches released."""
    shuffle_n = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    e = edges.select("src", "dst").repartition(shuffle_n, "dst") \
        .persist(StorageLevel.MEMORY_AND_DISK)
    e.count()
    verts = vertices(edges).persist(StorageLevel.MEMORY_AND_DISK)
    n = verts.count()
    can_broadcast = broadcastable(n)

    x = layout_vector(verts.select("id", F.lit(1.0).alias("v")), n, shuffle_n)
    x = x.localCheckpoint(eager=True)
    for it in range(n_iter):
        joined = spmv_step(e, x.select("id", F.col("v").alias("_x")),
                           [F.sum("_x").alias("_in")], verts, n, can_broadcast)
        x = superstep_checkpoint(
            joined.select("id", update(F.coalesce(F.col("_in"), F.lit(0.0))).alias("v")),
            it)
    verts.unpersist()
    e.unpersist()
    return x


def katz(
    edges: DataFrame,
    alpha: float = 0.05,
    n_iter: int = 5,
) -> DataFrame:
    """Katz centrality (Katz 1953) — the third classic link-analysis
    power iteration next to PageRank and HITS/SALSA: influence decays
    by ``alpha`` per hop along IN-links,

        x_t(v) = 1 + alpha * sum_{u -> v} x_{t-1}(u),    x_0 = 1,

    i.e. after t iterations x(v) = sum_{k<=t} alpha^k #paths_k(->v).
    Converges for alpha < 1/lambda_max(A); fixed iteration count keeps
    the DuckDB oracle an exact unroll. Returns (id, katz).

    Scale design: the single-direction half of the hits() recipe — ONE
    dst-partitioned cached edge copy (the only aggregation dimension
    here), the x vector broadcast into the join while it fits, inflow
    groupBy(dst) satisfied by the cache partitioning -> zero edge-sized
    exchange per iteration in the broadcast regime; the dense-vector
    rebuild is a vector-sized left join per step (co-partitioned in the
    big-vector regime, same as pagerank's stitch)."""
    x = _in_link_iteration(
        edges, n_iter, lambda inflow: F.lit(1.0) + F.lit(alpha) * inflow)
    return x.select("id", F.col("v").alias("katz")).localCheckpoint(eager=True)


def salsa(
    edges: DataFrame,
    n_iter: int = 5,
) -> DataFrame:
    """SALSA (Lempel & Moran 2000) — the stochastic sibling of HITS:

        a(i) = sum_{j->i} h(j) / outdeg(j)     # a = Wr^T h
        h(j) = sum_{j->i} a(i) / indeg(i)      # h = Wc  a

    Each contribution is weighted by the CONTRIBUTOR's degree (the random
    surfer leaves j by a uniformly-chosen out-link, i by a uniform
    in-link), so the authority chain's stationary distribution is
    indeg-proportional within a component — the paper's main theorem.
    (An earlier revision weighted by the receiver's degree — the
    transpose chain, whose fixed point is all-ones; fixed per ADVICE r3.)

    Returns (id, hub, auth) after ``n_iter`` synchronous iterations from
    h0 = 1 (no per-step normalization: both operators are stochastic, so
    magnitudes stay bounded; fixed iterations keep the DuckDB oracle an
    exact unroll). Degree normalization makes SALSA robust to the
    tightly-knit-community effect that skews HITS — the variant webgraph
    ranking pipelines usually deploy.

    Scale design: identical dual-layout trade to hits() (one cached copy
    per aggregation dimension, BENCH.md §9) — the 1/deg weights are
    JOINED ONCE in setup and baked into the cached copies, so the loop
    is exactly the HITS plan with a per-edge constant weight.
    """
    if n_iter < 1:
        raise ValueError("salsa: n_iter must be >= 1 (no authority vector exists before the first half-step)")
    e = edges.select("src", "dst")
    ind = e.groupBy("dst").agg((F.lit(1.0) / F.count(F.lit(1))).alias("wc"))
    outd = e.groupBy("src").agg((F.lit(1.0) / F.count(F.lit(1))).alias("wr"))
    ew = e.join(ind, "dst").join(outd, "src").select("src", "dst", "wc", "wr")
    # authorities weight hubs by the CONTRIBUTOR's 1/outdeg(src), hubs
    # weight authorities by the CONTRIBUTOR's 1/indeg(dst)
    return _hub_authority(edges, ew, n_iter, F.col("wr") * F.col("v"),
                          F.col("wc") * F.col("v"), superstep_checkpoint)


def eigencentrality(
    edges: DataFrame,
    n_iter: int = 8,
) -> DataFrame:
    """Eigenvector centrality (Bonacich 1972) — the fourth classic
    link-analysis power iteration next to PageRank, HITS and Katz:

        x_t(v) = (1/16) * sum_{u -> v} x_{t-1}(u),    x_0 = 1,

    i.e. x_T(v) = 16^{-T} * #walks_T(->v), reported normalized to sum 1
    (the L1-normalized principal left eigenvector direction of A as
    T grows). Returns (id, eigen) rounded 6dp; vertices unreachable by
    any T-walk score 0, and on a walk-free graph (DAG deeper than T)
    every score is NULL (the direction is undefined).

    Bit-portability (the katz alpha=1/16 trick): the per-hop 1/16 is a
    power of two, so every x value is the EXACT dyadic rational
    walk_count * 2^(-4t) — sums are order-independent (exact in IEEE
    doubles) as long as raw walk counts stay below 2^53, the same
    envelope an integer implementation would have. The one inexact op
    is the final normalizing division, applied identically in both
    engines and rounded 6dp. At web scale walk counts overflow the
    2^53 envelope within a few hops of a 10^7-degree hub — there you
    renormalize per superstep (exactness across engines is a test/
    oracle contract, not a production requirement).

    Scale design: identical single-layout loop to katz (ONE
    dst-partitioned cached edge copy, broadcast vector while it fits,
    vector-sized stitch per superstep); the final total is one scalar
    aggregate folded back as a literal.
    """
    if n_iter < 1:
        raise ValueError(f"eigencentrality: n_iter must be >= 1, got {n_iter}")
    x = _in_link_iteration(edges, n_iter, lambda inflow: inflow / F.lit(16.0))
    total = x.agg(F.sum("v").alias("t")).collect()[0]["t"]
    return x.select(
        "id",
        pround(
            F.when(F.lit(total) > 0, F.col("v") / F.lit(float(total)))).alias("eigen"),
    ).localCheckpoint(eager=True)


def topic_hits(
    edges: DataFrame,
    n_roots: int = 5,
    d: int = 20,
    n_iter: int = 5,
) -> DataFrame:
    """Topic-focused HITS (Kleinberg 1999, the full base-set recipe):
    take the ``n_roots`` highest-in-degree vertices as the root set
    (ties to the smaller id — a deterministic stand-in for a text-query
    root set), expand to the base set with every out-neighbor plus at
    most ``d`` in-neighbors per root (the paper's cap that stops a
    popular root from dragging in the whole web), induce the subgraph
    on the base set, and run hub/authority iteration there. Returns
    (id, hub, auth) over base-set vertices touched by a base edge.

    Scale shape: root selection is TakeOrdered over a vertex-sized
    degree aggregate (no global sort materialization); the in-neighbor
    cap is a per-ROOT window (n_roots partitions, never global); the
    induced subgraph is two semi-joins against the broadcast-sized
    base set; the HITS loop then runs on a base-set-sized graph —
    the whole point of base-set expansion at web scale.
    """
    if n_roots < 1 or d < 1:
        raise ValueError(
            f"topic_hits: n_roots and d must be >= 1, got {n_roots}, {d}")
    pairs = edges.select("src", "dst").distinct()
    indeg = pairs.groupBy(F.col("dst").alias("id")).agg(
        F.count(F.lit(1)).alias("c"))
    roots = indeg.orderBy(F.desc("c"), F.asc("id")).limit(n_roots) \
                 .select("id")
    outs = (
        pairs.join(roots.withColumnRenamed("id", "src"), "src")
        .select(F.col("dst").alias("id")).distinct()
    )
    win = Window.partitionBy("dst").orderBy(F.asc("src"))
    ins = (
        pairs.join(roots.withColumnRenamed("id", "dst"), "dst")
        .withColumn("_rn", F.row_number().over(win))
        .where(F.col("_rn") <= d)
        .select(F.col("src").alias("id"))
    )
    base = roots.unionByName(outs).unionByName(ins).distinct() \
        .localCheckpoint(eager=True)
    sub = (
        edges.join(F.broadcast(base.withColumnRenamed("id", "src")),
                   "src", "semi")
        .join(F.broadcast(base.withColumnRenamed("id", "dst")),
              "dst", "semi")
    )
    return hits(sub, n_iter=n_iter)
