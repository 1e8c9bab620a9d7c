"""PageRank — semiring PlusTimes SpMV with damping + dangling mass.

Not implemented in CombBLAS core (only in the bundled third-party
comparison code Applications/CC_ipdps18/HPCGraph/0.1/pagerank.cpp); the
north rule requires it. Expressed as the classic power iteration:

    r' = (1-a)/n + a * ( A_norm^T r + dangling_mass/n )

where A_norm has each row divided by its out-degree.

Scale design (100 TB / 10^12 docs) — measured, not guessed (see
BENCH/BASELINE.md):
* edges are joined with out-degrees ONCE and persisted — per superstep
  only the rank vector moves (the analogue of SUMMA re-using the block
  distribution across stages, ParFriends.h:1448).
* ONE fused job per superstep. The SpMV contributions are UNIONed with
  a zero-row per vertex before the groupBy, so the aggregation itself
  produces the complete dense rank vector — no separate verts join, no
  second broadcast. Dangling vertices carry an ``is_dangling`` flag in
  the state vector, so the dangling mass is a plain filtered aggregate
  (no semi-join) cross-joined into the plan as a broadcast 1-row table
  — no driver collect inside the loop.
* the rank vector is broadcast into the SpMV join while it fits
  (driver-side density heuristic, the analogue of the reference's
  adaptive AllGather-vs-Alltoall choice, FastSV.h:252-333, CC.h:1251);
  beyond ``broadcast_max_vertices`` it becomes a shuffle join against
  edges pre-partitioned by src, planned by AQE (skew-join enabled).
  Both regimes run the same loop body, ``operators.spmv.spmv_step``;
  only the setup placement (``_normalized_edges``) differs.
* the groupBy(dst).sum is THE communication step; map-side partial
  aggregation absorbs in-degree skew (hub pages) exactly like the
  reference's tree-reduce.
* vector stages are sized to the vector, not the edge-side stage width
  (runtime.plans.layout_vector).
* resumable: pass a runtime.SuperstepRunner to checkpoint rank state
  durably with config lineage + partition/skew metrics (north rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from combblas_spark.operators.spmv import spmv_step
from combblas_spark.runtime.plans import (
    broadcastable,
    layout_vector,
    superstep_checkpoint,
)
from combblas_spark.runtime.superstep import Supersteps


def _vertex_base(edges: DataFrame) -> DataFrame:
    """Persisted (id, dg) over src UNION dst: ONE aggregation yields the
    vertex set AND the dangling flag (dg(v) = v never appears as src) as
    a max over 1-for-src/0-for-dst markers. Replaces the former
    three-shuffle setup (vertices() distinct + srcs distinct + left
    join) — measured on the sf0.1 bench as ~15% of the PageRank wall.
    Cached: the initial state is then a pure projection of this."""
    return (
        edges.select(F.col("src").alias("id"), F.lit(1).alias("_s"))
        .unionByName(edges.select(F.col("dst").alias("id"), F.lit(0).alias("_s")))
        .groupBy("id")
        .agg(F.max("_s").alias("_s"))
        .select("id", (F.col("_s") == 0).alias("dg"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )


def _normalized_edges(edges: DataFrame, weighted: bool, can_broadcast: bool,
                      edge_layout: str | None = None) -> DataFrame:
    """Edges (src, dst, w) with w = val / out-weight(src), laid out on the
    regime key, persisted and filled — the one edge-sized setup every
    superstep reuses.

    Broadcast regime: partition by the AGGREGATION key (dst). The
    per-superstep SpMV is then a broadcast join + an agg whose
    partitioning is already satisfied -> ZERO exchanges inside the loop;
    only the small rank vector moves (the SUMMA analogue: blocks stay
    put, the vector is the allgather). Shuffle regime: pin the edges to
    the JOIN key (src) so the big side never re-shuffles; the rank
    vector shuffles to meet it and the agg shuffles by dst (AQE-planned,
    skew-join enabled in session.py).

    ``edge_layout="src"`` in the shuffle regime keeps the caller's
    layout (bucketed table): the normalize join is co-partitioned with
    the degree agg, so the whole setup runs exchange-free. Only "src"
    survives the normalize join (it joins on src); a declared "dst"
    layout is destroyed by that join, so honoring it would silently
    trade ONE setup repartition for an edge-sized exchange EVERY
    superstep of the broadcast regime — it is repartitioned instead."""
    w = F.col("val") if weighted and "val" in edges.columns else F.lit(1.0)
    outw = edges.groupBy("src").agg(F.sum(w).alias("_outw"))
    enorm = edges.join(outw, "src").select("src", "dst", (w / F.col("_outw")).alias("w"))
    key = "dst" if can_broadcast else "src"
    if not edge_layout == key == "src":
        shuffle_n = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        enorm = enorm.repartition(shuffle_n, key)
    enorm = enorm.persist(StorageLevel.MEMORY_AND_DISK)
    enorm.count()
    return enorm


def pagerank(
    edges: DataFrame,
    alpha: float = 0.85,
    n_iter: int | None = None,
    tol: float | None = 1e-8,
    max_iter: int = 100,
    weighted: bool = False,
    metrics: list | None = None,
    broadcast_max_vertices: int | None = None,
    runner=None,
    initial_ranks: DataFrame | None = None,
    edge_layout: str | None = None,
    teleport: DataFrame | None = None,
) -> DataFrame:
    """Returns (id, rank) over the vertex set src UNION dst.

    n_iter set -> EXACTLY that many synchronous iterations (used by the
    DuckDB oracle, which unrolls the same recurrence); tol set -> run to
    L1 convergence (used by correctness-vs-numpy tests and bench).

    ``broadcast_max_vertices`` overrides the broadcast-regime threshold
    (None = ``runtime.plans.BROADCAST_MAX_VERTICES``, read per call).

    ``teleport`` switches to PERSONALIZED PageRank: a (id, weight)
    DataFrame of non-negative restart weights (any second column name;
    vertices absent from it get weight 0). Weights are normalized to
    sum 1 internally; the recurrence becomes

        r' = (1-a) * t(v) + a * ( A_norm^T r + dangling_mass * t(v) )

    i.e. both the restart term AND the dangling mass redistribute by
    the teleport distribution (the standard random-surfer-with-
    bookmarks model). The teleport vector is folded into the state as
    one extra column, so the per-superstep plan shape — and the zero-
    exchange property of both regimes — is unchanged. Initial ranks
    default to t(v) itself (the personalized stationary start).

    ``edge_layout`` declares that ``edges`` is ALREADY hash-partitioned
    by that column ("src"/"dst") — e.g. a ``write_bucketed_edges`` table
    read via ``spark.table`` (sources/io.py). When the declared layout
    matches the regime's key, the setup repartition is skipped, and with
    a bucketed-by-src input the whole cold path (degree agg, normalize
    join, cache fill) runs with ZERO edge-sized exchanges — the 100-TB
    cold-start analogue of the reference re-using SpParMat's fixed block
    distribution across calls instead of re-distributing per operation
    (include/CombBLAS/SpParMat.h:62-115). Declarative on purpose: like
    the reference, the caller owns the layout contract; a wrong
    declaration costs an avoidable shuffle downstream, never wrong
    results (hash partitioning only affects placement).
    """
    shuffle_n = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    base = _vertex_base(edges)
    personalized = teleport is not None
    if personalized:
        # fold the normalized restart distribution into the cached base
        # (id, dg, tp) — ONE extra setup join, zero extra loop work.
        tcol = [c for c in teleport.columns if c != "id"][0]
        tdf = teleport.select("id", F.col(tcol).cast("double").alias("_tw"))
        seeded = base.join(tdf, "id", "left").select(
            "id", "dg", F.coalesce(F.col("_tw"), F.lit(0.0)).alias("_tw"))
        ttot = seeded.agg(F.sum("_tw").alias("_tt"))
        # guard: an all-zero / empty teleport distribution would make
        # _tw/_tt NULL for every vertex and every rank silently NULL —
        # fail fast instead (ADVICE r3). One scalar read of the 1-row agg.
        _tt_val = ttot.collect()[0]["_tt"]
        if _tt_val is None or float(_tt_val) <= 0.0:
            raise ValueError(
                "pagerank: teleport distribution sums to zero (empty, "
                "all-zero, or no ids overlap the graph's vertex set)")
        base0 = base
        # the validated scalar re-enters the plan as a literal (same
        # float the crossJoin would have divided by, one job cheaper)
        base = (
            seeded
            .select("id", "dg", (F.col("_tw") / F.lit(float(_tt_val))).alias("tp"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        n = base.count()
        base0.unpersist()
    else:
        n = base.count()
    can_broadcast = broadcastable(n, broadcast_max_vertices)
    enorm = _normalized_edges(edges, weighted, can_broadcast, edge_layout)

    # State vector (id, rank, dg): dg marks dangling vertices (appear as
    # dst but have no out-edges) so the per-superstep dangling mass is a
    # filtered aggregate over the state itself — no join in the loop.
    steps = Supersteps(runner, metrics)
    start_it, state = steps.resume()
    # personalized runs carry the normalized teleport weight as one more
    # state column — same plan shape, one wider row.
    extra = ["tp"] if personalized else []
    if state is None:
        if initial_ranks is not None:
            # warm start (incremental maintenance after edge deltas): seed
            # from a previous run's ranks, fill new vertices uniformly,
            # renormalize to sum 1 — the power iteration then converges in
            # a few supersteps instead of from scratch.
            seeded = base.join(
                initial_ranks.select("id", F.col("rank").alias("_r0")), "id", "left"
            ).select("id", "dg", *extra,
                     F.coalesce(F.col("_r0"), F.lit(1.0 / n)).alias("_r0"))
            total = seeded.agg(F.sum("_r0").alias("_t"))
            state = (
                seeded.crossJoin(F.broadcast(total))
                .select("id", (F.col("_r0") / F.col("_t")).alias("rank"), "dg", *extra)
            )
        elif personalized:
            state = base.select("id", F.col("tp").alias("rank"), "dg", "tp")
        else:
            state = base.select("id", F.lit(1.0 / n).alias("rank"), "dg")
        state = layout_vector(state, n, shuffle_n)
    state = state.localCheckpoint(eager=True)
    base.unpersist()

    iters = n_iter if n_iter is not None else max_iter
    for it in range(start_it, iters):
        # dangling mass: broadcast 1-row aggregate, stays inside the job
        dmass = state.agg(
            F.coalesce(F.sum(F.when(F.col("dg"), F.col("rank"))), F.lit(0.0)).alias("_dm")
        )
        if personalized:
            # restart AND dangling mass redistribute by t(v), not 1/n
            new_rank = (
                F.lit(1.0 - alpha) * F.col("tp")
                + F.lit(alpha)
                * (F.coalesce(F.col("_in"), F.lit(0.0)) + F.col("_dm") * F.col("tp"))
            ).alias("rank")
        else:
            new_rank = (
                F.lit((1.0 - alpha) / n)
                + F.lit(alpha)
                * (F.coalesce(F.col("_in"), F.lit(0.0)) + F.col("_dm") / F.lit(float(n)))
            ).alias("rank")

        # Broadcast regime: broadcast join + an agg whose partitioning the
        # dst-partitioned cached edges already satisfy -> no exchange of
        # the edges. Shuffle regime: the contributions aggregate into
        # HashPartitioning(id, shuffle_n), the layout the state is given;
        # the checkpointed state does not keep it on Spark 4.1, so the
        # stitch exchanges the state by id (ROADMAP open item 5).
        new_state = (
            spmv_step(enorm, state.select("id", F.col("rank").alias("_r")),
                      [F.sum(F.col("w") * F.col("_r")).alias("_in")],
                      state, n, can_broadcast)
            .crossJoin(F.broadcast(dmass))
            .select("id", F.col("rank").alias("_prev"), new_rank, "dg", *extra)
        )

        # tol mode: the L1 delta rides the superstep job itself, observed
        # over |rank - _prev| (the old rank is already in the stitch
        # join) — no separate convergence join+count job. The runner
        # additionally writes durable Parquet on its cadence.
        tol_mode = n_iter is None and tol is not None
        aggs = [F.sum(F.abs(F.col("rank") - F.col("_prev"))).alias("l1_delta")] if tol_mode else []
        state, seen = steps.step(it, new_state, aggs=aggs, keep=["id", "rank", "dg", *extra])
        if tol_mode and seen["l1_delta"] < tol:
            break

    steps.finish(state)
    enorm.unpersist()
    return state.select("id", "rank")


def pagerank_batch(
    edges: DataFrame,
    seeds: list,
    alpha: float = 0.85,
    n_iter: int = 10,
    weighted: bool = False,
) -> DataFrame:
    """Batched single-seed personalized PageRank: B seed vertices share
    ONE power-iteration loop by carrying the rank vector as an
    ``array<double>`` column of length B (component b is seed b's PPR).
    Returns the exploded (id, seed, rank) frame.

    Why batch: each superstep's dominant cost is the edge-sized SpMV
    join+agg; running B separate ``pagerank(teleport=...)`` calls scans
    the edges B times per superstep, this scans them ONCE — the same
    amortization batched Brandes applies to betweenness roots
    (algorithms/betweenness.py). Per-component arithmetic is identical
    to the single-seed recurrence

        r_b' = (1-a) * t_b(v) + a * (A_norm^T r_b + dangling_b * t_b(v))

    with t_b(v) = 1 at seed b else 0, so results match
    ``pagerank(teleport=single-seed)`` component-wise (equality-tested).

    Scale shape mirrors ``pagerank``: edges normalized+persisted once
    on the regime key, broadcast regime keeps the loop exchange-free,
    shuffle regime pins edges by src; the state row just widens by B
    doubles (B=64 on a 10^12-edge graph adds 512 B/vertex — the trade
    is B× fewer edge scans for a B× wider shuffle of the vector side,
    which is edge-count/vertex-count ~16× smaller). All per-component
    expressions are unrolled JVM Columns (array() of aggregates), no
    Python in the loop.
    """
    if not seeds:
        raise ValueError("pagerank_batch: seeds must be non-empty")
    seeds = [int(s) for s in seeds]
    if len(set(seeds)) != len(seeds):
        raise ValueError("pagerank_batch: duplicate seed ids")
    B = len(seeds)
    shuffle_n = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))

    base = _vertex_base(edges)
    n = base.count()
    present = base.filter(F.col("id").isin(seeds)).count()
    if present != B:
        raise ValueError(
            f"pagerank_batch: {B - present} seed id(s) not in the graph's "
            "vertex set (their chains would be identically zero)")
    can_broadcast = broadcastable(n)
    enorm = _normalized_edges(edges, weighted, can_broadcast)

    def _t(b):
        return F.when(F.col("id") == F.lit(seeds[b]), F.lit(1.0)).otherwise(F.lit(0.0))

    state = base.select(
        "id", F.array(*[_t(b) for b in range(B)]).alias("ranks"), "dg")
    state = layout_vector(state, n, shuffle_n).localCheckpoint(eager=True)
    base.unpersist()

    for it in range(n_iter):
        dmass = state.agg(F.array(*[
            F.coalesce(
                F.sum(F.when(F.col("dg"), F.col("ranks")[b])), F.lit(0.0))
            for b in range(B)
        ]).alias("_dm"))
        new_ranks = F.array(*[
            F.lit(1.0 - alpha) * _t(b)
            + F.lit(alpha) * (F.coalesce(F.col("_in")[b], F.lit(0.0))
                              + F.col("_dm")[b] * _t(b))
            for b in range(B)
        ]).alias("ranks")
        new_state = (
            spmv_step(enorm, state.select("id", F.col("ranks").alias("_r")),
                      [F.array(*[F.sum(F.col("_r")[b] * F.col("w"))
                                 for b in range(B)]).alias("_in")],
                      state, n, can_broadcast)
            .crossJoin(F.broadcast(dmass))
            .select("id", new_ranks, "dg")
        )
        state = superstep_checkpoint(new_state, it)

    enorm.unpersist()
    seed_arr = F.array(*[F.lit(s) for s in seeds])
    return (
        state.select("id", F.posexplode("ranks").alias("_pos", "rank"))
        .select("id", F.element_at(seed_arr, F.col("_pos") + 1).alias("seed"), "rank")
    )
