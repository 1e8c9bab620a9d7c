"""k-core — the maximal subgraph with minimum (undirected) degree >= k.

Not in the reference; k-core peeling is the standard web/social graph
noise filter (drop pendant/low-connectivity pages before community or
centrality analysis — Seidman 1983, and the decomposition behind
WebGraph's "core" statistics). It is the iterated composition of two
primitives the engine already exposes: Reduce(Row, plus) for degrees +
PruneRowsCols on the survivor set (SURVEY.md §2.3/§2.4) — expressed
here as one fused loop.

Peeling is monotone: the alive set only shrinks, so
* equal alive-count two rounds in a row == fixed point (termination),
* the result is partitioning-invariant and oracle-replayable by a
  fixed unroll (extra unrolled rounds past convergence are no-ops).

Scale design: the symmetric adjacency is cached ONCE partitioned by
dst (the degree-agg key — clustering satisfied, zero edge exchange per
round); the alive set enters each round as two broadcast semi-joins
while it fits (vertex-sized), else AQE-planned shuffle semi-joins. The
degree count is map-side combinable; the alive count rides the
checkpoint job (``runtime.plans.observed_checkpoint``) — ONE job per
peel round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from combblas_spark.graph import simple_adjacency, vertices
from combblas_spark.runtime.plans import (
    broadcastable,
    layout_vector,
    observed_checkpoint,
)


def _peel_loop(
    edges: DataFrame,
    sym: DataFrame,
    round_agg,
    threshold,
    op_name: str,
    max_rounds: int,
) -> DataFrame:
    """Shared threshold-peel driver for k_core / s_core: iterate
    (per-alive-subgraph aggregate over ``sym`` grouped by dst) >=
    ``threshold`` until the alive set stops shrinking. ``round_agg`` is
    the aggregate Column (count for degree, sum(w) for strength) —
    the ONLY thing that differs between the peels besides the sym
    build. Same termination/maximality contract everywhere: equal
    alive-count two rounds running is the fixed point, cap exhaustion
    raises (a truncated peel is a SUPERSET of the core).

    ``sym`` must be persisted by the caller (it is unpersisted here)."""
    spark = edges.sparkSession
    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    verts = vertices(edges).select("id")
    n0 = verts.count()
    can_broadcast = broadcastable(n0)

    alive = layout_vector(verts, n0, shuffle_n).localCheckpoint(eager=True)
    prev_n = None
    converged = n0 == 0
    for r in range(max_rounds):
        av = alive.select(F.col("id"))
        bc = F.broadcast(av) if can_broadcast else av
        # aggregate within the alive-induced subgraph: both endpoints
        # alive. semi-join on src first (filters the edge stream), dst
        # filter rides the aggregation's own key via the post-agg
        # semi-join.
        agg = (
            sym.join(bc.withColumnRenamed("id", "src"), "src", "left_semi")
            .groupBy(F.col("dst").alias("id"))
            .agg(round_agg.alias("_d"))
            .join(bc, "id", "left_semi")
        )
        alive, seen = observed_checkpoint(
            layout_vector(agg.filter(F.col("_d") >= threshold).select("id"), n0, shuffle_n),
            r, [F.count(F.lit(1)).alias("n")])
        n_alive = seen["n"]
        if n_alive == 0 or n_alive == prev_n:
            converged = True
            break
        prev_n = n_alive

    sym.unpersist()
    if not converged:
        # peel depth can exceed any fixed cap (a path of 2L+1 vertices
        # needs L rounds at k=2); a silent return would be a SUPERSET of
        # the core — same maximality contract as mis.py/matching.py
        raise RuntimeError(
            f"{op_name} did not converge within max_rounds={max_rounds}; "
            "raise max_rounds (each round is one aggregate job)")
    return alive


def k_core(
    edges: DataFrame,
    k: int,
    max_rounds: int = 100,
) -> DataFrame:
    """Returns (id) — the vertices of the k-core of the undirected,
    de-looped graph underlying ``edges``. Empty result if no k-core."""
    sym = simple_adjacency(edges, "dst")
    return _peel_loop(edges, sym, F.count(F.lit(1)), k, "k_core", max_rounds)


def s_core(
    edges: DataFrame,
    s: int,
    weight_col: str | None = None,
    max_rounds: int = 100,
) -> DataFrame:
    """Weighted k-core ("s-core", Eidsaa & Almaas, PRL 2013): the
    maximal subgraph in which every vertex's STRENGTH — the sum of its
    incident integer edge weights within the subgraph — is >= ``s``.
    Returns (id).

    ``weight_col`` names a NON-NEGATIVE integer-valued edge weight
    (cast to long — exact in any aggregation order, the same
    integer-portability rule as the other peels; negative weights
    would break peel monotonicity, so they raise). None means weight 1
    per edge ROW.

    MULTIGRAPH semantics: every directed edge row contributes its
    weight to both endpoints — parallel rows AND reciprocal directed
    pairs (u->v plus v->u) each count. That is the natural weighted
    view of a link multigraph, but it means unit-weight s_core equals
    k_core ONLY on inputs with no reciprocal pairs/parallel rows
    (k_core dedups to the simple undirected graph first); on a graph
    with mutual links, s_core(.., 2) keeps a mutual pair that
    k_core(.., 2) peels. Pre-aggregate to canonical undirected edges
    yourself if you want simple-graph strength.

    Peel driver (loop/termination/maximality contract and per-round
    plan shape) is shared with k_core — see _peel_loop.
    """
    spark = edges.sparkSession
    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    w = (F.col(weight_col).cast("long") if weight_col is not None
         else F.lit(1).cast("long"))
    e = (
        edges.filter(F.col("src") != F.col("dst"))
        .select("src", "dst", w.alias("w"))
    )
    sym = (
        e.unionByName(e.select(F.col("dst").alias("src"),
                               F.col("src").alias("dst"), "w"))
        .repartition(shuffle_n, "dst")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sym.count()
    if weight_col is not None:
        mn = sym.agg(F.min("w").alias("m")).collect()[0]["m"]
        if mn is not None and mn < 0:
            sym.unpersist()
            raise ValueError(
                f"s_core: weight_col {weight_col!r} contains negative "
                f"values (min {mn}); the peel is only correct for "
                "non-negative weights")
    return _peel_loop(edges, sym, F.sum("w"), s, "s_core", max_rounds)


def core_numbers(
    edges: DataFrame,
    max_iters: int = 100,
) -> DataFrame:
    """Full coreness decomposition (id, core) via distributed h-index
    iteration (Lü et al., "The H-index of a network node", 2016):
    c_0 = degree; c_{t+1}(v) = H-index of the multiset {c_t(u) : u ~ v}.
    Converges to the exact core number in a data-dependent number of
    rounds (monotone non-increasing, integer-bounded — same termination
    argument as k_core).

    The per-vertex H-index is an ordered-neighbor-rank aggregate: sort
    each vertex's neighbor core values descending and take the largest
    rank r with value >= r — one groupBy + window per round, clustered
    on the cached dst partitioning."""
    from pyspark.sql import Window

    sym = simple_adjacency(edges, "dst")

    core, seen = observed_checkpoint(
        sym.groupBy(F.col("dst").alias("id")).agg(F.count(F.lit(1)).alias("core")), 0,
        [F.sum("core").alias("s"), F.count(F.lit(1)).alias("n")])
    prev_s = seen["s"]

    can_broadcast = broadcastable(seen["n"])
    converged = prev_s == 0
    for t in range(max_iters):
        cv = core.select(F.col("id").alias("src"), F.col("core").alias("_c"))
        if can_broadcast:
            cv = F.broadcast(cv)
        w = Window.partitionBy("dst").orderBy(F.col("_c").desc())
        new_core = (
            sym.join(cv, "src")
            .select("dst", "_c", F.row_number().over(w).alias("_r"))
            .filter(F.col("_c") >= F.col("_r"))
            .groupBy(F.col("dst").alias("id"))
            .agg(F.max("_r").alias("core"))
        )
        core, seen = observed_checkpoint(new_core, t, [F.sum("core").alias("s")])
        s = seen["s"]
        if s == prev_s:
            converged = True
            break
        prev_s = s

    sym.unpersist()
    if not converged:
        raise RuntimeError(
            f"core_numbers did not converge within max_iters={max_iters}; "
            "raise max_iters (h-index iteration is monotone, so more "
            "rounds always make progress)")
    # c0 is a count (long) but h-index iterations produce int ranks —
    # pin the output dtype so it doesn't depend on the iteration count
    return core.select("id", F.col("core").cast("long").alias("core"))
