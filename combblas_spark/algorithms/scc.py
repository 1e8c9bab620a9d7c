"""Strongly connected components + Broder bow-tie decomposition.

Not in the reference (CombBLAS ships undirected CC only — FastSV,
Awerbuch-Shiloach); SCC is the directed-webgraph counterpart every
link-graph user needs for the Broder et al. (2000) bow-tie analysis of
a crawl. Algorithm: the Trim + Forward-coloring + constrained-backward-
reach family (Orzan 2004; Slota/Rajamanickam/Madduri IPDPS'14), which
is the standard label-propagation formulation for BSP engines:

  outer round:
    1. TRIM to fixpoint: a vertex with no in-edges or no out-edges
       inside the active subgraph is a singleton SCC — peel it. This
       alone strips the tendrils/tubes of a real webgraph.
    2. COLOR: propagate c(v) = max(v, c(u) for u -> v) along forward
       edges to fixpoint. Color classes partition the active set so
       that each SCC lies entirely inside one class.
    3. BACKWARD REACH: from each color root r (c(r) = r), walk
       reversed edges restricted to vertices of the same color; the
       visited set is EXACTLY SCC(r) (classic FW-BW intersection:
       within the class everything is forward-reachable from r).
       All roots advance in one frontier keyed (color, id): one
       ``frontier_closure`` keyed by color, ``within`` the colouring.
    4. Peel every discovered SCC (one per color class, many per
       round), relabel as min member id, repeat on the remainder.

Scale notes: every step is vertex/edge joins + aggs on the SAME
src- and dst-keyed shapes as the other supersteps here (no driver
loops over components — all color roots are processed in one batched
frontier). Worst case (a reverse-topologically-ordered chain) needs
O(n) outer rounds like every coloring SCC; real webgraphs are giant-
SCC + shallow periphery, where trim + one or two rounds finish (the
bow-tie structure itself is why). ``max_rounds`` guards the
pathological case.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from combblas_spark.graph import simple_adjacency, vertices
from combblas_spark.operators.spmv import frontier_closure
from combblas_spark.runtime.plans import observed_checkpoint


def strongly_connected_components(
    edges: DataFrame,
    max_rounds: int = 64,
    max_inner: int = 256,
) -> DataFrame:
    """Returns (id, scc) over the vertex set src UNION dst, scc = min
    vertex id of the component (same labeling convention as
    connected_components, so the two are drop-in comparable).

    Raises RuntimeError if ``max_inner`` (coloring / backward reach) or
    ``max_rounds`` is exhausted before fixpoint — those loops exiting
    early would silently emit SPLIT components (stale colors become
    false roots) or drop vertices, so non-convergence must be loud,
    never wrong (ADVICE r3). The TRIM loop is the exception: trim is a
    pure graph-shrinking optimization, so hitting its cap just carries
    the un-trimmed trivial vertices into the (correct) color/reach
    phases. Empty edge input returns an empty (id, scc) frame."""
    spark = edges.sparkSession
    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))

    e = simple_adjacency(edges, "src", directed=True)
    # n_act: rows of act, read on the job that checkpoints it
    act, seen = observed_checkpoint(vertices(edges).select("id"), 0,
                                    [F.count(F.lit(1)).alias("n")])
    n_act = seen["n"]
    done: DataFrame | None = None  # (id, scc)
    step = 0

    def _peel(assigned: DataFrame) -> None:
        """Fold (id, scc) rows into the result and shrink the graph."""
        nonlocal done, act, n_act, e
        assigned = assigned.localCheckpoint(eager=True)
        done = assigned if done is None else done.unionByName(assigned)
        act, seen = observed_checkpoint(
            act.join(assigned.select("id"), "id", "left_anti"), step,
            [F.count(F.lit(1)).alias("n")])
        n_act = seen["n"]
        old = e
        e = (e.join(assigned.select(F.col("id").alias("src")), "src", "left_anti")
             .join(assigned.select(F.col("id").alias("dst")), "dst", "left_anti")
             .repartition(shuffle_n, "src")
             .persist(StorageLevel.MEMORY_AND_DISK))
        e.count()
        old.unpersist()

    for _ in range(max_rounds):
        if n_act == 0:
            break
        # ---- 1. trim to fixpoint: no in- or no out-edges -> singleton
        for _t in range(max_inner):
            step += 1
            has_out = e.select(F.col("src").alias("id")).distinct()
            has_in = e.select(F.col("dst").alias("id")).distinct()
            trivial = (
                act.join(has_out.join(has_in, "id"), "id", "left_anti")
                .select("id", F.col("id").alias("scc"))
            )
            trivial, seen = observed_checkpoint(trivial, step, [F.count(F.lit(1)).alias("n")])
            if seen["n"] == 0:
                break
            _peel(trivial)
        # NO raise on trim-cap exhaustion (unlike coloring/backward
        # reach below): trim only SHRINKS the graph; un-trimmed trivial
        # vertices are still labeled correctly by phases 2-3 (a no-in
        # vertex keeps color=id and is its own color root; a no-out
        # vertex is peeled once its singleton SCC's root round comes).
        # A long peel chain (e.g. a directed path deeper than
        # max_inner) therefore proceeds, just with less pre-shrinking.
        if n_act == 0:
            break

        # ---- 2. forward max-coloring to fixpoint
        c = act.select("id", F.col("id").alias("color"))
        c = c.repartition(shuffle_n, "id").localCheckpoint(eager=True)
        for _p in range(max_inner):
            step += 1
            inc = (
                e.join(c.select(F.col("id").alias("src"),
                                F.col("color").alias("_cu")), "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.max("_cu").alias("_cin"))
            )
            cin = F.coalesce(F.col("_cin"), F.lit(-1))
            c, seen = observed_checkpoint(
                c.join(inc, "id", "left"), step,
                [F.sum((cin > F.col("color")).cast("long")).alias("changed")],
                keep=["id", F.greatest(F.col("color"), cin).alias("color")])
            if seen["changed"] == 0:
                break
        else:
            # stale c(v)=v rows would become FALSE color roots and step
            # 3 would emit split SCCs — never continue past the cap.
            raise RuntimeError(
                f"scc: forward coloring did not converge in "
                f"max_inner={max_inner} steps (graph has a forward path "
                f"deeper than the cap); raise max_inner")

        # ---- 3. constrained backward reach from every color root
        # frontier keyed (color, id); expand along REVERSED edges into
        # same-colored vertices only
        roots = c.where(F.col("id") == F.col("color")).select("color", "id")
        visited, depth = frontier_closure(e, roots, keys=["color"], on="dst", out="src",
                                          within=c, max_depth=max_inner)
        if depth == max_inner:
            raise RuntimeError(
                f"scc: backward reach did not close in "
                f"max_inner={max_inner} steps; raise max_inner "
                f"(incomplete visited sets would split SCCs)")

        # ---- 4. peel: each color's visited set is one SCC; label min
        lab = visited.groupBy("color").agg(F.min("id").alias("scc"))
        _peel(visited.join(lab, "color").select("id", "scc"))
    else:
        if n_act:
            raise RuntimeError(
                f"scc: {n_act} vertices still active after "
                f"max_rounds={max_rounds} outer rounds; raise max_rounds "
                f"(returning would silently omit them)")

    e.unpersist()
    if done is None:
        # empty edge input: no vertices, empty (id, scc) frame
        return act.select("id", F.col("id").alias("scc")).limit(0)
    return done.select("id", "scc")


def bow_tie(
    edges: DataFrame,
    scc: DataFrame | None = None,
) -> DataFrame:
    """Broder et al. (2000) bow-tie decomposition relative to the
    LARGEST SCC (ties broken by min scc label): returns (id, region)
    with region in {'CORE','IN','OUT','TENDRIL','DISCONNECTED'}.

    IN  = reaches the core, not in it;  OUT = reached from the core;
    TENDRIL = weakly connected to the core but neither (includes the
    tubes); DISCONNECTED = everything else. Computed as three
    ``frontier_closure`` calls (forward and backward from the core,
    then undirected from everything they reached) — all reusing the
    SCC result, no per-vertex driver work."""
    if scc is None:
        scc = strongly_connected_components(edges)
    scc = scc.persist(StorageLevel.MEMORY_AND_DISK)

    # largest SCC, min-label tiebreak — a 1-row broadcastable aggregate
    top = (scc.groupBy("scc").agg(F.count(F.lit(1)).alias("_n"))
           .orderBy(F.col("_n").desc(), F.col("scc").asc()).limit(1)
           .select(F.col("scc").alias("_core")))
    core = scc.join(F.broadcast(top), scc["scc"] == F.col("_core")) \
              .select("id").localCheckpoint(eager=True)

    e = simple_adjacency(edges, "src", directed=True)
    sym = simple_adjacency(edges, "src")
    fwd, _ = frontier_closure(e, core)                          # core + OUT
    bwd, _ = frontier_closure(e, core, on="dst", out="src")     # core + IN
    # weak connectivity to the core: the closure on the symmetrized
    # graph seeded with core|fwd|bwd (anything already classified)
    weak, _ = frontier_closure(
        sym, fwd.select("id").unionByName(bwd.select("id")).distinct())
    sym.unpersist()

    out = (
        scc.select("id")
        .join(core.select("id", F.lit(1).alias("_c")), "id", "left")
        .join(fwd.select("id", F.lit(1).alias("_f")), "id", "left")
        .join(bwd.select("id", F.lit(1).alias("_b")), "id", "left")
        .join(weak.select("id", F.lit(1).alias("_w")), "id", "left")
        .select(
            "id",
            F.when(F.col("_c") == 1, F.lit("CORE"))
            .when(F.col("_b") == 1, F.lit("IN"))
            .when(F.col("_f") == 1, F.lit("OUT"))
            .when(F.col("_w") == 1, F.lit("TENDRIL"))
            .otherwise(F.lit("DISCONNECTED")).alias("region"),
        )
    )
    out = out.localCheckpoint(eager=True)
    scc.unpersist()
    e.unpersist()
    return out


def condensation(edges: DataFrame, scc: DataFrame | None = None) -> DataFrame:
    """Condensation DAG of the directed graph: one vertex per SCC, one
    edge (src_scc, dst_scc, weight) per ordered pair of distinct
    components with at least one original edge between them; weight =
    number of distinct original (src, dst) edges collapsed onto it.

    The acyclic quotient is what crawl-structure analyses run on after
    bow_tie: it is typically orders of magnitude smaller than the page
    graph (Broder 2000 measured ~25% of vertices in the giant SCC
    alone). Cost: two scc-label joins on the edge endpoints + one hash
    aggregate — the Galerkin R A R^T triple product of
    operators/spgemm.py specialised to the 0/1 SCC-membership R.
    """
    if scc is None:
        scc = strongly_connected_components(edges)
    de = edges.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()
    return (
        de.join(scc.select(F.col("id").alias("src"),
                           F.col("scc").alias("src_scc")), "src")
        .join(scc.select(F.col("id").alias("dst"),
                         F.col("scc").alias("dst_scc")), "dst")
        .where(F.col("src_scc") != F.col("dst_scc"))
        .groupBy("src_scc", "dst_scc")
        .agg(F.count(F.lit(1)).alias("weight"))
    )


def condensation_levels(cedges: DataFrame, max_rounds: int = 1024) -> DataFrame:
    """Longest-path topological level of every condensation vertex:
    level(c) = 0 for sources, else 1 + max(level(pred)). Returns
    (scc, level) over src_scc UNION dst_scc.

    The level is the canonical DAG layering (a topological order key +
    the crawl-depth proxy: how many component hops separate a page
    cluster from the crawl's source layer). Iteration is the max-plus
    Bellman recurrence — level_{t+1}(v) = max(level_t(v), 1 + max over
    preds level_t(u)) — which converges in DAG-depth rounds; every
    round is one src-keyed join + one dst-keyed hash agg, the same
    superstep shape as SSSP (this IS SSSP under the (max, +1) semiring
    on the negated-cost view).

    Raises RuntimeError on ``max_rounds`` exhaustion: on a true DAG the
    depth is < #vertices, so non-convergence means the input has a
    cycle (not a condensation) and a silent cap would emit wrong
    levels.
    """
    ce = cedges.select("src_scc", "dst_scc").distinct().persist()
    lev = (
        ce.select(F.col("src_scc").alias("scc"))
        .unionByName(ce.select(F.col("dst_scc").alias("scc")))
        .distinct()
        .select("scc", F.lit(0).alias("level"))
        .localCheckpoint(eager=True)
    )
    for r in range(max_rounds):
        cand = (
            ce.join(lev.withColumnRenamed("scc", "src_scc"), "src_scc")
            .groupBy(F.col("dst_scc").alias("scc"))
            .agg((F.max("level") + 1).alias("_nl"))
        )
        # a level changes exactly where a predecessor offers a higher
        # one: counted on the round's own checkpoint job
        lev, seen = observed_checkpoint(
            lev.join(cand, "scc", "left"), r,
            [F.sum((F.col("_nl") > F.col("level")).cast("long")).alias("changed")],
            keep=["scc", F.greatest("level", F.coalesce("_nl", F.lit(0))).alias("level")])
        if seen["changed"] == 0:
            ce.unpersist()
            return lev
    ce.unpersist()
    raise RuntimeError(
        f"condensation_levels did not converge in {max_rounds} rounds — "
        "input contains a cycle (not a DAG) or raise max_rounds")
