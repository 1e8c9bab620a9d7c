"""Connected components — FastSV-style min-label hooking + pointer jumping.

Follows the shape of the reference's FastSV driver
(Applications/FastSV.h:336-374): per superstep
    gp    = f[f[v]]                       (grandparent gather, Extract)
    mngp  = SpMV<Select2ndMin>(A, gp)      (min grandparent of neighbors)
    hook  = scatter-min mngp[v] onto f[v]  (Assign with MPI_MIN combine)
    f'    = min(f, gp, mngp, hooks)        (EWise mins)
converging when no label changes. Labels converge to the minimum vertex
id of each component — exactly comparable to scipy and to a DuckDB
transitive-closure oracle.

Every step is a join or a groupBy-min; the scatter's duplicate-combining
groupBy (vector_assign) is the skew fix the reference implements by hand
in ReduceAssign (FastSV.h:68-130). The parent vector is broadcast into
the joins while it fits (the reference's adaptive Extract path,
FastSV.h:252-333); the heavy SpMV + mins run as ONE job per superstep
(eager localCheckpoint), with durable resume via runtime.SuperstepRunner.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from combblas_spark.graph import symmetrize_partitioned, vertices
from combblas_spark.runtime.plans import broadcastable, layout_vector, observed_checkpoint
from combblas_spark.runtime.superstep import Supersteps
from combblas_spark.operators.semiring import SELECT2ND_MIN
from combblas_spark.operators.spmv import spmv


def connected_components(
    edges: DataFrame,
    max_iter: int = 50,
    metrics: list | None = None,
    broadcast_max_vertices: int | None = None,
    runner=None,
    initial_labels: DataFrame | None = None,
    assume_symmetric: bool = False,
    edge_layout: str | None = None,
) -> DataFrame:
    """Returns (id, comp) where comp = min vertex id in the component.

    ``initial_labels`` (id, comp) warm-starts the label vector from a
    previous run — the incremental-maintenance path for a continuously
    crawled graph (the reference's Incremental/ pipeline re-clusters
    from prior state for the same reason): after an edge delta, labels
    are already near-minimal almost everywhere, so FastSV converges in
    a couple of supersteps instead of O(diameter). New vertices fall
    back to self-labels. Safe because FastSV's invariant only needs
    f[v] to be the id of SOME vertex in v's component with f-chain
    leading to the minimum — seeding with any previous component id of
    a SUBGRAPH of the current graph preserves it. GROW-ONLY deltas
    only: after edge deletions components can split and stale labels
    would point outside the component — rerun cold in that case.

    ``assume_symmetric`` skips the internal symmetrize union when the
    stored table already holds both edge directions; ``edge_layout``
    ("src"/"dst") additionally declares the table is hash-partitioned on
    that key (a ``write_bucketed_edges`` table read via ``spark.table``,
    sources/io.py) and skips the setup repartition when it matches the
    regime key. Together they make a cold start over a bucketed
    symmetric adjacency exchange-free before the first superstep — the
    same contract as pagerank(edge_layout=...). A wrong layout
    declaration costs an avoidable shuffle, never wrong results
    (assume_symmetric excepted: that one IS a semantic claim about the
    data).

    ``broadcast_max_vertices`` overrides the broadcast-regime threshold
    (None = ``runtime.plans.BROADCAST_MAX_VERTICES``, read per call).
    """
    spark = edges.sparkSession
    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # cache the vertex set: its count decides the regime AND it seeds f —
    # without the persist the union+distinct runs twice (count job +
    # init-checkpoint job)
    verts = vertices(edges).persist(StorageLevel.MEMORY_AND_DISK)
    n_est = verts.count()
    can_broadcast = broadcastable(n_est, broadcast_max_vertices)
    # Edge partitioning per regime, mirroring pagerank.py:
    #  broadcast regime: partition by dst = the SpMV AGGREGATION key —
    #    the broadcast join preserves it, so the min-neighbor agg needs
    #    no edge-sized exchange at all.
    #  shuffle regime: partition by src = the JOIN key — the cached edges
    #    never re-shuffle (the vector shuffles to meet them); the agg's
    #    dst exchange is then the ONE edge-sized move per superstep.
    #    (dst partitioning here would pay BOTH: a join shuffle by src
    #    AND the agg exchange — measured 2x superstep cost at RMAT-22.)
    part_key = "dst" if can_broadcast else "src"
    if assume_symmetric:
        sym = edges.select("src", "dst")
        if edge_layout != part_key:
            sym = sym.repartition(shuffle_n, part_key)
    else:
        # one fused exchange: dedup rides on the layout partitioning
        sym = symmetrize_partitioned(edges, part_key, shuffle_n)
    sym = sym.persist(StorageLevel.MEMORY_AND_DISK)
    sym.count()

    steps = Supersteps(runner, metrics)
    start_it, f = steps.resume()
    if f is None:
        if initial_labels is not None:
            f = (
                verts.join(
                    initial_labels.select("id", F.col("comp").alias("_w")),
                    "id", "left")
                .select("id", F.coalesce(F.col("_w"), F.col("id")).alias("val"))
            )
        else:
            f = verts.select("id", F.col("id").alias("val"))
        f = layout_vector(f, n_est, shuffle_n)
    f = f.localCheckpoint(eager=True)
    verts.unpersist()

    for it in range(start_it, max_iter):
        fv = F.broadcast(f) if can_broadcast else f
        # grandparent: gp[v] = f[f[v]]  (gp is dense: every vertex has one)
        gp = (
            fv.select("id", F.col("val").alias("_p"))
            .join(fv.select(F.col("id").alias("_p"), F.col("val").alias("gpv")), "_p")
            .select("id", F.col("gpv").alias("val"))
        )
        # min grandparent among neighbors (sym edges -> both directions).
        # mngp feeds BOTH the union-min and the hooks join; broadcast-
        # regime plans have no reusable exchange, so persist it to avoid
        # running the edge-sized SpMV twice inside the superstep job.
        mngp = spmv(sym, gp, SELECT2ND_MIN, broadcast_vector=can_broadcast).persist()
        # hooking: push mngp[v] onto the parent f[v]
        hooks = (
            fv.select("id", F.col("val").alias("_p"))
            .join(mngp.withColumnRenamed("val", "_m"), "id")
            .select(F.col("_p").alias("id"), F.col("_m").alias("val"))
        )
        # f' = min(f, gp, mngp, hooks): gp is dense, so one UNION + one
        # groupBy-min emits the full next vector — no left join needed
        # (identical mngp/gp subtrees are deduped by ReuseExchange)
        # f' = min over a union of vector-sized inputs; the agg output is
        # HashPartitioning(id, shuffle_n), which the state keeps across
        # supersteps. The f branch carries its value twice (val + _old),
        # so the same aggregation yields both the new label AND the old
        # one — the changed-count then rides the superstep job itself,
        # observed by ``Supersteps.step`` (MPI_Allreduce fused into the
        # superstep; no separate convergence join+count job). Labels
        # stay longs end to end: a double compare would equate ids >=
        # 2^53 less than one ulp apart and stop the loop early.
        no_old = F.lit(None).cast("long")
        new_f = (
            f.withColumn("_old", F.col("val"))
            .unionByName(gp.withColumn("_old", no_old))
            .unionByName(mngp.withColumn("_old", no_old))
            .unionByName(hooks.withColumn("_old", no_old))
            .groupBy("id")
            .agg(F.min("val").alias("val"), F.min("_old").alias("_old"))
        )
        f, seen = steps.step(
            it, layout_vector(new_f, n_est), keep=["id", "val"],
            aggs=[F.sum((F.col("val") < F.col("_old")).cast("long")).alias("changed")])
        mngp.unpersist()
        if not seen["changed"]:
            break

    steps.finish(f)
    sym.unpersist()
    return f.select("id", F.col("val").alias("comp"))


def connected_components_as(
    edges: DataFrame,
    max_iter: int = 100,
) -> DataFrame:
    """Awerbuch–Shiloach / LACC-style connected components — the
    reference's second CC algorithm (Applications/CC.h:1405-1544:
    ConditionalHook :1195, UnconditionalHook2 :1243, StarCheck :1070,
    Shortcut :1322). Kept as an alternate to FastSV
    (connected_components) and equivalence-tested against it.

    Per superstep over the parent forest f:
      star check : EXACT star detection in two joins — bad = vertices
                   with gp(v) != f(v); marked roots = gp[bad]; a vertex
                   is in a star iff it is not bad AND its parent is not
                   marked (every vertex of a non-star tree is caught,
                   any depth — see test equivalence suite).
      cond hook  : star vertices u with an edge to v where f(v) < f(u)
                   hook their root onto min f(v)  (min-combined scatter,
                   the reference's MPI_MIN Assign).
      uncond hook: stars still stagnant hook onto a NON-star neighbor
                   tree (never star->star, the reference's cycle-free
                   rule in UnconditionalHook2).
      shortcut   : f = f[f]  (pointer halving).
    The UNCONDITIONAL hook may attach a stagnant star to a LARGER
    neighbor label (it must — that is what breaks stagnation), so the
    converged forest's root ids are NOT the component minima. A final
    LabelCC-style relabel (the reference does the same, CC.h:1384:
    roots get dense labels after convergence; ours canonicalizes to
    min member id) maps every tree to min(id) over its members, making
    the output identical to FastSV's. Review finding r4: without the
    relabel, edges {0-8,8-7,7-6,6-5,7-9} converged to comp=5 for all
    six vertices — the minimum label 0 was hooked away and lost.
    """
    spark = edges.sparkSession
    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    verts = vertices(edges)
    sym = symmetrize_partitioned(edges, "src", shuffle_n).select("src", "dst")
    sym = sym.persist(StorageLevel.MEMORY_AND_DISK)
    sym.count()

    f = verts.select("id", F.col("id").alias("val")).localCheckpoint(eager=True)

    for it in range(max_iter):
        fv = f
        # grandparent
        gp = (
            fv.select("id", F.col("val").alias("_p"))
            .join(fv.select(F.col("id").alias("_p"), F.col("val").alias("gpv")), "_p")
            .select("id", F.col("_p").alias("pv"), "gpv")
            .localCheckpoint(eager=True)
        )
        bad = gp.filter(F.col("gpv") != F.col("pv"))
        # no distinct: marked only feeds a left_anti join (dups harmless)
        marked = bad.select(F.col("gpv").alias("mid"))
        star = (
            gp.join(bad.select("id"), "id", "left_anti")
            .join(marked, gp["pv"] == F.col("mid"), "left_anti")
            .select("id", "pv")
            .localCheckpoint(eager=True)
        )  # (id, pv=f(id)) for star vertices only

        # conditional hooking: star u, edge (u,v), f(v) < f(u)
        fu = star.select(F.col("id").alias("src"), F.col("pv").alias("_fu"))
        fvv = f.select(F.col("id").alias("dst"), F.col("val").alias("_fv"))
        cond = (
            sym.join(fu, "src").join(fvv, "dst")
            .filter(F.col("_fv") < F.col("_fu"))
            .groupBy(F.col("_fu").alias("id"))
            .agg(F.min("_fv").alias("hook"))
        )
        f1 = (
            f.join(cond, "id", "left")
            .select("id", F.least(F.col("val"), F.coalesce(F.col("hook"), F.col("val"))).alias("val"))
            .localCheckpoint(eager=True)
        )

        # unconditional hooking: still-stagnant stars (root unhooked)
        # hook onto a NON-star neighbor's parent (cycle-free rule)
        hooked_roots = cond.select("id")
        stagnant = star.join(
            hooked_roots.withColumnRenamed("id", "pv"), "pv", "left_semi"
        )  # stars whose root hooked: NOT stagnant -> invert below
        stag_star = star.join(stagnant.select("id"), "id", "left_anti")
        nonstar_pv = (
            gp.select("id", "pv")
            .join(star.select("id"), "id", "left_anti")  # non-star vertices
        )
        su = stag_star.select(F.col("id").alias("src"), F.col("pv").alias("_fu"))
        nv = nonstar_pv.select(F.col("id").alias("dst"), F.col("pv").alias("_fv"))
        uncond = (
            sym.join(su, "src").join(nv, "dst")
            .filter(F.col("_fv") != F.col("_fu"))
            .groupBy(F.col("_fu").alias("id"))
            .agg(F.min("_fv").alias("hook"))
        )
        f2 = (
            f1.join(uncond, "id", "left")
            .select("id", F.coalesce(F.col("hook"), F.col("val")).alias("val"))
            .localCheckpoint(eager=True)
        )

        # shortcut: f = f[f], with fused change detection
        new_f = (
            f2.select("id", F.col("val").alias("_p"))
            .join(f2.select(F.col("id").alias("_p"), F.col("val").alias("_gp")), "_p")
            .select("id", F.col("_gp").alias("val"), F.col("_p").alias("_prev_link"))
        )
        old = f.select("id", F.col("val").alias("_old"))
        new_f, seen = observed_checkpoint(
            new_f.join(old, "id"), it,
            [F.sum((F.col("val") != F.col("_old")).cast("long")).alias("changed")],
            keep=["id", "val"])
        gp.unpersist()
        f = new_f
        if seen["changed"] == 0:
            break

    sym.unpersist()
    # LabelCC relabel: canonical component label = min member id per
    # converged root (one agg + one join, OUTSIDE the loop — same cost
    # class as the reference's LabelCC pass, CC.h:1384).
    canon = f.groupBy(F.col("val").alias("_root")).agg(F.min("id").alias("comp"))
    return f.join(canon, f["val"] == canon["_root"]).select("id", "comp")


def robustness_curve(
    edges: DataFrame,
    levels: tuple[int, ...] = (250, 500, 750),
    denom: int = 1000,
    seed: int = 7,
) -> DataFrame:
    """Bond-percolation robustness curve: for each keep-rate
    ``lvl/denom``, retain an undirected edge {a,b} iff the counter-hash
    of its canonical pair key (least:greatest:seed, the walks.py md5
    rule — both directions decided together) lands below the rate,
    then measure the surviving component structure. The curve
    (n_components, giant_size vs keep rate) is the standard
    link-graph resilience / percolation-threshold diagnostic.

    Returns one row per level: (keep_permille, n_edges, n_components,
    giant_size), where n_edges counts distinct surviving undirected
    pairs and EVERY original vertex stays in the universe (isolated
    survivors are singleton components — the percolation reading).

    Scale shape: |levels| FastSV runs over hash-filtered edge subsets
    (the filter is pushed into the edge scan; sampling needs no
    shuffle), each followed by one vertex-sized stitch + two hash
    aggregates; per-level stats join as broadcast 1-row aggregates.
    Deterministic across engines and partitionings (md5 rule, integer
    counts).
    """
    if not levels:
        raise ValueError("robustness_curve: need at least one level")
    if any(lv < 0 or lv > denom for lv in levels):
        raise ValueError(f"robustness_curve: levels must be in [0, {denom}]")
    lo, hi = F.least("src", "dst"), F.greatest("src", "dst")
    key = F.concat_ws(":", lo.cast("string"), hi.cast("string"),
                      F.lit(str(seed)))
    h = F.conv(F.substring(F.md5(key.cast("binary")), 1, 8), 16, 10) \
        .cast("long") % denom
    verts = vertices(edges).persist(StorageLevel.MEMORY_AND_DISK)
    verts.count()
    out = None
    for lvl in sorted(levels):
        kept = edges.where((F.col("src") != F.col("dst")) & (h < lvl))
        pairs = kept.select(lo.alias("a"), hi.alias("b")).distinct()
        # ONE action per level: the pair count doubles as the emptiness
        # test and folds back in as a literal (no crossJoin stitch).
        n_edges = pairs.count()
        if n_edges == 0:
            comp = verts.select("id", F.col("id").alias("comp"))
        else:
            cc = connected_components(kept)
            comp = (
                verts.join(cc, "id", "left")
                .select("id", F.coalesce("comp", F.col("id")).alias("comp"))
            )
        row = (
            comp.groupBy("comp").agg(F.count(F.lit(1)).alias("_sz"))
            .agg(F.count(F.lit(1)).alias("n_components"),
                 F.max("_sz").alias("giant_size"))
            .select(F.lit(lvl).cast("long").alias("keep_permille"),
                    F.lit(n_edges).cast("long").alias("n_edges"),
                    "n_components", "giant_size")
        )
        out = row if out is None else out.unionByName(row)
    result = out.localCheckpoint(eager=True)
    verts.unpersist()
    return result
