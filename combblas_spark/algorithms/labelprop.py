"""Synchronous label propagation with deterministic min-label tie-break.

Not in the reference (north rule requires it); expressed as the "most
frequent neighbor label" semiring from SURVEY.md §2.6: a mode/argmax
aggregate is not a single Spark agg, so it is the documented two-stage
groupBy (count per (vertex,label)) + per-vertex argmax — a hash-agg
`min_by(label, struct(-count, label))` — with a deterministic
min-label tie-break, which keeps results EXACT and
SQL-oracle-comparable.

Rounds are synchronous and fixed-count (n_rounds) so the DuckDB oracle
can unroll the identical recurrence.

Scale design (same recipe as pagerank.py, measured there):
* sym edges pre-partitioned ONCE by dst — the per-round count-agg
  groups by (dst, label), and HashPartitioning(dst) satisfies that
  clustering, so no edge-sized exchange per round; the argmax
  aggregate (group key id=dst) reuses the same partitioning.
* the label vector is broadcast into the join while it fits; the final
  stitch is ``operators.spmv.stitch``: a broadcast join while the vector
  was broadcast and is small, else co-partitioned.
* resumable via runtime.SuperstepRunner (state = the label vector).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from combblas_spark.portable import pround

from combblas_spark.operators.spmv import stitch
from combblas_spark.runtime.plans import (
    broadcastable,
    layout_vector,
    superstep_checkpoint,
)
from combblas_spark.runtime.superstep import Supersteps
from combblas_spark.graph import symmetrize_partitioned, vertices


def label_propagation(
    edges: DataFrame,
    n_rounds: int = 5,
    metrics: list | None = None,
    broadcast_max_vertices: int | None = None,
    runner=None,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Returns (id, label). Initial label = vertex id; each round every
    vertex adopts the most frequent label among its (undirected)
    neighbors, ties broken by smallest label; vertices with no
    neighbors keep their label (none here: vertex set = src+dst).

    ``seeds`` switches to SEMI-SUPERVISED propagation (the
    webspam/topic-classification pattern, complementing trustrank): a
    (id, label) DataFrame of known labels. Seeds stay CLAMPED to their
    label every round; all other vertices start UNLABELED (null) and
    adopt the most frequent labeled neighbor label (min tie-break);
    vertices never reached by any label stay null. Same plan shape —
    the clamp rides the state as one extra column, and unlabeled
    neighbors are filtered from the vote before the join.

    ``broadcast_max_vertices`` overrides the broadcast-regime threshold
    (None = ``runtime.plans.BROADCAST_MAX_VERTICES``, read per call)."""
    spark = edges.sparkSession
    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # one fused exchange: the (src,dst) dedup rides the dst partitioning
    sym = (
        symmetrize_partitioned(edges, "dst", shuffle_n).select("src", "dst")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sym.count()
    # cache the vertex set: its count decides the regime AND it seeds the
    # labels — without the persist the union+distinct runs twice
    verts = vertices(edges).persist(StorageLevel.MEMORY_AND_DISK)
    n = verts.count()
    can_broadcast = broadcastable(n, broadcast_max_vertices)

    steps = Supersteps(runner, metrics)
    start_r, labels = steps.resume()
    seeded = seeds is not None
    if labels is None:
        if seeded:
            sl = seeds.select("id", F.col(
                [c for c in seeds.columns if c != "id"][0]).alias("_sl"))
            labels = verts.join(sl, "id", "left").select(
                "id", F.col("_sl").alias("label"), "_sl")
        else:
            labels = verts.select("id", F.col("id").alias("label"))
        labels = layout_vector(labels, n, shuffle_n)
    labels = labels.localCheckpoint(eager=True)
    verts.unpersist()

    for r in range(start_r, n_rounds):
        lv = labels.select(F.col("id").alias("src"), "label")
        if seeded:
            # unlabeled vertices don't vote
            lv = lv.where(F.col("label").isNotNull())
        if can_broadcast:
            lv = F.broadcast(lv)
        # count-per-(vertex,label): HashPartitioning(dst) satisfies the
        # (dst,label) clustering -> no edge-sized exchange; the argmax
        # aggregate then reuses the same id partitioning
        nbr = (
            sym.join(lv, "src")
            .groupBy(F.col("dst").alias("id"), "label")
            .agg(F.count(F.lit(1)).alias("_c"))
        )
        # min_by argmax: lexicographic min of (-count, label) == (max
        # count, then min label). Plans as an exchange-free SortAggregate
        # whose sort is on the GROUP KEY ONLY, vs a row_number window's
        # 3-column sort; partial min_by collapses each partition's votes
        # to one row per id. A/B at RMAT-18: 0.20-0.67x the window round
        # (BENCH.md round-4 "labelprop argmax").
        best = (
            nbr.groupBy("id")
            .agg(F.min_by("label", F.struct((-F.col("_c")).alias("_nc"),
                                            F.col("label"))).alias("_new"))
        )
        joined = stitch(labels, best, n, can_broadcast)
        if seeded:
            # clamp seeds; unlabeled vertices adopt the vote if any
            new_labels = joined.select(
                "id", F.coalesce(F.col("_sl"), F.col("_new"), F.col("label")).alias("label"),
                "_sl")
        else:
            new_labels = joined.select(
                "id", F.coalesce(F.col("_new"), F.col("label")).alias("label"))
        labels, _ = steps.step(r, new_labels)

    steps.finish(labels)
    sym.unpersist()
    return labels.select("id", "label")


def modularity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Newman modularity Q of a vertex partition on the undirected
    simple graph (Newman & Girvan 2004): Q = sum_c [ e_c/m -
    (d_c/2m)^2 ] where m = undirected edge count, e_c = intra-community
    edges and d_c = total degree of community c. The standard quality
    score for label-propagation / MCL communities on a web graph.

    ``labels``: (id, label). Unlabeled (null) vertices form no
    community: their edges are never intra, their degrees don't enter
    the d_c^2 term (matches the seeded-labelprop convention where
    unreached vertices stay null).

    Returns ONE row (modularity, m, intra_edges, deg_sq_sum):
    modularity is rounded to 6dp; the other three are the EXACT
    integer moments Q = intra/m - deg_sq/(4m^2) is assembled from, so
    callers (and the DuckDB oracle) can re-derive Q bit-for-bit.

    Scale: two hash aggregates over the symmetrized edge list (degree
    by community, intra-edge count by community) and one scalar
    combine — no self-join, no window; labels join the edge list on
    its endpoint keys (sort-merge or broadcast per AQE). deg_sq_sum
    <= 4m^2 stays inside int64 up to m ~ 1.5e9 undirected edges; past
    that scale compute the d_c^2 term in double (the exact integer
    moment stops mattering there).
    """
    fwd = edges.select("src", "dst").where(F.col("src") != F.col("dst"))
    sym = (
        fwd.unionByName(fwd.select(F.col("dst").alias("src"),
                                   F.col("src").alias("dst")))
        .distinct()
    )
    lab = labels.select(F.col("id"), F.col("label").alias("_lab"))
    both = (
        sym.join(lab.withColumnRenamed("id", "src")
                    .withColumnRenamed("_lab", "_ls"), "src")
        .join(lab.withColumnRenamed("id", "dst")
                 .withColumnRenamed("_lab", "_ld"), "dst")
    )
    # directed-view counts: each undirected edge appears twice in sym
    tot = sym.agg((F.count(F.lit(1)) / 2).cast("long").alias("m"))
    intra = both.where(
        F.col("_ls").isNotNull() & (F.col("_ls") == F.col("_ld"))
    ).agg((F.count(F.lit(1)) / 2).cast("long").alias("intra_edges"))
    degs = (
        sym.join(lab.withColumnRenamed("id", "src"), "src")
        .where(F.col("_lab").isNotNull())
        .groupBy("_lab").agg(F.count(F.lit(1)).alias("_d"))
        .agg(F.sum(F.col("_d") * F.col("_d")).alias("deg_sq_sum"))
    )
    out = tot.crossJoin(intra).crossJoin(degs).select(
        pround(
            F.when(
                F.col("m") > 0,
                F.col("intra_edges").cast("double") / F.col("m")
                - F.col("deg_sq_sum").cast("double")
                / (F.lit(4.0) * F.col("m") * F.col("m")),
            )).alias("modularity"),
        "m", "intra_edges", F.coalesce("deg_sq_sum", F.lit(0)).alias("deg_sq_sum"),
    )
    return out


def greedy_modularity(edges: DataFrame, n_rounds: int = 2) -> DataFrame:
    """Synchronous greedy-modularity label moves — one Louvain
    local-move phase (Blondel et al. 2008), synchronous variant: every
    vertex simultaneously considers its neighbors' communities and
    moves to the one with the largest modularity gain, STRICTLY better
    than staying, ties to the smallest community id. All-singleton
    init; ``n_rounds`` synchronous sweeps. Returns (id, community).

    Gain comparison (for fixed i, across candidate communities C):
        dQ(i->C)  ~  2m * k_{i,C}  -  k_i * Sigma'_tot(C)
    where k_{i,C} = edges from i into C, Sigma'_tot(C) = total degree
    of C under the PREVIOUS labeling minus k_i when C is i's own
    community (the standard remove-then-consider rule). All moments are
    integers; the score products are composed with the identical IEEE
    double ops in the DuckDB twin, so winner selection is bit-portable
    at any scale (exact up to 2^53, identically-rounded beyond).

    Scale shape per round: two hash aggregates (k_{i,C} by (vertex,
    community), Sigma_tot by community), equi-joins back, and ONE
    per-vertex window over candidate communities (cardinality <=
    deg(i), never global). The synchronous update avoids Louvain's
    sequential vertex scan — the trade documented in the distributed-
    Louvain literature (it can oscillate on bipartite-ish structure,
    which fixed n_rounds bounds).
    """
    sym, m = _unit_sym(edges)
    labels = _modularity_local_phase(sym, None, m, n_rounds)
    sym.unpersist()
    return labels.select("id", F.col("c").alias("community"))


def _unit_sym(edges: DataFrame) -> tuple[DataFrame, int]:
    """Loop-free symmetric unit-weight graph (src, dst, w=1) persisted,
    plus total edge weight m — the ONE construction rule shared by
    greedy_modularity and louvain level 1 (their equivalence test
    depends on it not drifting)."""
    fwd = edges.select("src", "dst").where(F.col("src") != F.col("dst"))
    sym = (
        fwd.unionByName(fwd.select(F.col("dst").alias("src"),
                                   F.col("src").alias("dst")))
        .distinct()
        .withColumn("w", F.lit(1).cast("long"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    m = sym.count() // 2
    return sym, m


def _weighted_sym(edges: DataFrame) -> tuple[DataFrame, int]:
    """Weighted twin of _unit_sym: undirected weight of {a, b} is the
    summed integer ``val`` over both directions; returns the symmetric
    loop-free (src, dst, w) persisted plus m = total edge weight."""
    fwd = edges.where(F.col("src") != F.col("dst")).select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"),
        F.col("val").cast("long").alias("w"))
    und = fwd.groupBy("a", "b").agg(F.sum("w").alias("w"))
    sym = (
        und.select(F.col("a").alias("src"), F.col("b").alias("dst"), "w")
        .unionByName(und.select(F.col("b").alias("src"),
                                F.col("a").alias("dst"), "w"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    m = (sym.agg(F.sum("w")).collect()[0][0] or 0) // 2
    return sym, m


def _modularity_local_phase(
    sym: DataFrame,
    loops: DataFrame | None,
    m_total: int,
    n_rounds: int,
    step_offset: int = 0,
) -> DataFrame:
    """Shared synchronous local-move driver over a WEIGHTED undirected
    graph — the one implementation behind greedy_modularity (unit
    weights) and every louvain() level (contracted weights +
    self-loops), so the move rule cannot drift between them.

    ``sym``: (src, dst, w) symmetric, loop-free, integer weights.
    ``loops``: (id, lw) self-loop weights (None = all zero); a vertex's
    self-loop contributes 2*lw to its degree and moves WITH the vertex,
    so it cancels in the cross-community gain comparison — exactly the
    standard Louvain treatment of contracted internal edges.
    ``m_total``: the GLOBAL total edge weight (constant across Louvain
    levels — contraction preserves it), used in the 2m factor.

    Returns (id, c).
    """
    degn = sym.groupBy(F.col("src").alias("id")).agg(
        F.sum("w").alias("_dw"))
    if loops is not None:
        degn = (
            degn.join(loops.select("id", "lw"), "id", "left")
            .select("id", (F.col("_dw")
                           + 2 * F.coalesce(F.col("lw"), F.lit(0))).alias("deg"))
        )
    else:
        degn = degn.select("id", F.col("_dw").alias("deg"))
    deg = degn.persist(StorageLevel.MEMORY_AND_DISK)
    labels = (
        sym.select(F.col("src").alias("id")).distinct()
        .select("id", F.col("id").alias("c"))
    )
    two_m = float(2 * m_total)
    w = Window.partitionBy("id").orderBy(F.desc("_score"), F.asc("cc"))
    for r in range(n_rounds):
        kin = (
            sym.join(labels.select(F.col("id").alias("dst"),
                                   F.col("c").alias("cc")), "dst")
            .groupBy(F.col("src").alias("id"), "cc")
            .agg(F.sum("w").alias("k"))
        )
        tot = (
            labels.join(deg, "id")
            .groupBy(F.col("c").alias("cc")).agg(F.sum("deg").alias("st"))
        )
        cand = (
            kin.join(tot, "cc").join(deg, "id").join(labels, "id")
            .withColumn(
                "_score",
                F.lit(two_m) * F.col("k").cast("double")
                - F.col("deg").cast("double")
                * (F.col("st")
                   - F.when(F.col("cc") == F.col("c"), F.col("deg"))
                      .otherwise(F.lit(0))).cast("double"),
            )
        )
        win = (
            cand.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("id", F.col("cc").alias("_wc"), F.col("_score").alias("_ws"))
        )
        stay = (
            labels.join(deg, "id")
            .join(tot.withColumnRenamed("cc", "c"), "c")
            .join(kin.withColumnRenamed("cc", "c"), ["id", "c"], "left")
            .select(
                "id",
                (F.lit(two_m) * F.coalesce("k", F.lit(0)).cast("double")
                 - F.col("deg").cast("double")
                 * (F.col("st") - F.col("deg")).cast("double")).alias("_ss"),
            )
        )
        labels = superstep_checkpoint(
            labels.join(stay, "id", "left").join(win, "id", "left")
            .select(
                "id",
                F.when(F.col("_ws") > F.col("_ss"), F.col("_wc"))
                 .otherwise(F.col("c")).alias("c"),
            ),
            step_offset + r,
        )
    deg.unpersist()
    return labels


def community_graph(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Louvain aggregation phase (Blondel et al. 2008, phase 2):
    contract each community of ``labels`` (id, community) to a
    super-vertex over the undirected simple graph underlying ``edges``.
    Returns (c_a, c_b, weight) with c_a <= c_b: inter-community rows
    (c_a < c_b) count the undirected edges between the two communities;
    diagonal rows (c_a == c_b) count a community's INTERNAL edges — the
    self-loop weight the next Louvain level needs.

    This is the engine's Galerkin triple product R A R^T
    (operators/spgemm.py; GalerkinNew.cpp:105) specialised to the 0/1
    community-membership R and fused into one plan: the multi-level
    (coarsen -> recurse) path that makes community detection tractable
    at web scale — after one contraction the graph is communities-sized,
    not vertices-sized.

    Scale shape: two vertex-keyed equi-joins to tag endpoints (labels
    is vertex-sized — broadcast while it fits, else co-partitioned
    hash) + ONE map-side-combinable groupBy on the community pair. No
    window, no collect; skew concentrates on the largest community's
    diagonal cell, which is a single aggregation key handled by AQE
    exactly like a hub vertex in the degree aggregates.
    """
    from combblas_spark.algorithms.triangles import lower_triangle

    lo = lower_triangle(edges).select("src", "dst")
    la = labels.select(F.col("id").alias("src"), F.col("community").alias("_ca"))
    lb = labels.select(F.col("id").alias("dst"), F.col("community").alias("_cb"))
    return (
        lo.join(la, "src").join(lb, "dst")
        .select(F.least("_ca", "_cb").alias("c_a"),
                F.greatest("_ca", "_cb").alias("c_b"))
        .groupBy("c_a", "c_b")
        .agg(F.count(F.lit(1)).alias("weight"))
    )


def _contract_weighted(
    sym: DataFrame, loops: DataFrame | None, labels: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """Contract the weighted symmetric graph by ``labels`` (id, c):
    returns (sym', loops') where sym' keeps the symmetric loop-free
    (src, dst, w) layout over community ids and loops' accumulates each
    community's internal edge weight plus its members' prior self-loops.
    Two vertex-keyed equi-joins + two map-side-combinable groupBys —
    the Galerkin R A R^T shape of community_graph(), kept symmetric so
    the next level's local phase reads it unchanged."""
    la = labels.select(F.col("id").alias("src"), F.col("c").alias("_ca"))
    lb = labels.select(F.col("id").alias("dst"), F.col("c").alias("_cb"))
    tagged = sym.join(la, "src").join(lb, "dst")
    nsym = (
        tagged.where(F.col("_ca") != F.col("_cb"))
        .groupBy(F.col("_ca").alias("src"), F.col("_cb").alias("dst"))
        .agg(F.sum("w").alias("w"))
    )
    # internal weight: each undirected in-community edge appears twice
    # in sym (both directions), so sum/2 is exact.
    internal = (
        tagged.where(F.col("_ca") == F.col("_cb"))
        .groupBy(F.col("_ca").alias("id"))
        .agg((F.sum("w") / 2).cast("long").alias("_iw"))
    )
    if loops is not None:
        # LEFT join + coalesce-to-own-id: a community whose edges are
        # all internal appears in loops but not in sym (hence not in
        # labels) — an inner join would silently drop its self-loop
        # weight, breaking the contraction's 2m-preservation invariant
        # (review r5; output-invisible today because such communities
        # never re-enter sym, but any consumer recomputing m from the
        # contracted pair would under-count)
        old = (
            loops.join(labels, "id", "left")
            .groupBy(F.coalesce(F.col("c"), F.col("id")).alias("id"))
            .agg(F.sum("lw").alias("_olw"))
        )
        nloops = (
            internal.join(old, "id", "full_outer")
            .select("id", (F.coalesce("_iw", F.lit(0))
                           + F.coalesce("_olw", F.lit(0))).alias("lw"))
        )
    else:
        nloops = internal.select("id", F.col("_iw").alias("lw"))
    return nsym, nloops


def louvain(edges: DataFrame, n_levels: int = 2, n_rounds: int = 2,
            weighted: bool = False) -> DataFrame:
    """Multi-level Louvain (Blondel et al. 2008): alternate the
    synchronous local-move phase with community contraction —
    level 1 runs greedy modularity moves on the unit-weight simple
    graph, the partition is contracted to a weighted super-graph
    (inter-community weights + internal self-loops), level 2 moves
    whole communities, and so on ``n_levels`` times; the final label
    of a vertex is the composition of its level labels. Fixed level
    and round counts keep the DuckDB oracle an exact unroll.
    Returns (id, community).

    Scale design: the contraction is where web-scale tractability
    comes from — after level 1 the graph is communities-sized, so
    levels beyond the first cost a vanishing fraction of level 1. The
    local phase is the shared _modularity_local_phase driver (two hash
    aggregates + a per-vertex window per round); 2m is the GLOBAL
    total edge weight at every level (contraction preserves it), so
    gain comparisons at level k are exactly the modularity gains of
    moving whole level-(k-1) communities in the original graph.
    Vertices whose community has no external edges at some level keep
    their current label through that level (they are absent from the
    contracted edge list — the coalesce in the mapping composition).
    """
    if n_levels < 1:
        raise ValueError(f"louvain: n_levels must be >= 1, got {n_levels}")
    # weighted=True reads integer edge weights from ``val`` (the
    # multigraph multiplicity events_graph sums into val): undirected
    # weight of {a,b} = val(a->b) + val(b->a). The local phase is
    # weight-generic already — only level-1 construction differs.
    sym, m_total = _weighted_sym(edges) if weighted else _unit_sym(edges)
    loops: DataFrame | None = None
    mapping: DataFrame | None = None
    for lvl in range(n_levels):
        labels = _modularity_local_phase(
            sym, loops, m_total, n_rounds, step_offset=lvl * n_rounds)
        if mapping is None:
            mapping = labels
        else:
            lift = labels.select(F.col("id").alias("c"),
                                 F.col("c").alias("_c2"))
            mapping = (
                mapping.join(lift, "c", "left")
                .select("id", F.coalesce("_c2", F.col("c")).alias("c"))
            )
        mapping = mapping.localCheckpoint(eager=True)
        if lvl < n_levels - 1:
            nsym, nloops = _contract_weighted(sym, loops, labels)
            nsym = nsym.persist(StorageLevel.MEMORY_AND_DISK)
            nsym.count()
            sym.unpersist()
            sym = nsym
            loops = nloops.localCheckpoint(eager=True)
    sym.unpersist()
    return mapping.select("id", F.col("c").alias("community"))
