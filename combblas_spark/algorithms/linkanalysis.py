"""Co-citation and bibliographic-coupling similarity (Small 1973 /
Kessler 1963): the two classic link-graph document-similarity measures,
and the HITS-adjacent "related pages" primitive on a web graph.

Reference parity: both are SpGEMM compositions on the adjacency matrix
(cocitation = A^T A, coupling = A A^T — the same products the reference
builds with PSpGEMM, e.g. Mult_AnXBn_Synch in SpParMat.h used for
AAT-style squarings), restricted to the off-diagonal upper triangle.
Rather than materializing the full product through the generic spgemm
operator, the implementation fuses the triangular restriction and the
weight threshold into the join itself — at web scale the full A^T A is
quadratically dense around hub citers, so the filters must run BEFORE
the aggregate, not on its output.

Scale design (100 TB web graph):
- The self-join is keyed on the shared endpoint (src for co-citation,
  dst for coupling) — one hash exchange of the deduped edge list, then
  a co-partitioned join; no all-pairs stage.
- A citer with out-degree d contributes d*(d-1)/2 pairs; a navigation
  or spam hub with d=10^5 alone yields 5e9 pairs. ``max_degree`` caps
  the contributing degree (the standard co-citation practice: drop
  hub citers, whose co-citations carry no topical signal — they cite
  everything). The cap is applied with an aggregate + semi-join before
  the self-join, so the quadratic blowup never materializes.
- ``min_weight`` prunes after a partial+final hash aggregate: map-side
  combine absorbs same-partition pair duplicates before the shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from combblas_spark.portable import pround


def _pair_counts(edges: DataFrame, key: str, item: str,
                 min_weight: int, max_degree: int | None) -> DataFrame:
    """Count pairs of ``item`` values sharing a ``key`` value."""
    if min_weight < 1:
        raise ValueError(f"min_weight must be >= 1, got {min_weight}")
    e = edges.select(key, item).where(F.col("src") != F.col("dst")).distinct()
    if max_degree is not None:
        if max_degree < 2:
            raise ValueError(f"max_degree must be >= 2, got {max_degree}")
        ok = (
            e.groupBy(key).agg(F.count(F.lit(1)).alias("_d"))
            .where(F.col("_d") <= max_degree)
            .select(key)
        )
        e = e.join(ok, key, "left_semi")
    a = e.select(F.col(key).alias("_k"), F.col(item).alias("id_a"))
    b = e.select(F.col(key).alias("_k"), F.col(item).alias("id_b"))
    return (
        a.join(b, "_k")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("weight"))
        .where(F.col("weight") >= min_weight)
    )


def cocitation(edges: DataFrame, min_weight: int = 2,
               max_degree: int | None = None) -> DataFrame:
    """Co-citation pairs: (id_a, id_b, weight) with id_a < id_b where
    ``weight`` = number of distinct pages linking to BOTH a and b
    (off-diagonal of A^T A on the boolean pattern). Loops are ignored;
    parallel edges count once. ``max_degree`` drops citers with more
    than that many distinct out-links before pairing (hub suppression,
    see module docstring)."""
    return _pair_counts(edges, "src", "dst", min_weight, max_degree)


def bibliographic_coupling(edges: DataFrame, min_weight: int = 2,
                           max_degree: int | None = None) -> DataFrame:
    """Bibliographic-coupling pairs: (id_a, id_b, weight) with
    id_a < id_b where ``weight`` = number of distinct pages that BOTH
    a and b link to (off-diagonal of A A^T on the boolean pattern).
    ``max_degree`` here caps a target's distinct in-degree — a page
    cited by everyone couples everyone."""
    return _pair_counts(edges, "dst", "src", min_weight, max_degree)


def edge_embeddedness(edges: DataFrame) -> DataFrame:
    """Per-edge embeddedness (Granovetter tie strength / the classic
    link-prediction feature): for every undirected edge (u, v), u < v,
    the number of common neighbors (= triangles through the edge) plus
    the endpoint degrees and the neighborhood Jaccard
    n_common / (deg_u + deg_v - n_common). n_common, deg_u, deg_v are
    exact integers; only the final ratio is rounded (6dp) — the same
    integer-moments portability contract as the other similarity ops.

    Scale: one triangle enumeration (triangles.oriented_triangles, the
    masked-SpGEMM wedge join, fan-out bounded at the low-id vertex)
    attributed to its three edges (triangles.edge_support) + the
    degree read from the same canonical pattern
    (triangles.undirected_degree). No all-pairs stage — only existing
    edges are scored.
    """
    from combblas_spark.algorithms.triangles import (edge_support, lower_triangle,
                                                     oriented_triangles, undirected_degree)

    L = lower_triangle(edges).persist()
    deg = undirected_degree(L)
    n_common = F.coalesce("sup", F.lit(0))
    out = (
        L.join(edge_support(oriented_triangles(L)), ["src", "dst"], "left")
        .join(deg.select(F.col("id").alias("src"), F.col("deg").alias("deg_u")), "src")
        .join(deg.select(F.col("id").alias("dst"), F.col("deg").alias("deg_v")), "dst")
        .select(
            F.col("src").alias("u"), F.col("dst").alias("v"),
            n_common.alias("n_common"),
            "deg_u", "deg_v",
            pround(n_common.cast("double")
                   / (F.col("deg_u") + F.col("deg_v") - n_common)).alias("jaccard"),
        )
    )
    out = out.localCheckpoint(eager=True)
    L.unpersist()
    return out


def rich_club(edges: DataFrame, k: int) -> DataFrame:
    """Rich-club coefficient (Zhou & Mondragón 2004): over the vertices
    with degree > k in the undirected simple graph, phi(k) =
    2 * E_k / (N_k * (N_k - 1)) where E_k = edges among them. Returns
    ONE row (k, n_rich, e_rich, phi) — integer moments + the rounded
    ratio, so the oracle re-derives phi bit-for-bit. N_k < 2 yields a
    NULL phi (undefined), never a division crash.

    Scale: degree agg + two semi-joins + two counts; the rich set is a
    tiny fraction of a power-law graph, so the semi-join broadcasts.
    """
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    from combblas_spark.algorithms.triangles import lower_triangle, undirected_degree

    L = lower_triangle(edges).persist()
    rich = undirected_degree(L).where(F.col("deg") > k).select("id")
    e_rich = (
        L.join(rich.withColumnRenamed("id", "src"), "src", "left_semi")
        .join(rich.withColumnRenamed("id", "dst"), "dst", "left_semi")
        .agg(F.count(F.lit(1)).alias("e_rich"))
    )
    n_rich = rich.agg(F.count(F.lit(1)).alias("n_rich"))
    out = n_rich.crossJoin(e_rich).select(
        F.lit(k).alias("k"), "n_rich", "e_rich",
        pround(
            F.when(
                F.col("n_rich") >= 2,
                F.lit(2.0) * F.col("e_rich")
                / (F.col("n_rich").cast("double") * (F.col("n_rich") - 1)),
            )).alias("phi"),
    )
    L.unpersist()
    return out


def neighbor_jaccard(
    edges: DataFrame,
    min_common: int = 1,
    max_degree: int | None = None,
    direction: str = "out",
) -> DataFrame:
    """Structural-equivalence similarity: (id_a, id_b, common, jaccard)
    with id_a < id_b for vertex pairs sharing at least ``min_common``
    out-neighbors (``direction='out'``; 'in' transposes), where

        jaccard = |N(a) ∩ N(b)| / |N(a) ∪ N(b)|
                = common / (deg(a) + deg(b) - common),

    the classic role-equivalence measure (two pages are structurally
    equivalent when they link to the same set of pages — the
    bibliographic-coupling count turned into a normalized similarity).
    A single integer division rounded 6dp: bit-portable across engines
    in the doc_rarity/ppmi sense (no sums of floats anywhere).

    Scale shape: the pair counts come from the capped wedge join
    (_pair_counts — hub suppression BEFORE the quadratic expansion,
    see the module docstring), degrees from one hash agg joined back
    on each endpoint. ``max_degree`` caps the shared-NEIGHBOR's degree
    for 'out' (a page cited by everyone couples everyone).
    """
    if direction not in ("out", "in"):
        raise ValueError(f"direction must be 'out' or 'in', got {direction!r}")
    key, item = ("dst", "src") if direction == "out" else ("src", "dst")
    pairs = _pair_counts(edges, key, item, min_common, max_degree)
    e = edges.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()
    deg = e.groupBy(F.col(item).alias("_v")).agg(F.count(F.lit(1)).alias("_d"))
    da = deg.select(F.col("_v").alias("id_a"), F.col("_d").alias("_da"))
    db = deg.select(F.col("_v").alias("id_b"), F.col("_d").alias("_db"))
    return (
        pairs.join(da, "id_a").join(db, "id_b")
        .select(
            "id_a", "id_b", F.col("weight").alias("common"),
            pround(
                F.col("weight").cast("double")
                / (F.col("_da") + F.col("_db") - F.col("weight"))).alias("jaccard"),
        )
    )


def simrank(
    edges: DataFrame,
    n_iter: int = 3,
    max_source_outdegree: int | None = 64,
) -> DataFrame:
    """Truncated SimRank (Jeh & Widom, KDD 2002) with decay C = 1/2:
    (a, b, sim) for canonical pairs a < b with sim > 0 after ``n_iter``
    iterations of

        sim_t(a, b) = C / (|I(a)||I(b)|) * sum_{i in I(a), j in I(b)}
                      sim_{t-1}(i, j),          sim_t(v, v) = 1,

    over in-neighbor sets I(.) of the distinct loop-free directed edge
    list. The diagonal's contribution is constant across iterations —
    it is exactly the co-citation count W(a, b) = |I(a) ∩ I(b)| (the
    cocitation() product above) — so the loop carries only the
    off-diagonal pair table:

        raw_t(a, b)  = W(a, b) + sum over (x -> a, y -> b, x != y)
                       of sim_{t-1}(x, y)
        sim_t(a, b)  = 0.5 * raw_t / (|I(a)||I(b)|)

    Support (which pairs have sim > 0) is decided purely by join
    structure — every term is positive — so the emitted ROW SET is
    bit-portable; the float values are rounded 6dp like the other
    similarity scores.

    Scale shape: all-pairs SimRank is inherently quadratic — the
    honest 100-TB posture is (a) ``n_iter`` small (scores decay by
    C per hop; 3 hops is the published operating point), (b)
    ``max_source_outdegree`` drops the out-edges of hub sources from
    the PROPAGATION (both the W wedge join and the per-iteration
    expansion) exactly like cocitation's max_degree — a vertex citing
    10^5 pages transmits ~0 similarity per pair but d^2 join rows, and
    (c) each iteration is two equi-joins of the pair table against the
    capped out-edge list + one map-side-combinable sum — no window, no
    collect. In-degrees |I(.)| are the TRUE degrees (uncapped): the
    cap thins the propagation graph, never the normalization.
    """
    if n_iter < 1:
        raise ValueError(f"simrank: n_iter must be >= 1, got {n_iter}")
    from pyspark.storagelevel import StorageLevel

    de = (
        edges.select("src", "dst").where(F.col("src") != F.col("dst"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    ind = de.groupBy(F.col("dst").alias("id")).agg(F.count(F.lit(1)).alias("d"))
    ek = de
    if max_source_outdegree is not None:
        if max_source_outdegree < 1:
            raise ValueError(
                f"simrank: max_source_outdegree must be >= 1, got {max_source_outdegree}")
        ok = (
            de.groupBy("src").agg(F.count(F.lit(1)).alias("_od"))
            .where(F.col("_od") <= max_source_outdegree).select("src")
        )
        ek = de.join(ok, "src", "left_semi")
    ek = ek.persist(StorageLevel.MEMORY_AND_DISK)
    ek.count()

    ex = ek.select(F.col("src").alias("x"), F.col("dst").alias("a"))
    ey = ek.select(F.col("src").alias("y"), F.col("dst").alias("b"))
    w = (
        ex.join(ey, ex["x"] == ey["y"])
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b").agg(F.count(F.lit(1)).alias("w"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    da = ind.select(F.col("id").alias("a"), F.col("d").alias("_da"))
    db = ind.select(F.col("id").alias("b"), F.col("d").alias("_db"))

    def norm(raw):
        return (F.lit(0.5) * raw / (F.col("_da") * F.col("_db"))).alias("s")

    sim = w.join(da, "a").join(db, "b").select(
        "a", "b", norm(F.col("w").cast("double")))
    sim = sim.localCheckpoint(eager=True)
    for t in range(1, n_iter):
        both = sim.unionByName(
            sim.select(F.col("b").alias("a"), F.col("a").alias("b"), "s"))
        ss = (
            both.select(F.col("a").alias("x"), F.col("b").alias("y"), "s")
            .join(ex, "x").join(ey, "y")
            .where(F.col("a") < F.col("b"))
            .groupBy("a", "b").agg(F.sum("s").alias("ss"))
        )
        raw = (
            w.join(ss, ["a", "b"], "full")
            .select("a", "b",
                    (F.coalesce(F.col("w").cast("double"), F.lit(0.0))
                     + F.coalesce("ss", F.lit(0.0))).alias("raw"))
        )
        sim = raw.join(da, "a").join(db, "b").select("a", "b", norm(F.col("raw")))
        sim = sim.localCheckpoint(eager=True)

    out = sim.select("a", "b", pround("s").alias("sim")) \
        .localCheckpoint(eager=True)
    w.unpersist()
    ek.unpersist()
    de.unpersist()
    return out
