"""Triangle counting — the masked-SpGEMM lower-triangle trick, and the
one home of the triangle family's enumeration.

Standard CombBLAS usage (not in the reference repo itself; north rule
requires it): with L the strictly-lower-triangular pattern of the
undirected adjacency, triangles = sum(L .* (L x L)). Here the mask is
pushed into the plan as a semi-join BEFORE aggregation (see
operators.spgemm.masked_spgemm), so wedges that close no triangle are
filtered at the join, not materialized.

``lower_triangle`` builds the canonical pattern L and
``oriented_triangles`` the masked wedge join over it; the per-edge
support, the per-vertex counts, the undirected degree, k-truss,
trussness, edge embeddedness, the rich club and the feature table all
read them instead of rebuilding either. Orienting every pair low ->
high bounds the join fan-out by the smaller endpoint's out-degree —
the classic heavy-hitter mitigation for power-law graphs (each wedge
is generated at its lowest vertex).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from combblas_spark.graph import vertices


def lower_triangle(edges: DataFrame, order_by_degree: bool = False) -> DataFrame:
    """Canonical simple undirected pattern (src, dst): one row per
    undirected edge of ``edges``, loops dropped, oriented low -> high.
    Built from the distinct (least, greatest) pairs: one exchange of m
    rows, where symmetrizing first would shuffle 2m.

    order_by_degree=False orients by vertex id (src < dst) — the cheap
    default, and the oracle-stable one. order_by_degree=True orients by
    (degree, id) rank, swapping a pair whose src has the higher degree:
    every wedge is generated at its LOWEST-DEGREE vertex, which bounds
    the join fan-out by the smaller endpoint degree — the standard
    heavy-hitter mitigation on power-law graphs (at web scale a hub with
    degree 10^7 would otherwise emit 10^14 wedges). The degree is the
    simple undirected one (``undirected_degree``). Triangle counts are
    orientation-invariant (property-tested).
    """
    L = (
        edges.where(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst"))
        .distinct()
    )
    if not order_by_degree:
        return L
    deg = undirected_degree(L)
    ranked = (
        L.join(deg.select(F.col("id").alias("src"), F.col("deg").alias("_ds")), "src")
        .join(deg.select(F.col("id").alias("dst"), F.col("deg").alias("_dd")), "dst")
    )
    swap = F.col("_ds") > F.col("_dd")  # a degree tie keeps src < dst
    return ranked.select(F.when(swap, F.col("dst")).otherwise(F.col("src")).alias("src"),
                         F.when(swap, F.col("src")).otherwise(F.col("dst")).alias("dst"))


def _pairs(L: DataFrame, u: str, v: str) -> DataFrame:
    """The oriented pairs of ``L`` as columns (``u``, ``v``)."""
    return L.select(F.col("src").alias(u), F.col("dst").alias(v))


def _per_vertex(df: DataFrame, cols: tuple[str, ...], name: str) -> DataFrame:
    """(id, ``name``): how many rows of ``df`` hold each id in one of
    ``cols``. One scan of ``df`` (an explode, not a union of projections
    that would plan ``df``'s subtree once per column) and one hash
    aggregate."""
    return (df.select(F.explode(F.array(*cols)).alias("id"))
            .groupBy("id").agg(F.count(F.lit(1)).alias(name)))


def undirected_degree(L: DataFrame) -> DataFrame:
    """(id, deg): the simple undirected degree, read from the canonical
    pattern ``L`` (each undirected edge is one row of it). Vertices with
    no non-loop edge have no row."""
    return _per_vertex(L, ("src", "dst"), "deg")


def oriented_triangles(L: DataFrame) -> DataFrame:
    """(a, b, c): every triangle of the oriented pattern ``L`` exactly
    once, as L(a,b), L(b,c), L(a,c). The wedge join ab ⋈ bc on b is
    closed by a semi-join on L(a,c) — the mask of sum(L .* (L x L)) —
    so an open wedge is dropped at the join and never aggregated.
    ``L`` is read three times: a caller that acts on the result more
    than once, or over an expensive ``L``, persists ``L`` first."""
    return (
        _pairs(L, "a", "b").join(_pairs(L, "b", "c"), "b")
        .join(_pairs(L, "a", "c"), ["a", "c"], "left_semi")
        .select("a", "b", "c")
    )


def edge_support(tri: DataFrame) -> DataFrame:
    """(src, dst, sup): for each pair of ``L`` that closes a triangle of
    ``tri`` (``oriented_triangles(L)``), the number of triangles through
    it — each triangle adds one to each of its three edges. Pairs in no
    triangle have no row."""
    sides = F.array(*[F.struct(F.col(u).alias("src"), F.col(v).alias("dst"))
                      for u, v in (("a", "b"), ("b", "c"), ("a", "c"))])
    return tri.select(F.inline(sides)).groupBy("src", "dst").agg(
        F.count(F.lit(1)).alias("sup"))


def triangle_count(edges: DataFrame, order_by_degree: bool = False) -> int:
    """Total number of triangles in the undirected view of ``edges``."""
    # L feeds the plan THREE times (both wedge sides + the closing mask)
    # and Catalyst does NOT reuse the dedup subtree across them —
    # persist it so the dedup runs once.
    L = lower_triangle(edges, order_by_degree).persist()
    n = oriented_triangles(L).count()
    L.unpersist()
    return n


def triangles_per_vertex(edges: DataFrame, order_by_degree: bool = False,
                         lt: DataFrame | None = None) -> DataFrame:
    """(id, tri) — number of triangles incident to each vertex.

    L persisted for the same triple-reference reason as triangle_count;
    the result is materialized (eager localCheckpoint) so the cache can
    be released before returning. ``lt`` lets a caller that already
    holds the persisted lower triangle (e.g. vertex_features) pass it
    in, skipping a second dedup shuffle; ownership stays with the
    caller (not unpersisted here)."""
    caller_owns = lt is not None
    L = lt if caller_owns else lower_triangle(edges, order_by_degree).persist()
    per_v = _per_vertex(oriented_triangles(L), ("a", "b", "c"), "tri")
    per_v = per_v.localCheckpoint(eager=True)
    if not caller_owns:
        L.unpersist()
    return per_v


def _four_cliques(L: DataFrame) -> DataFrame:
    """(a, b, c, d): every K4 of the oriented pattern ``L`` exactly once —
    each oriented triangle extended along L(c, d), kept where L(a, d)
    and L(b, d) close it (two semi-join masks)."""
    return (
        oriented_triangles(L).join(_pairs(L, "c", "d"), "c")
        .join(_pairs(L, "a", "d"), ["a", "d"], "left_semi")
        .join(_pairs(L, "b", "d"), ["b", "d"], "left_semi")
    )


def four_cliques_per_vertex(edges: DataFrame,
                            order_by_degree: bool = False) -> DataFrame:
    """(id, k4) — number of 4-cliques (K4) incident to each vertex of
    the undirected simple graph, zero-filled over all vertices.

    The next rung of the masked-SpGEMM graphlet ladder after triangles
    (reference: the TriCnt/MaskedSpGEMM trick, ReleaseTests/
    MaskedSpGEMM; k-clique extension per Danisch et al., "Listing
    k-cliques in Sparse Real-World Graphs", WWW 2018): orient edges
    (id order by default, degree order for power-law scale — the same
    ``order_by_degree`` lever as triangle_count, counts are
    orientation-invariant), enumerate the oriented triangles a<b<c
    (``oriented_triangles``), then close each with a fourth vertex d
    adjacent to all three via one equi-join on the (c, d) edge plus two
    semi-join masks — every K4 is produced exactly once at its sorted
    orientation.

    Scale shape: the K4 join fans out from the triangle table by the
    orientation-bounded out-degree of c (degree ordering bounds it by
    the smallest remaining endpoint, the Danisch bound); the masks are
    semi-joins, never wedge materializations; attribution is four
    narrow unions + one hash agg.
    """
    L = lower_triangle(edges, order_by_degree).persist()
    contrib = _per_vertex(_four_cliques(L), ("a", "b", "c", "d"), "k4")
    out = vertices(edges).join(contrib, "id", "left").select(
        "id", F.coalesce("k4", F.lit(0)).alias("k4"))
    out = out.localCheckpoint(eager=True)
    L.unpersist()
    return out


def weighted_triangle_intensity(edges: DataFrame,
                                weight_col: str = "val") -> DataFrame:
    """Per-vertex weighted triangle intensity: for every triangle
    {a,b,c} the product of its three undirected edge weights
    (w{a,b} = summed integer ``weight_col`` over both directions —
    multigraph multiplicity), summed at each corner. The
    integer-exact member of the weighted-clustering family: the
    Onnela geometric-mean coefficient needs cbrt (not bit-portable);
    the raw intensity is pure BIGINT products/sums, identical in any
    engine and order. Returns (id, tri_w) zero-filled over the vertex
    set.

    Scale shape: the masked-SpGEMM wedge join of triangles_per_vertex
    carrying one extra integer product column — the mask semi-join
    becomes an inner join only to fetch the third weight. Skew and
    cost are the triangle enumeration's, unchanged.
    """
    und = (
        edges.where(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("a"),
                F.greatest("src", "dst").alias("b"),
                F.col(weight_col).cast("long").alias("w"))
        .groupBy("a", "b").agg(F.sum("w").alias("w"))
        .persist()
    )
    ab = und.select("a", "b", F.col("w").alias("w_ab"))
    bc = und.select(F.col("a").alias("b"), F.col("b").alias("c"),
                    F.col("w").alias("w_bc"))
    ac = und.select(F.col("a").alias("a2"), F.col("b").alias("c2"),
                    F.col("w").alias("w_ac"))
    tri = (
        ab.join(bc, "b")
        .join(ac, (F.col("a") == F.col("a2")) & (F.col("c") == F.col("c2")))
        .select("a", "b", "c",
                (F.col("w_ab") * F.col("w_bc") * F.col("w_ac")).alias("p"))
    )
    per_v = (
        tri.select(F.col("a").alias("id"), "p")
        .unionByName(tri.select(F.col("b").alias("id"), "p"))
        .unionByName(tri.select(F.col("c").alias("id"), "p"))
        .groupBy("id").agg(F.sum("p").alias("tri_w"))
    )
    out = (
        vertices(edges).join(per_v, "id", "left")
        .select("id", F.coalesce("tri_w", F.lit(0)).cast("long").alias("tri_w"))
        .localCheckpoint(eager=True)
    )
    und.unpersist()
    return out
