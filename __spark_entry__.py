"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship PageRank on sf0.001.
``queries()``   — one entry per implemented operator (SURVEY.md §2),
                  each (spark, sf_dir) -> DataFrame.
``oracle_sql()``— DuckDB-runnable ANSI SQL twin per query (omitted for
                  the genuinely non-SQL-expressible ops -> rows-only check).

Graph queries run over the canonical deterministic edge table derived
from ``events`` (combblas_spark.graph.events_graph — identical rule in
SQL via events_graph_sql). Float-valued outputs are rounded to 6dp on
BOTH sides via the bit-portable ``floor(x*1e6 + 0.5)/1e6`` form
(``combblas_spark.portable.pround``, aliased ``_p6`` here; plain
``round(x, 6)`` has engine/version-specific tie behavior — the r4
driver reds); everything else is integer/string-exact.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from combblas_spark.graph import events_graph, events_graph_sql, vertices
from combblas_spark.portable import pround as _p6
from combblas_spark.operators.semiring import PLUS_TIMES, SELECT2ND_MIN
from combblas_spark.operators.spmv import spmv, salted_spmv
from combblas_spark.operators.spgemm import spgemm, masked_spgemm
from combblas_spark.operators.ewise import (
    apply_values, ewise_apply, ewise_mult, set_difference, dim_apply, prune,
    prune_rows_cols, prune_column,
)
from combblas_spark.operators.reduce import reduce_dim, kselect, kth_value, masked_reduce
from combblas_spark.operators.indexing import (
    transpose, subsref, spasgn, add_loops, vector_assign, vector_extract,
    invert, uniq, setminus, concatenate, induced_subgraphs,
)
from combblas_spark.algorithms.pagerank import pagerank
from combblas_spark.algorithms.components import connected_components
from combblas_spark.algorithms.labelprop import label_propagation
from combblas_spark.algorithms.bfs import bfs_levels
from combblas_spark.algorithms.sssp import sssp
from combblas_spark.algorithms.triangles import (lower_triangle, oriented_triangles,
                                                 triangles_per_vertex, undirected_degree)
from combblas_spark.functions.text import analyze_documents
from combblas_spark.functions.dedup import (
    exact_duplicates, minhash_signatures, near_dup_clusters, ngram_jaccard,
    prefix_filter_pairs, simhash_near_dups,
)
from combblas_spark.functions.similarity import brute_force_topk, lsh_topk
from combblas_spark.functions.multimodal import synthetic_media, extract_media_features

ALPHA = 0.85
PR_ITERS = 10
LP_ROUNDS = 2
PPR_SEEDS = 4     # batched-PPR seed count (oracle unrolls one chain per seed)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# --------------------------------------------------------------------- entry

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: PageRank over the sf0.001 events link graph, top 20."""
    g = events_graph(spark, "/root/testdata/sf0.001")
    r = pagerank(g, alpha=ALPHA, n_iter=PR_ITERS)
    return (
        r.select("id", _p6("rank").alias("rank"))
        .orderBy(F.col("rank").desc(), F.col("id").asc())
        .limit(20)
    )


# ------------------------------------------------------------------- queries

def q_graph_edges(spark, sf):
    return events_graph(spark, sf)


def q_out_degrees(spark, sf):
    g = events_graph(spark, sf)
    return g.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("outdeg"), F.sum("val").alias("wdeg"))


def q_total_degree_ewise(spark, sf):
    g = events_graph(spark, sf)
    outd = reduce_dim(g, "row", F.count)           # (id, val=outdeg)
    ind = reduce_dim(g, "col", F.count)            # (id, val=indeg)
    tot = ewise_apply(outd, ind, lambda a, b: a + b, True, True, 0, 0)
    return tot.select("id", F.col("val").cast("long").alias("total_degree"))


def q_spmv_plus_times(spark, sf):
    g = events_graph(spark, sf)
    x = reduce_dim(g, "row", F.count)              # outdeg as the test vector
    y = spmv(g, x, PLUS_TIMES)
    return y.select("id", F.col("val").alias("y"))


def q_spmv_select2nd_min(spark, sf):
    g = events_graph(spark, sf)
    x = vertices(g).select("id")
    y = spmv(g, x.withColumn("val", F.col("id")), SELECT2ND_MIN, index_is_value=True)
    return y.select("id", F.col("val").alias("minsrc"))


def q_spgemm_aa(spark, sf):
    g = events_graph(spark, sf)
    return spgemm(g, g).select("src", "dst", F.col("val").alias("c"))


def q_spgemm_phased(spark, sf):
    from combblas_spark.operators.spgemm import spgemm_phased

    g = events_graph(spark, sf)
    return spgemm_phased(g, g, phases=4).select("src", "dst", F.col("val").alias("c"))


def q_blocked_spgemm(spark, sf):
    """BlockSpGEMM iterator (BlockSpGEMM.h via ReleaseTests/
    BlockedSpGEMM.cpp): C = A^2 produced as a 2x3 grid of output
    blocks, re-offset and unioned — must equal the unblocked product,
    so it shares spgemm_aa's oracle."""
    from combblas_spark.operators.split import block_merge, blocked_spgemm

    g = events_graph(spark, sf)
    n = int(g.agg(F.greatest(F.max("src"), F.max("dst"))).collect()[0][0]) + 1
    out = block_merge([list(blocked_spgemm(g, g, 2, 3, nrows=n, ncols=n))])
    return out.select("src", "dst", F.col("val").alias("c"))


def q_spgemm_minplus(spark, sf):
    """SpGEMM over the MinPlus (tropical) semiring — 2-hop shortest
    path lengths, the classic non-(+,*) semiring showcase
    (Semirings.h:236-255)."""
    from combblas_spark.operators.semiring import MIN_PLUS

    g = events_graph(spark, sf)
    return spgemm(g, g, MIN_PLUS).select(
        "src", "dst", _p6("val").alias("d2"))


def q_galerkin(spark, sf):
    """Galerkin triple product S*A*T (algebraic-multigrid restriction,
    ReleaseTests/GalerkinNew.cpp:105-106: AT = PSpGEMM(A,T);
    SAT = PSpGEMM(S,AT)) — two chained SpGEMMs. S/T are deterministic
    coarsening maps: vertex v -> coarse vertex v DIV 4."""
    g = events_graph(spark, sf)
    T = vertices(g).select(
        F.col("id").alias("src"), F.expr("id DIV 4").alias("dst"),
        F.lit(1.0).alias("val"))
    S = T.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "val")
    return spgemm(S, spgemm(g, T)).select("src", "dst", _p6("val").alias("c"))


def q_prune_recovery(spark, sf):
    from combblas_spark.operators.reduce import prune_recovery_select

    g = events_graph(spark, sf)
    return prune_recovery_select(g, threshold=2.0, recover_num=3).select("src", "dst", "val")


def q_masked_spgemm(spark, sf):
    g = events_graph(spark, sf)
    return masked_spgemm(g, g, g).select("src", "dst", F.col("val").alias("c"))


def q_transpose_rowsums(spark, sf):
    g = events_graph(spark, sf)
    return reduce_dim(transpose(g), "row", F.sum).select("id", F.col("val").alias("insum"))


def q_kselect_top2(spark, sf):
    g = events_graph(spark, sf)
    return kselect(g, 2, dim="col").select("src", "dst", "val")


def q_subsref(spark, sf):
    g = events_graph(spark, sf)
    v = vertices(g)
    # ri = even ids relabeled to id/2; ci = ids < 75 kept as-is
    ri = v.filter(F.col("id") % 2 == 0).select(F.expr("id DIV 2").alias("pos"), "id")
    ci = v.filter(F.col("id") < 75).select(F.col("id").alias("pos"), "id")
    return subsref(g, ri, ci).select("src", "dst", "val")


def q_prune(spark, sf):
    g = events_graph(spark, sf)
    return prune(g, F.col("val") < 3.0).select("src", "dst", "val")


def q_ewise_mult_mutual(spark, sf):
    g = events_graph(spark, sf)
    return ewise_mult(g, transpose(g)).select("src", "dst", F.col("val").alias("prod"))


def q_set_difference(spark, sf):
    g = events_graph(spark, sf)
    return set_difference(g, transpose(g)).select("src", "dst", "val")


def q_dim_apply_colstochastic(spark, sf):
    g = events_graph(spark, sf)
    colsums = reduce_dim(g, "col", F.sum)
    normed = dim_apply(g, colsums, "col", lambda v, s: v * (F.lit(1.0) / s))
    return normed.select("src", "dst", _p6("val").alias("w"))


def q_triangle_count(spark, sf):
    g = events_graph(spark, sf)
    tri = oriented_triangles(lower_triangle(g))
    return tri.agg(F.count(F.lit(1)).alias("n_triangles"))


def q_connected_components(spark, sf):
    g = events_graph(spark, sf)
    return connected_components(g).select("id", "comp")


def q_connected_components_as(spark, sf):
    """Awerbuch-Shiloach/LACC alternate (CC.h:1405) — must equal
    FastSV's min-label components, so it shares the same oracle."""
    from combblas_spark.algorithms.components import connected_components_as

    g = events_graph(spark, sf)
    return connected_components_as(g).select("id", "comp")


def q_bfs_levels(spark, sf):
    g = events_graph(spark, sf)
    return bfs_levels(g, root=0).select("id", "level")


def q_bfs_parents(spark, sf):
    from combblas_spark.algorithms.bfs import bfs_parents

    g = events_graph(spark, sf)
    return bfs_parents(g, root=0).select("id", "parent")


def q_filtered_bfs(spark, sf):
    """Semantic-filtered BFS (FilteredBFS.cpp / TwitterEdge.h pattern:
    per-edge predicate evaluated inside the traversal — CombBLAS's hard
    case, Spark's easy case: filter BEFORE the loop)."""
    g = events_graph(spark, sf).filter(F.col("val") >= 2.0)
    return bfs_levels(g, root=0).select("id", "level")


def q_bfs_random_parent(spark, sf):
    """Random-parent BFS (Applications/RandomParentBFS.cpp: the
    SelectRandSRing semiring picks a random predecessor via min over
    per-candidate random priorities) — here a SEEDED md5 priority so
    the tree is reproducible and exactly oracle-checkable."""
    from combblas_spark.algorithms.bfs import bfs_parents

    g = events_graph(spark, sf)
    return bfs_parents(g, root=0, parent_rule="random").select("id", "parent")


def q_single_child(spark, sf):
    """Single-child frontier (Applications/SingleChildBFS.cpp:282
    fringe.Uniq(RandReduce): one random representative child per parent
    per superstep) over the kernel-2 tree, seeded-md5 pick."""
    from combblas_spark.algorithms.bfs import bfs_tree, single_child_frontier

    g = events_graph(spark, sf)
    return single_child_frontier(bfs_tree(g, root=0), 0).select(
        "level", "parent", "child")


def q_split_merge(spark, sf):
    """Explicit ColSplit(5) -> ColConcatenate round trip
    (SpDCCols.cpp:1054 cut rule; ReleaseTests/SplitMergeTest.cpp
    identity contract): the merged matrix equals the input."""
    from combblas_spark.operators.split import col_concatenate, col_split

    g = events_graph(spark, sf)
    ncols = int(g.agg(F.max("dst")).collect()[0][0]) + 1
    return col_concatenate(col_split(g, 5, ncols=ncols)).select(
        "src", "dst", "val")


def q_ktips(spark, sf):
    """K-tips (ReleaseTests/KTipsTest.cpp: boolean OR-AND semiring walk
    from every degree-1 vertex; report the cut edge at the first
    junction within l rounds, else (-1,-1)). Input: a deterministic
    tree over event ids (parent = (i*2) div 3 — alternating 1-child
    chain nodes and 2-child junctions, so walks have varied lengths;
    the dense events graph itself has no degree-1 vertices)."""
    from combblas_spark.algorithms.ktips import k_tips

    ev = spark.read.parquet(f"{sf}/events.parquet")
    ids = (ev.select((F.col("event_id") % 180).alias("i"))
           .where(F.col("i") > 0).distinct())
    tree = ids.select(F.col("i").alias("src"),
                      F.expr("(i*2) div 3").alias("dst"),
                      F.lit(1.0).alias("val"))
    return k_tips(tree, l=6).select("tip", "cut_src", "cut_dst")


def q_selective_prune(spark, sf):
    """SelectivePrune (Applications/Incremental/IncClust.h:310): an nz
    survives unless it is same-age on both ends AND weak AND unmasked.
    Deterministic flags/mask: old = even id, mask = edges with
    (src+dst) % 3 == 0, threshold 3.0 (both outcomes occur at sf0.001
    and sf0.01)."""
    from combblas_spark.algorithms.mcl import selective_prune

    g = events_graph(spark, sf)
    verts = (g.select(F.col("src").alias("id"))
             .unionByName(g.select(F.col("dst").alias("id"))).distinct())
    is_old = verts.select("id", (F.col("id") % 2 == 0).alias("old"))
    mask = g.where((F.col("src") + F.col("dst")) % 3 == 0).select("src", "dst")
    return selective_prune(g, mask, is_old, 3.0).select("src", "dst", "val")


def q_incremental_sidecar(spark, sf):
    """Sidecar-table incremental dedup (the streaming-ingest hot path
    after ADVICE r3): corpus side pre-computed (shingles/sizes/df)
    exactly as streaming/corpus.py persists them, candidates from the
    ONE-SIDED batch-prefix x corpus-shingles join. The prefix filter is
    exact under any rarity order, so the verified pairs equal the
    two-sided join's — same oracle as incremental_neardups."""
    from combblas_spark.functions.dedup import incremental_prefix_pairs
    from combblas_spark.functions.text import shingles

    d = _docs(spark, sf)
    corpus = d.where(F.col("doc_id") % 2 == 0)
    batch = d.where(F.col("doc_id") % 2 == 1)
    csh = corpus.select(
        F.col("doc_id").alias("id"),
        F.explode(F.array_distinct(shingles(F.col("text"), 3))).alias("sh"))
    csz = csh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    cdf = csh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    return incremental_prefix_pairs(batch, csh, csz, df_table=cdf,
                                    threshold=0.8).select(
        "id_a", "id_b", "jaccard")


def q_pagerank(spark, sf):
    g = events_graph(spark, sf)
    r = pagerank(g, alpha=ALPHA, n_iter=PR_ITERS)
    return r.select("id", _p6("rank").alias("rank"))


def q_pagerank_personalized(spark, sf):
    """Personalized PageRank (teleport restart vector): the topic-
    sensitive ranking a webgraph user runs after plain PageRank.
    Deterministic teleport set: vertices with id % 7 == 0, weight
    1 + id % 3 (normalized inside pagerank()); dangling mass also
    redistributes by the teleport distribution."""
    g = events_graph(spark, sf)
    verts = (
        g.select(F.col("src").alias("id"))
        .unionByName(g.select(F.col("dst").alias("id")))
        .distinct()
    )
    tele = verts.select(
        "id",
        (F.lit(1.0) + (F.col("id") % 3).cast("double")).alias("t"),
    ).filter(F.col("id") % 7 == 0)
    r = pagerank(g, alpha=ALPHA, n_iter=PR_ITERS, teleport=tele)
    return r.select("id", _p6("rank").alias("rank"))


def q_ppr_batch(spark, sf):
    """Batched multi-seed personalized PageRank (pagerank_batch): the
    PPR_SEEDS smallest vertex ids with id % 7 == 0 share ONE superstep
    loop via an array-valued rank column — one edge scan per superstep
    serves every seed (the batched-Brandes amortization applied to
    topic-sensitive PageRank). Seed list is a setup-only driver collect
    of <= PPR_SEEDS ids; the oracle derives the same list by rule."""
    from combblas_spark.algorithms.pagerank import pagerank_batch

    g = events_graph(spark, sf)
    verts = (
        g.select(F.col("src").alias("id"))
        .unionByName(g.select(F.col("dst").alias("id")))
        .distinct()
    )
    seeds = [r["id"] for r in verts.filter(F.col("id") % 7 == 0)
             .orderBy("id").limit(PPR_SEEDS).collect()]
    r = pagerank_batch(g, seeds, alpha=ALPHA, n_iter=PR_ITERS)
    return r.select("id", F.col("seed").cast("long").alias("seed"),
                    _p6("rank").alias("rank"))


def q_pagerank_bucketed(spark, sf):
    """PageRank over a write_bucketed_edges store with the edge_layout
    contract (sources/io.py; BENCH.md cold-start measurement), forced
    into the shuffle regime so the layout-match skip path actually runs
    at sf0.01. Bucketing may change placement only, never values — so
    this shares q_pagerank's unrolled oracle."""
    import tempfile

    from combblas_spark.sources.io import read_bucketed_edges, write_bucketed_edges

    g = events_graph(spark, sf)
    write_bucketed_edges(g, "q_pr_bucketed_edges", buckets=8, key="src",
                         path=tempfile.mkdtemp(prefix="qprbkt") + "/t")
    t = read_bucketed_edges(spark, "q_pr_bucketed_edges")
    r = pagerank(t, alpha=ALPHA, n_iter=PR_ITERS, edge_layout="src",
                 broadcast_max_vertices=0)
    return r.select("id", _p6("rank").alias("rank"))


def q_labelprop(spark, sf):
    g = events_graph(spark, sf)
    return label_propagation(g, n_rounds=LP_ROUNDS).select("id", "label")


def q_spasgn(spark, sf):
    g = events_graph(spark, sf)
    ric = spark.range(10).select(F.col("id").alias("pos"), F.col("id"))
    B = spark.range(10).select(
        F.col("id").alias("src"), F.col("id").alias("dst"), F.lit(7.0).alias("val"))
    return spasgn(g, ric, ric, B).select("src", "dst", "val")


def q_prune_rows_cols(spark, sf):
    g = events_graph(spark, sf)
    v = vertices(g)
    ri = v.filter(F.col("id") % 2 == 0)
    ci = v.filter(F.col("id") < 50)
    return prune_rows_cols(g, ri, ci).select("src", "dst", "val")


def q_prune_column(spark, sf):
    g = events_graph(spark, sf)
    colmax = reduce_dim(g, "col", F.max)
    kept = prune_column(g, colmax, lambda v, p: v >= 0.5 * p)
    return kept.select("src", "dst", "val")


def q_masked_reduce(spark, sf):
    g = events_graph(spark, sf)
    mask = vertices(g).filter(F.col("id") < 100)
    return masked_reduce(g, "row", mask).select("id", F.col("val").alias("s"))


def q_add_loops(spark, sf):
    g = events_graph(spark, sf)
    return add_loops(g, vertices(g), 1.0).select("src", "dst", "val")


def q_apply_scale(spark, sf):
    g = events_graph(spark, sf)
    return apply_values(g, lambda v: v * 2 + 1).select("src", "dst", "val")


def q_vector_assign(spark, sf):
    g = events_graph(spark, sf)
    outd = reduce_dim(g, "row", F.count)
    upd = reduce_dim(g, "col", F.count).filter(F.col("id") % 3 == 0)
    return vector_assign(outd, upd, F.min).select("id", F.col("val").cast("long").alias("val"))


def q_pointer_jump(spark, sf):
    g = events_graph(spark, sf)
    p = spmv(g, vertices(g).withColumn("val", F.col("id")), SELECT2ND_MIN,
             index_is_value=True)
    idx = p.select("id", F.col("val").cast("long").alias("val"))
    return vector_extract(p, idx).select("id", F.col("val").alias("gp"))


def q_invert_vec(spark, sf):
    g = events_graph(spark, sf)
    outd = reduce_dim(g, "row", F.count)
    return invert(outd, F.min).select("id", "val")


def q_kth_value(spark, sf):
    g = events_graph(spark, sf)
    return kth_value(g, 2, dim="col").select("id", "val")


def q_degree_hist(spark, sf):
    """Degree distribution histogram of the undirected simple graph —
    the power-law diagnostic: (degree, n_vertices), exact counts."""
    g = events_graph(spark, sf)
    deg = undirected_degree(lower_triangle(g))
    return deg.groupBy(F.col("deg").alias("degree")).agg(
        F.count(F.lit(1)).alias("n_vertices"))


def q_weighted_triangles(spark, sf):
    """Per-vertex weighted triangle intensity on the events multigraph
    (undirected weight = summed multiplicity both directions): BIGINT
    triple products summed per corner, zero-filled."""
    from combblas_spark.algorithms.triangles import weighted_triangle_intensity

    return weighted_triangle_intensity(events_graph(spark, sf))


def _weighted_triangles_sql() -> str:
    """Twin of q_weighted_triangles."""
    return f"""WITH edges AS ({EDGES}),
verts AS (SELECT DISTINCT id FROM (SELECT src AS id FROM edges
          UNION ALL SELECT dst FROM edges)),
und AS MATERIALIZED (
  SELECT least(src, dst) AS a, greatest(src, dst) AS b,
         CAST(sum(val) AS BIGINT) AS w
  FROM edges WHERE src <> dst GROUP BY a, b),
tri AS (
  SELECT ab.a, ab.b, bc.b AS c, ab.w * bc.w * ac.w AS p
  FROM und ab
  JOIN und bc ON bc.a = ab.b
  JOIN und ac ON ac.a = ab.a AND ac.b = bc.b),
perv AS (
  SELECT id, CAST(sum(p) AS BIGINT) AS tri_w FROM (
    SELECT a AS id, p FROM tri
    UNION ALL SELECT b, p FROM tri
    UNION ALL SELECT c, p FROM tri) GROUP BY id)
SELECT v.id, coalesce(p.tri_w, 0) AS tri_w
FROM verts v LEFT JOIN perv p ON p.id = v.id"""


def q_local_clustering(spark, sf):
    """Per-vertex local clustering coefficient with EXACT integer
    numerator/denominator columns (tri, wedges) alongside the rounded
    ratio — integer columns make the oracle bit-stable and let callers
    re-aggregate without float error."""
    g = events_graph(spark, sf)
    tri = triangles_per_vertex(g).select("id", "tri")
    deg = undirected_degree(lower_triangle(g))
    w = deg.select("id", ((F.col("deg") * (F.col("deg") - 1)) / 2).cast("long").alias("wedges"))
    return (
        w.join(tri, "id", "left")
        .select("id", F.coalesce("tri", F.lit(0)).alias("tri"), "wedges",
                _p6(F.when(F.col("wedges") > 0,
                               F.coalesce("tri", F.lit(0)).cast("double")
                               / F.col("wedges"))).alias("coef"))
    )


def q_reciprocity(spark, sf):
    """Directed-graph reciprocity: fraction of directed simple edges
    whose reverse also exists (mutual-link rate — on a web graph the
    navigational/spam-ring signal). Exact integer counts, one double
    division."""
    g = events_graph(spark, sf)
    de = g.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()
    rev = de.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    mutual = de.join(rev, ["src", "dst"], "left_semi")
    n = de.agg(F.count(F.lit(1)).alias("n_edges"))
    m = mutual.agg(F.count(F.lit(1)).alias("n_mutual"))
    return n.crossJoin(m).select(
        _p6(F.when(F.col("n_edges") > 0,
                       F.col("n_mutual").cast("double") / F.col("n_edges"))).alias("reciprocity"),
        "n_edges", "n_mutual")


def q_transitivity(spark, sf):
    """Global clustering coefficient (transitivity): 3*triangles /
    wedges over the undirected simple graph — exact integer counts,
    one double division, NULL when the graph has no wedge."""
    g = events_graph(spark, sf)
    L = lower_triangle(g)
    tri = oriented_triangles(L).agg(F.count(F.lit(1)).alias("triangles"))
    # sum d*(d-1) = 2*wedges, so transitivity = 6*T / sum(d*(d-1))
    w2 = undirected_degree(L).agg(
        F.sum(F.col("deg") * (F.col("deg") - 1)).alias("w2"))
    return tri.crossJoin(w2).select(
        _p6(F.when(F.col("w2") > 0,
                       (F.col("triangles") * 6).cast("double") / F.col("w2"))).alias("transitivity"),
        "triangles",
        (F.col("w2") / 2).cast("long").alias("wedges"),
    )


def q_assortativity(spark, sf):
    """Newman degree assortativity of the undirected events graph —
    moment sums are exact integers, the combination uses only
    correctly-rounded IEEE ops (no corr(), no ln/pow), so the twin
    matches to the bit."""
    from combblas_spark.operators.reduce import degree_assortativity

    return degree_assortativity(events_graph(spark, sf))


def q_butterflies(spark, sf):
    """Per-vertex butterfly (co-citation square) counts on the events
    link graph — the bipartite sibling of triangles_per_vertex; dense
    blooms are the link-farm signature. Pure integer counting, exact
    twin."""
    from combblas_spark.algorithms.butterflies import butterflies

    return butterflies(events_graph(spark, sf))


def _butterflies_sql() -> str:
    """Twin of q_butterflies: same distinct-edge wedge join, pair
    counting, and C(c,2) attribution to both pair endpoints."""
    return f"""WITH edges AS ({EDGES}),
de AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
wedge AS (SELECT a.src AS s1, b.src AS s2
          FROM de a JOIN de b ON a.dst = b.dst AND a.src < b.src),
pairs AS (SELECT s1, s2, count(*) AS c FROM wedge GROUP BY s1, s2
          HAVING count(*) >= 2),
contrib AS (SELECT s1 AS id, (c * (c - 1)) // 2 AS bf FROM pairs
            UNION ALL SELECT s2, (c * (c - 1)) // 2 FROM pairs),
pv AS (SELECT id, CAST(sum(bf) AS BIGINT) AS butterflies FROM contrib GROUP BY id),
verts AS (SELECT DISTINCT id FROM
          (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges))
SELECT v.id, coalesce(pv.butterflies, 0) AS butterflies
FROM verts v LEFT JOIN pv ON pv.id = v.id"""


def q_four_cliques(spark, sf):
    """Per-vertex K4 (4-clique) counts on the events link graph — the
    next rung of the masked-SpGEMM graphlet ladder after triangles;
    dense 4-cliques are the tightest link-farm signature. Pure integer
    counting at the canonical orientation, exact twin."""
    from combblas_spark.algorithms.triangles import four_cliques_per_vertex

    return four_cliques_per_vertex(events_graph(spark, sf))


def _four_cliques_sql() -> str:
    """Twin of q_four_cliques: oriented triangle enumeration a<b<c, one
    closing join per missing K4 edge, four-way attribution, zero-fill."""
    return f"""{_BASE},
{_SYM},
L AS (SELECT src, dst FROM sym WHERE src < dst),
tri AS (
  SELECT ab.src AS a, ab.dst AS b, bc.dst AS c
  FROM L ab JOIN L bc ON ab.dst = bc.src
  JOIN L ac ON ac.src = ab.src AND ac.dst = bc.dst),
k4 AS (
  SELECT t.a, t.b, t.c, cd.dst AS d
  FROM tri t JOIN L cd ON cd.src = t.c
  JOIN L ad ON ad.src = t.a AND ad.dst = cd.dst
  JOIN L bd ON bd.src = t.b AND bd.dst = cd.dst),
pv AS (SELECT id, count(*) AS k4 FROM (
         SELECT a AS id FROM k4
         UNION ALL SELECT b FROM k4
         UNION ALL SELECT c FROM k4
         UNION ALL SELECT d FROM k4) GROUP BY id)
SELECT v.id, coalesce(pv.k4, 0) AS k4
FROM verts v LEFT JOIN pv ON pv.id = v.id"""


def q_avg_neighbor_degree(spark, sf):
    """Degree-correlation curve knn(k) of the undirected events graph —
    the per-degree companion of q_assortativity. Integer neighbor-degree
    sums, one double division per degree bucket, so the twin matches to
    the bit."""
    from combblas_spark.operators.reduce import avg_neighbor_degree

    return avg_neighbor_degree(events_graph(spark, sf))


def q_graph_stats(spark, sf):
    g = events_graph(spark, sf)
    return g.agg(
        F.count(F.lit(1)).alias("nnz"),
        F.max(F.abs(F.col("src") - F.col("dst"))).alias("bandwidth"),
        F.min("val").alias("minval"),
        F.sum("val").alias("total"),
    )


def q_induced_subgraphs(spark, sf):
    g = events_graph(spark, sf)
    assign = vertices(g).select("id", (F.col("id") % 4).alias("val"))
    out = induced_subgraphs(g, assign)
    return out.select("src", "dst", "val", F.col("group").alias("grp"))


def q_concat_vectors(spark, sf):
    g = events_graph(spark, sf)
    outd = reduce_dim(g, "row", F.count)
    ind = reduce_dim(g, "col", F.count)
    return concatenate([outd, ind]).select("id", F.col("val").cast("long").alias("val"))


def q_setminus_vec(spark, sf):
    g = events_graph(spark, sf)
    outd = reduce_dim(g, "row", F.count)
    drop = vertices(g).filter(F.col("id") < 50)
    return setminus(outd, drop).select("id", F.col("val").cast("long").alias("val"))


def q_uniq_vec(spark, sf):
    g = events_graph(spark, sf)
    outd = reduce_dim(g, "row", F.count)
    return uniq(outd, F.min).select("id", F.col("val").cast("long").alias("val"))


def q_sssp(spark, sf):
    g = events_graph(spark, sf)
    d = sssp(g, root=0, weighted=True, directed=True)
    return d.select("id", _p6("dist").alias("dist"))


def q_triangles_per_vertex(spark, sf):
    g = events_graph(spark, sf)
    return triangles_per_vertex(g).select("id", "tri")


def q_mm_read(spark, sf):
    """Matrix Market interchange read (ParallelReadMM analogue) over a
    reference-bundled .mtx; the golden SpGEMM cross-check against the
    reference's own C.mtx product lives in tests/test_mm.py."""
    from combblas_spark.sources.mm import read_mm

    e, _, _ = read_mm(spark, "/root/reference/ReleaseTests/sevenvertex.mtx")
    return e.select("src", "dst", "val")


def q_rand_perm(spark, sf):
    """Distributed seeded random permutation — md5-keyed total order, so
    the oracle reproduces positions exactly (no single-partition sort)."""
    from combblas_spark.operators.indexing import rand_perm

    g = events_graph(spark, sf)
    return rand_perm(vertices(g), seed=42).select("pos", "id")


def q_sort_perm(spark, sf):
    """Distributed vector sort returning the permutation (pos, id)."""
    from combblas_spark.operators.indexing import sort_perm

    g = events_graph(spark, sf)
    outd = reduce_dim(g, "row", F.count)
    return sort_perm(outd, ascending=False).select("pos", "id")


RCM_DEPTH = 10  # oracle unroll bound >= BFS depth at sf<=0.01


def q_rcm(spark, sf):
    """Reverse Cuthill-McKee ordering (RCM.cpp analogue) from root 0 —
    level-synchronous parent-order ranks, fully deterministic."""
    from combblas_spark.algorithms.ordering import rcm_ordering

    g = events_graph(spark, sf)
    return rcm_ordering(g, root=0).select("pos", "id")


MD_ROUNDS = 3  # bounded multiple-elimination rounds (oracle unroll bound)


def q_min_degree(spark, sf):
    """Fill-reducing minimum-degree ordering (Ordering/MD.cpp analogue)
    — Liu-style multiple elimination, bounded to MD_ROUNDS rounds with a
    deterministic (degree, id) tail so the oracle unrolls exactly."""
    from combblas_spark.algorithms.ordering import min_degree_ordering

    g = events_graph(spark, sf)
    return min_degree_ordering(g, rounds=MD_ROUNDS).select("pos", "id")


def q_salted_spmv(spark, sf):
    g = events_graph(spark, sf)
    x = reduce_dim(g, "row", F.count)
    y = salted_spmv(g, x, PLUS_TIMES, degree_threshold=20, n_salts=8)
    return y.select("id", F.col("val").alias("y"))


# ------------------------------ documents / embeddings (training-data ops)

def q_doc_tokens(spark, sf):
    d = analyze_documents(_docs(spark, sf))
    return d.select("doc_id", "n_tokens")


def q_doc_quality(spark, sf):
    d = analyze_documents(_docs(spark, sf))
    return d.select("doc_id", "lang_guess", "quality")


def q_dedup_exact(spark, sf):
    return exact_duplicates(_docs(spark, sf)).select("fp", "n_dups", "keep_id")


def q_gopher_filter(spark, sf):
    """Gopher-rule quality filter with per-rule audit flags; bounds
    chosen so the synthetic corpus exercises both outcomes of the
    word-count and mean-word-length rules."""
    from combblas_spark.functions.text import gopher_quality_flags

    return gopher_quality_flags(
        _docs(spark, sf), min_words=25, max_words=90,
        min_mean_word_len=3.0, max_mean_word_len=5.0,
    ).select("doc_id", "n_words", "ok_word_count", "ok_mean_word_len",
             "ok_symbol_ratio", "ok_stopwords", "ok_alpha_words", "keep")


def q_repetition_filter(spark, sf):
    """Gopher repetition rules (top-2-gram / duplicate-3-gram
    occurrence fractions); fractions emitted so the oracle hash checks
    values, not just flags."""
    from combblas_spark.functions.text import repetition_flags

    return repetition_flags(_docs(spark, sf), max_top_2gram_frac=0.04).select(
        "id", "top_2gram_frac", "dup_3gram_frac", "keep")


def q_doc_word_tokens(spark, sf):
    """BPE-ish regex token counting (lowercase alphanumeric runs) —
    the second tokenizer the training-data block specifies beyond
    whitespace splitting (doc_tokens)."""
    from combblas_spark.functions.text import word_tokens

    d = _docs(spark, sf)
    return d.select("doc_id", F.size(word_tokens(F.col("text"))).alias("n_word_tokens"))


def q_doc_sample(spark, sf):
    """Deterministic stratified sampling: per-language keep rates via a
    counter hash of doc_id — reproducible across runs/engines and
    stable under corpus growth (a doc's decision never changes when
    other docs are added)."""
    from combblas_spark.functions.sampling import stratified_sample

    d = _docs(spark, sf)
    return stratified_sample(
        d, {"en": 0.25, "de": 0.75, "fr": 0.75}, stratum_col="lang",
        key_col="doc_id", default_rate=0.5,
    ).select("doc_id", "lang")


def q_incremental_neardups(spark, sf):
    """Incremental dedup shape: odd doc_ids play the incoming crawl
    batch, even ids the standing corpus — prefix-filter pairs are
    batch-vs-corpus ONLY (never corpus x corpus), the O(batch) per-
    ingest pattern."""
    d = _docs(spark, sf)
    corpus = d.where(F.col("doc_id") % 2 == 0)
    batch = d.where(F.col("doc_id") % 2 == 1)
    return prefix_filter_pairs(batch, threshold=0.8, other=corpus).select(
        "id_a", "id_b", "jaccard")


def q_vocab_hll(spark, sf):
    """Per-source HyperLogLog distinct-token estimate — the sketch that
    replaces COUNT(DISTINCT) at crawl scale (shuffles 64 registers per
    key instead of every token). md5-hashed, max-merged, exact-double
    harmonic sum, so the DuckDB twin is bit-exact."""
    from combblas_spark.functions.sketch import hll_distinct
    from combblas_spark.functions.text import word_tokens

    occ = _docs(spark, sf).select(
        "source", F.explode(word_tokens(F.col("text"))).alias("token"))
    return hll_distinct(occ, "source", "token")


def _vocab_hll_sql(p: int = 6) -> str:
    """Twin of q_vocab_hll: same md5 register/rank derivation, max
    merge, grid completion, and harmonic estimate. The alpha*m^2
    constant is inlined via string->double cast (a bare decimal literal
    would parse as DECIMAL and could differ in the last ulp)."""
    m = 1 << p
    w = 32 - p
    mask = (1 << w) - 1
    alpha_mm = (0.7213 / (1.0 + 1.079 / m)) * m * m
    return f"""WITH occ AS (
  SELECT source AS k,
         unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                            x -> x <> '')) AS v
  FROM documents),
h AS (SELECT k, ('0x' || substr(md5(v), 1, 8))::BIGINT AS hv FROM occ),
reg AS (SELECT k, hv >> {w} AS i,
        CASE WHEN (hv & {mask}) = 0 THEN {w + 1}
             ELSE {w} - length(bin(hv & {mask})) + 1 END AS r
        FROM h),
mx AS (SELECT k, i, max(r) AS r FROM reg GROUP BY k, i),
grid AS (SELECT keys.k, gs.i FROM (SELECT DISTINCT k FROM occ) keys,
         unnest(generate_series(0, {m - 1})) AS gs(i)),
fullg AS (SELECT grid.k, coalesce(mx.r, 0) AS r FROM grid
          LEFT JOIN mx ON mx.k = grid.k AND mx.i = grid.i),
s AS (SELECT k, sum(1.0 / CAST(1::BIGINT << r AS DOUBLE)) AS ss FROM fullg
      GROUP BY k)
SELECT k AS source,
       floor((CAST('{alpha_mm!r}' AS DOUBLE) / ss) * 1e6 + 0.5) / 1e6 AS distinct_est
FROM s"""


CMS_TOPK = 20


def q_cms_counts(spark, sf):
    """Count-min point-frequency estimates for the corpus's 20 most
    frequent tokens: (tok, true_cnt, est) with est >= true_cnt always
    (the CMS one-sided bound). The frequency sibling of vocab_hll —
    same md5 hashing, same CRDT merge discipline (cnt-sum instead of
    register-max), fixed d*w space regardless of corpus size."""
    from combblas_spark.functions.sketch import cms_estimate, cms_sketch
    from combblas_spark.functions.text import word_tokens

    toks = _docs(spark, sf).select(
        F.explode(word_tokens(F.col("text"))).alias("tok"))
    sk = cms_sketch(toks, "tok")
    true = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("true_cnt"))
    top = true.orderBy(F.desc("true_cnt"), F.asc("tok")).limit(CMS_TOPK)
    est = cms_estimate(sk, top, "tok")
    return top.join(est, "tok").select("tok", "true_cnt", "est")


def _cms_counts_sql(d: int = 4, w: int = 256, k: int = CMS_TOPK) -> str:
    """Twin of q_cms_counts: same row-salted md5 bucket derivation
    (functions/sketch.py cms_bucket), same deterministic top-k probe
    set (count desc, token asc)."""
    vals = ", ".join(f"({j})" for j in range(d))
    return f"""WITH toks AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                            t -> t <> '')) AS tok
  FROM documents),
tc AS (SELECT tok, count(*) AS true_cnt FROM toks GROUP BY tok),
top AS (SELECT tok, true_cnt FROM tc ORDER BY true_cnt DESC, tok LIMIT {k}),
jrows AS (SELECT j FROM (VALUES {vals}) r(j)),
regs AS (
  SELECT j, ('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || tok), 1, 8))::BIGINT
            % {w} AS bucket,
         count(*) AS cnt
  FROM toks CROSS JOIN jrows GROUP BY 1, 2),
probe AS (
  SELECT t.tok, r.j,
         ('0x' || substr(md5(CAST(r.j AS VARCHAR) || ':' || t.tok), 1, 8))::BIGINT
         % {w} AS bucket
  FROM top t CROSS JOIN jrows r)
SELECT p.tok, t.true_cnt, min(coalesce(g.cnt, 0)) AS est
FROM probe p JOIN top t USING (tok)
LEFT JOIN regs g ON g.j = p.j AND g.bucket = p.bucket
GROUP BY p.tok, t.true_cnt"""


def q_vocab_topk(spark, sf):
    """Corpus vocabulary head: token counts + rarity rank assigned by
    the distributed JVM zip_with_index (no single-partition window)."""
    from combblas_spark.functions.text import token_vocabulary

    return token_vocabulary(_docs(spark, sf)).where(F.col("rank") <= 10).select(
        "token", "c", "rank")


def q_doc_rarity(spark, sf):
    """Rank-based rarity scoring (deterministic LM-perplexity proxy):
    mean token frequency rank + OOV ratio vs the top-20 vocabulary."""
    from combblas_spark.functions.text import doc_rarity

    return doc_rarity(_docs(spark, sf), vocab_size=20).select(
        "id", "mean_rank", "oov_ratio")


def q_langid(spark, sf):
    """Char-trigram language ID (Cavnar-Trenkle profile vote): every
    overlapping trigram of the normalized text that appears in a
    64-row literal profile votes integer weight for its language;
    argmax with lexicographic tiebreak, zero-hit docs 'unknown'."""
    from combblas_spark.functions.text import lang_id_ngram

    return lang_id_ngram(_docs(spark, sf)).select("id", "lang", "score")


def _langid_sql() -> str:
    """Twin of q_langid: identical profile VALUES, trigram generation
    via generate_series, same argmax tiebreak (score desc, lang asc)."""
    from combblas_spark.functions.text import LANG_TRIGRAM_PROFILES

    vals = ", ".join(
        "('{}', '{}', {})".format(lang, gram.replace("'", "''"), w)
        for lang, gram, w in LANG_TRIGRAM_PROFILES)
    return f"""WITH prof(lang, gram, w) AS (VALUES {vals}),
t AS (SELECT doc_id, regexp_replace(lower(text), '\\s+', ' ', 'g') AS t
      FROM documents),
g AS (SELECT doc_id, substr(t, CAST(i AS INT), 3) AS gram
      FROM (SELECT * FROM t WHERE t IS NOT NULL AND length(t) >= 3),
           unnest(generate_series(1, length(t) - 2)) AS s(i)),
sc AS (SELECT doc_id, lang, sum(w) AS score
       FROM g JOIN prof USING (gram) GROUP BY doc_id, lang),
best AS (SELECT doc_id, lang, score, row_number() OVER (
           PARTITION BY doc_id ORDER BY score DESC, lang ASC) AS rn
         FROM sc)
SELECT d.doc_id AS id, coalesce(b.lang, 'unknown') AS lang,
       CAST(coalesce(b.score, 0) AS BIGINT) AS score
FROM documents d
LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)"""


PHRASE_QUERY = "join part filter"


def q_inverted_index(spark, sf):
    """Positional inverted index build: one (term, id, pos) posting
    per word occurrence — the materialize-me retrieval primitive."""
    from combblas_spark.functions.text import inverted_index

    return inverted_index(_docs(spark, sf))


def q_phrase_search(spark, sf):
    """Exact phrase query ('slow hash batch') via positional-postings
    intersection: k-1 equi-joins on (doc, anchor_pos), term-frequency-
    sized inputs."""
    from combblas_spark.functions.text import phrase_search

    return phrase_search(_docs(spark, sf), PHRASE_QUERY)


_IDX_WORDS = (
    "words AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text),"
    " '[^a-z0-9]+'), x -> x <> '') AS w FROM documents),\n"
    "idx AS (SELECT w[i] AS term, doc_id AS id, CAST(i AS BIGINT) AS pos"
    " FROM words, unnest(generate_series(1, greatest(len(w), 0))) t(i))")


def _inverted_index_sql() -> str:
    return f"WITH {_IDX_WORDS}\nSELECT term, id, pos FROM idx"


def _phrase_search_sql(phrase: str = PHRASE_QUERY) -> str:
    """Twin of q_phrase_search: same postings intersection unrolled."""
    import re as _re

    words = [w for w in _re.split("[^a-z0-9]+", phrase.lower()) if w]
    ctes = [_IDX_WORDS,
            f"b0 AS (SELECT id, pos AS p0 FROM idx WHERE term = '{words[0]}')"]
    for i, w in enumerate(words[1:], start=1):
        ctes.append(
            f"b{i} AS (SELECT b.id, b.p0 FROM b{i-1} b JOIN idx x"
            f" ON x.id = b.id AND x.pos = b.p0 + {i} AND x.term = '{w}')")
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT id, count(*) AS n_matches, min(p0) AS first_pos"
            f" FROM b{len(words) - 1} GROUP BY id")


CDC_MOD = 16


def q_cdc_chunks(spark, sf):
    """Content-defined chunking (token-level gear/Rabin): counter-hash
    bigram cut rule, expected chunk ~16 tokens; one (id, chunk_idx,
    chunk_hash, n_tokens) row per chunk — groupBy(chunk_hash) is the
    storage-dedup key."""
    from combblas_spark.functions.dedup import cdc_chunks

    return cdc_chunks(_docs(spark, sf), mod=CDC_MOD)


def _cdc_chunk_ctes(mod: int = CDC_MOD) -> str:
    """The CDC chunk CTE chain (bigram counter-hash cut rule via a
    running-sum window, md5 chunk hash over string_agg ORDER BY i),
    ending in ``chunks(id, chunk_idx, chunk_hash, n_tokens)`` — shared
    by _cdc_chunks_sql and _chunk_dedup_sql so the cut rule lives in
    ONE place."""
    return f"""words AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
         '[^a-z0-9]+'), x -> x <> '') AS w FROM documents),
tok AS (
  SELECT doc_id, i, w[i] AS token,
         CASE WHEN i >= 2 AND ('0x' || substr(md5(w[i-1] || ' ' || w[i]),
              1, 8))::BIGINT % {mod} = 0 THEN 1 ELSE 0 END AS cut
  FROM words, unnest(generate_series(1, greatest(len(w), 0))) t(i)),
ck AS (
  SELECT doc_id, i, token,
         1 + sum(cut) OVER (PARTITION BY doc_id ORDER BY i) AS chunk_idx
  FROM tok),
chunks AS (
  SELECT doc_id AS id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
         md5(string_agg(token, ' ' ORDER BY i)) AS chunk_hash,
         CAST(count(*) AS BIGINT) AS n_tokens
  FROM ck GROUP BY doc_id, chunk_idx)"""


def _cdc_chunks_sql(mod: int = CDC_MOD) -> str:
    """Twin of q_cdc_chunks."""
    return (f"WITH {_cdc_chunk_ctes(mod)}\n"
            "SELECT id, chunk_idx, chunk_hash, n_tokens FROM chunks")


def q_readability(spark, sf):
    """Flesch reading ease from integer counts (sentence runs, word
    tokens, vowel-run syllable proxy); identical IEEE composition both
    engines, rounded 6dp."""
    from combblas_spark.functions.text import readability

    return readability(_docs(spark, sf))


def _readability_sql() -> str:
    """Twin of q_readability. ::DOUBLE on every literal (bare decimals
    are DECIMAL in DuckDB — the katz lesson)."""
    return """WITH c AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
             x -> x <> '')) AS nw,
         greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS ns,
         len(regexp_extract_all(lower(text), '[aeiouy]+')) AS sy
  FROM documents)
SELECT doc_id AS id, CAST(nw AS BIGINT) AS n_words,
       CAST(ns AS BIGINT) AS n_sentences, CAST(sy AS BIGINT) AS n_syllables,
       CASE WHEN nw > 0 THEN floor((206.835::DOUBLE
            - 1.015::DOUBLE * (CAST(nw AS DOUBLE) / CAST(ns AS DOUBLE))
            - 84.6::DOUBLE * (CAST(sy AS DOUBLE) / CAST(nw AS DOUBLE))) * 1e6 + 0.5) / 1e6
       END AS flesch
FROM c"""


def q_chunk_dedup(spark, sf):
    """Chunk-level near-dup pairs over the CDC chunking: docs sharing
    >=2 distinct chunk hashes (df-capped join key), containment frac =
    shared / min(n_chunks)."""
    from combblas_spark.functions.dedup import chunk_dedup_pairs

    return chunk_dedup_pairs(_docs(spark, sf), mod=CDC_MOD)


def _chunk_dedup_sql(mod: int = CDC_MOD, min_shared: int = 2,
                     max_df: int = 64) -> str:
    """Twin of q_chunk_dedup: the shared cdc chunk CTEs, then the
    df-capped chunk-hash pair join with the same containment frac."""
    return f"""WITH {_cdc_chunk_ctes(mod)},
per_doc AS (SELECT DISTINCT id, chunk_hash FROM chunks),
nch AS (SELECT id, count(*) AS n FROM per_doc GROUP BY id),
rare AS (SELECT chunk_hash FROM (SELECT chunk_hash, count(*) AS df
         FROM per_doc GROUP BY chunk_hash) WHERE df <= {max_df}),
keyed AS (SELECT p.id, p.chunk_hash FROM per_doc p
          JOIN rare r ON r.chunk_hash = p.chunk_hash),
pairs AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*)::BIGINT AS shared
  FROM keyed a JOIN keyed b
    ON b.chunk_hash = a.chunk_hash AND a.id < b.id
  GROUP BY a.id, b.id HAVING count(*) >= {min_shared})
SELECT p.id_a, p.id_b, p.shared,
       floor((CAST(p.shared AS DOUBLE)
             / CAST(least(na.n, nb.n) AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS frac
FROM pairs p JOIN nch na ON na.id = p.id_a JOIN nch nb ON nb.id = p.id_b"""


def q_dup_spans(spark, sf):
    """Exact-substring duplication measurement (Lee et al. 2022 at
    5-token window granularity): per-doc duplicated-window fraction."""
    from combblas_spark.functions.dedup import duplicate_spans

    return duplicate_spans(_docs(spark, sf), k=5).select(
        "id", "n_windows", "n_dup_windows", "dup_frac")


def _dup_spans_sql(k: int = 5) -> str:
    """Twin of q_dup_spans."""
    gram = " || ' ' || ".join(f"w[i+{j}]" for j in range(k))
    return f"""WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
win AS (
  SELECT doc_id AS id, {gram} AS wd
  FROM words, unnest(generate_series(1, greatest(len(w) - {k - 1}, 0))) AS t(i)
  WHERE len(w) >= {k}
),
cnt AS (SELECT wd, count(*) AS c FROM win GROUP BY wd),
pd AS (
  SELECT id, count(*) AS n_windows,
         CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows
  FROM win JOIN cnt USING (wd) GROUP BY id
)
SELECT d.doc_id AS id, coalesce(n_windows, 0) AS n_windows,
       coalesce(n_dup_windows, 0) AS n_dup_windows,
       floor((CASE WHEN coalesce(n_windows, 0) > 0
                  THEN coalesce(n_dup_windows, 0) * 1.0 / n_windows
                  ELSE 0.0 END) * 1e6 + 0.5) / 1e6 AS dup_frac
FROM documents d LEFT JOIN pd ON pd.id = d.doc_id"""


WINNOW_K = 5
WINNOW_W = 4


def q_winnow_fp(spark, sf):
    """Winnowing fingerprints (MOSS, Schleimer et al. 2003): per-window
    rightmost-min k-gram hash selection, packed-BIGINT argmin — the
    guaranteed-coverage document fingerprint for substring matching."""
    from combblas_spark.functions.dedup import winnow_fingerprints

    return winnow_fingerprints(_docs(spark, sf), k=WINNOW_K, w=WINNOW_W)


def q_winnow_pairs(spark, sf):
    """MOSS match ranking: document pairs sharing >= 2 distinct
    winnowing fingerprints, boilerplate fingerprints (df > 50)
    suppressed before the pair join."""
    from combblas_spark.functions.dedup import winnow_pairs

    return winnow_pairs(_docs(spark, sf), k=WINNOW_K, w=WINNOW_W,
                        min_shared=2, max_df=50)


def _winnow_fp_ctes(k: int = WINNOW_K, w: int = WINNOW_W) -> str:
    """Shared winnowing CTE block (fingerprints in CTE ``wfp``):
    identical k-gram md5-prefix hashes and packed (h+1)*2^21 - pos
    window minimum as the Spark operator."""
    m = 1 << 21
    gram = " || ' ' || ".join(f"tw[i+{j}]" for j in range(k))
    return f"""wwords AS (SELECT doc_id, string_split(text, ' ') AS tw FROM documents),
wg AS (
  SELECT doc_id AS id, i - 1 AS pos,
         (('0x' || substr(md5({gram}), 1, 8))::BIGINT + 1) * {m} - (i - 1) AS key
  FROM wwords, unnest(generate_series(1, greatest(len(tw) - {k - 1}, 0))) AS t(i)
  WHERE len(tw) >= {k} AND i - 1 < {m}
),
ws AS (
  SELECT id, pos,
         min(key) OVER (PARTITION BY id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS sel,
         count(*) OVER (PARTITION BY id) AS n
  FROM wg
),
wd AS (SELECT DISTINCT id, sel FROM ws WHERE pos <= n - {w}),
wfp AS (
  SELECT id, CAST(({m} - sel % {m}) % {m} AS INT) AS pos,
         (sel + ({m} - sel % {m}) % {m}) // {m} - 1 AS fp
  FROM wd
)"""


def _winnow_fp_sql() -> str:
    return f"WITH {_winnow_fp_ctes()}\nSELECT id, pos, fp FROM wfp"


def _winnow_pairs_sql(min_shared: int = 2, max_df: int = 50) -> str:
    return f"""WITH {_winnow_fp_ctes()},
wdist AS (SELECT DISTINCT id, fp FROM wfp),
wrare AS (SELECT fp FROM wdist GROUP BY fp HAVING count(*) <= {max_df}),
wk AS (SELECT id, fp FROM wdist JOIN wrare USING (fp))
SELECT a.id AS id_a, b.id AS id_b, count(*) AS shared
FROM wk a JOIN wk b ON a.fp = b.fp AND a.id < b.id
GROUP BY 1, 2 HAVING count(*) >= {min_shared}"""


TEXTRANK_K = 20


def q_textrank(spark, sf):
    """TextRank corpus keywords: the engine's own pagerank() over the
    word co-occurrence graph (dense word ids via the distributed
    zip_with_index) — corpus-level companion of per-doc tfidf."""
    from combblas_spark.functions.text import textrank_keywords

    return textrank_keywords(_docs(spark, sf), k=TEXTRANK_K,
                             n_iter=PR_ITERS, alpha=ALPHA)


def _textrank_sql(k: int = TEXTRANK_K, iters: int = PR_ITERS,
                  alpha: float = ALPHA) -> str:
    """Twin of q_textrank: same tokenization/co-occurrence/dictionary
    rule feeding the shared _pr_chain_ctes unroll; top-k selected on
    the FULL-precision rank with the token tie-break."""
    pre = [
        """tw AS (SELECT list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS w FROM documents)""",
        """tp AS (SELECT w[i] AS w1, w[i + 1] AS w2
  FROM tw, unnest(generate_series(1, greatest(len(w) - 1, 0))) AS t(i)
  WHERE len(w) >= 2)""",
        """up AS MATERIALIZED (SELECT DISTINCT least(w1, w2) AS a, greatest(w1, w2) AS b
  FROM tp WHERE w1 <> w2)""",
        """wl AS MATERIALIZED (SELECT token, row_number() OVER (ORDER BY token) - 1 AS wid
  FROM (SELECT DISTINCT a AS token FROM up UNION SELECT b FROM up))""",
    ]
    edges_sql = (
        "SELECT d1.wid AS src, d2.wid AS dst FROM up"
        " JOIN wl d1 ON d1.token = up.a JOIN wl d2 ON d2.token = up.b"
        " UNION ALL SELECT d2.wid, d1.wid FROM up"
        " JOIN wl d1 ON d1.token = up.a JOIN wl d2 ON d2.token = up.b")
    ctes = pre + _pr_chain_ctes(iters, alpha, edges_sql, prefix="tk")
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
SELECT token, floor((pr) * 1e6 + 0.5) / 1e6 AS \"rank\"
FROM tkr{iters} r JOIN wl ON wl.wid = r.id
ORDER BY floor((pr) * 1e6 + 0.5) / 1e6 DESC, token ASC LIMIT {k}"""
    )


MIX_WEIGHTS = {"src0": 0.5, "src1": 0.3, "src2": 0.2}
MIX_BUDGET = 2_000


def q_mix_budget(spark, sf):
    """Token-budget source mixing (Pile/Dolma mixture stage): per-
    stratum keep rates derived from target shares + the stable counter-
    hash filter; rates/cutoffs composed with identical IEEE ops both
    engines."""
    from combblas_spark.functions.sampling import mix_to_budget

    return mix_to_budget(_docs(spark, sf), MIX_WEIGHTS, MIX_BUDGET).select(
        F.col("doc_id").alias("id"), "source")


def _mix_budget_sql(weights: dict = MIX_WEIGHTS,
                    budget: int = MIX_BUDGET) -> str:
    """Twin of q_mix_budget: per-source totals from the same word
    tokenization; cutoff = floor(min(1, (budget*w)/T) * 2^32) with the
    budget*w product pre-folded to the identical python double."""
    arms = " ".join(
        f"WHEN '{s}' THEN CAST(floor(CASE WHEN t.tt = 0 THEN 0.0"
        f" ELSE least(1.0, CAST('{budget * w!r}' AS DOUBLE)"
        f" / CAST(t.tt AS DOUBLE)) END * 4294967296.0) AS BIGINT)"
        for s, w in sorted(weights.items()))
    return f"""WITH t AS (
  SELECT source,
         sum(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                             x -> x <> ''))) AS tt
  FROM documents GROUP BY source)
SELECT d.doc_id AS id, d.source
FROM documents d JOIN t ON t.source = d.source
WHERE ('0x' || substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
      < (CASE d.source {arms} ELSE 0 END)"""


PACK_CAPACITY = 128


def q_pack_sequences(spark, sf):
    """Concat-then-chunk sequence-packing layout (capacity-128 training
    windows) over the documents corpus — built on the distributed
    prefix_sum scan; all-integer output, exact twin."""
    from combblas_spark.functions.text import pack_sequences

    return pack_sequences(_docs(spark, sf), capacity=PACK_CAPACITY)


def _pack_sequences_sql(capacity: int = PACK_CAPACITY) -> str:
    """Twin of q_pack_sequences: window prefix sum over id order (the
    engine's two-pass scan is exactly SUM OVER ORDER BY), same integer
    chunk arithmetic."""
    return f"""WITH t AS (
  SELECT doc_id AS id,
         len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         x -> x <> '')) AS n_tokens
  FROM documents),
p AS (
  SELECT id, CAST(n_tokens AS BIGINT) AS n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (ORDER BY id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             AS start
  FROM t WHERE n_tokens > 0)
SELECT id, n_tokens, start,
       start // {capacity} AS first_chunk,
       (start + n_tokens - 1) // {capacity} AS last_chunk,
       (start + n_tokens - 1) // {capacity} - start // {capacity} + 1
           AS n_chunks,
       start % {capacity} AS offset_in_first
FROM p"""


def q_bigram_fluency(spark, sf):
    """Weakest-link bigram fluency over corpus-trained transition
    counts — the deterministic LM-perplexity-filter stand-in (CCNet);
    min of single integer-count divisions, so the twin is bit-exact."""
    from combblas_spark.functions.text import bigram_fluency

    return bigram_fluency(_docs(spark, sf))


def _bigram_fluency_sql() -> str:
    """Twin of q_bigram_fluency: same word tokenization, adjacent-pair
    transitions, corpus counts, and per-doc min / support divisions."""
    return """WITH words AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                             x -> x <> '') AS w
  FROM documents),
tr AS (
  SELECT doc_id AS id, w[i] AS w1, w[i + 1] AS w2
  FROM words, unnest(generate_series(1, greatest(len(w) - 1, 0))) AS t(i)
  WHERE len(w) >= 2),
c2 AS (SELECT w1, w2, count(*) AS c2 FROM tr GROUP BY w1, w2),
c1 AS (SELECT w1, count(*) AS c1 FROM tr GROUP BY w1),
pd AS (
  SELECT id, min(CAST(c2.c2 AS DOUBLE) / CAST(c1.c1 AS DOUBLE)) AS mp,
         sum(c2.c2) AS s2, sum(c1.c1) AS s1, count(*) AS n
  FROM tr JOIN c2 USING (w1, w2) JOIN c1 USING (w1) GROUP BY id)
SELECT d.doc_id AS id,
       floor((coalesce(pd.mp, 1.0)) * 1e6 + 0.5) / 1e6 AS min_prob,
       floor((coalesce(CAST(pd.s2 AS DOUBLE) / CAST(pd.s1 AS DOUBLE), 1.0)) * 1e6 + 0.5) / 1e6
           AS support,
       coalesce(pd.n, 0) AS n_transitions
FROM documents d LEFT JOIN pd ON pd.id = d.doc_id"""


def q_dup_span_removal(spark, sf):
    """Exact-substring duplication REMOVAL (the apply half of the Lee
    et al. 2022 pipeline, q_dup_spans being the measurement half):
    cleaned text with every corpus-duplicated 5-token window cut."""
    from combblas_spark.functions.dedup import remove_duplicate_spans

    return remove_duplicate_spans(_docs(spark, sf), k=5).select(
        "id", "clean_text", "n_removed")


def _dup_span_removal_sql(k: int = 5) -> str:
    """Twin of q_dup_span_removal: same window CTE as _dup_spans_sql,
    then coverage positions -> anti-join -> ordered string_agg."""
    gram = " || ' ' || ".join(f"w[i+{j}]" for j in range(k))
    return f"""WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
win AS (
  SELECT doc_id AS id, i, {gram} AS wd
  FROM words, unnest(generate_series(1, greatest(len(w) - {k - 1}, 0))) AS t(i)
  WHERE len(w) >= {k}
),
dup AS (SELECT wd FROM win GROUP BY wd HAVING count(*) > 1),
cov AS (
  SELECT DISTINCT id, i + j AS tp
  FROM win JOIN dup USING (wd), unnest(generate_series(0, {k - 1})) AS u(j)
),
toks AS (
  SELECT doc_id AS id, w[tp] AS tok, tp
  FROM words, unnest(generate_series(1, len(w))) AS t(tp)
),
kept AS (
  SELECT toks.id, tok, toks.tp FROM toks
  LEFT JOIN cov ON cov.id = toks.id AND cov.tp = toks.tp
  WHERE cov.id IS NULL
),
agg AS (
  SELECT id, string_agg(tok, ' ' ORDER BY tp) AS clean_text,
         count(*) AS n_kept
  FROM kept GROUP BY id
)
SELECT d.doc_id AS id, coalesce(a.clean_text, '') AS clean_text,
       len(string_split(d.text, ' ')) - coalesce(a.n_kept, 0) AS n_removed
FROM documents d LEFT JOIN agg a ON a.id = d.doc_id"""


def q_containment(spark, sf):
    """Asymmetric containment near-dups (quote/boilerplate inclusion):
    |S(a) ∩ S(b)| / |S(a)| >= 0.8, id_a the contained doc."""
    from combblas_spark.functions.dedup import containment_pairs

    return containment_pairs(_docs(spark, sf), threshold=0.8).select(
        "id_a", "id_b", "containment")


def _containment_sql() -> str:
    """Twin of q_containment: a-prefix x full shingle set candidates
    over the shared _PREFIX_BASE CTEs."""
    return f"""WITH {_PREFIX_BASE},
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM pre a JOIN shd b ON a.sh = b.sh AND a.id <> b.id
),
ov AS (
  SELECT c.id_a, c.id_b, count(*) AS n_inter
  FROM cand c JOIN shd x ON x.id = c.id_a
              JOIN shd y ON y.id = c.id_b AND y.sh = x.sh
  GROUP BY c.id_a, c.id_b
)
SELECT id_a, id_b, floor((n_inter * 1.0 / x.sz) * 1e6 + 0.5) / 1e6 AS containment
FROM ov JOIN sz x ON x.id = ov.id_a
WHERE n_inter * 1.0 / x.sz >= 0.8"""


def q_corpus_clean(spark, sf):
    """Capstone training-data pipeline: every document gets a status —
    the FIRST stage that rejects it (quality rules -> repetition rules
    -> exact dedup -> near-dup canonicalization) or 'kept'. The reject
    reason is what a pipeline operator audits; the near-dup stage runs
    the graph engine (connected components over the prefix-filter pair
    graph)."""
    from combblas_spark.functions.text import (
        fingerprint, gopher_quality_flags, repetition_flags)
    from combblas_spark.functions.dedup import near_dup_clusters, prefix_filter_pairs

    d = _docs(spark, sf)
    g = gopher_quality_flags(
        d, min_words=25, max_words=90, min_mean_word_len=3.0,
        max_mean_word_len=5.0).select("doc_id", F.col("keep").alias("g_ok"))
    r = repetition_flags(d, max_top_2gram_frac=0.04).select(
        F.col("id").alias("doc_id"), F.col("keep").alias("r_ok"))
    fp = d.select("doc_id", fingerprint(F.col("text")).alias("fp"))
    keep_id = fp.groupBy("fp").agg(F.min("doc_id").alias("keep_id"))
    e_ok = fp.join(keep_id, "fp").select(
        "doc_id", (F.col("doc_id") == F.col("keep_id")).alias("e_ok"))
    nd = near_dup_clusters(d, prefix_filter_pairs(d, threshold=0.8)).select(
        F.col("id").alias("doc_id"), F.col("is_canonical").alias("n_ok"))
    status = (
        F.when(~F.col("g_ok"), F.lit("quality"))
        .when(~F.col("r_ok"), F.lit("repetition"))
        .when(~F.col("e_ok"), F.lit("exact_dup"))
        .when(~F.col("n_ok"), F.lit("near_dup"))
        .otherwise(F.lit("kept"))
    )
    return (
        d.select("doc_id").join(g, "doc_id").join(r, "doc_id")
        .join(e_ok, "doc_id").join(nd, "doc_id")
        .select("doc_id", status.alias("status"))
    )


def q_prefix_jaccard(spark, sf):
    """EXACT Jaccard>=0.8 similarity self-join via prefix filtering
    (AllPairs/PPJoin candidate condition): rarest-prefix equi-join +
    symmetric size filter, then exact verify — the zero-recall-loss
    scale path complementing LSH. Pinned to key_encoding='string' (the
    original plan, green r3) so this row and prefix_jaccard_hash64 keep
    checking BOTH encodings against one oracle."""
    return prefix_filter_pairs(
        _docs(spark, sf), threshold=0.8, key_encoding="string"
    ).select("id_a", "id_b", "jaccard")


def q_prefix_jaccard_hash64(spark, sf):
    """Same exact similarity join with key_encoding='hash64': candidate
    shuffles (df groupBy, freq join, prefix equi-join) run on xxhash64
    longs instead of shingle strings; verification rescans true strings
    so the result is bit-identical — hence it shares prefix_jaccard's
    oracle, and a driver-green row proves the bit-identity claim."""
    return prefix_filter_pairs(
        _docs(spark, sf), threshold=0.8, key_encoding="hash64"
    ).select("id_a", "id_b", "jaccard")


def q_neardup_clusters(spark, sf):
    """Near-dup clustering: connected components over the verified
    prefix-filter pair graph; canonical doc = min id per cluster —
    the graph engine closing the dedup pipeline transitively."""
    d = _docs(spark, sf)
    pairs = prefix_filter_pairs(d, threshold=0.8)
    return near_dup_clusters(d, pairs).select("id", "cluster", "is_canonical")


def q_quality_keep(spark, sf):
    """Quality-aware near-dup canonical selection (the production
    keep rule): per near-dup cluster keep the HIGHEST-quality member
    (rounded quality desc, id asc — rounded so the argmax is
    bit-stable), not the lowest id. Returns one row per cluster."""
    d = _docs(spark, sf)
    pairs = prefix_filter_pairs(d, threshold=0.8)
    cl = near_dup_clusters(d, pairs).select("id", "cluster")
    q = analyze_documents(d).select(F.col("doc_id").alias("id"), "quality")
    return (
        cl.join(q, "id")
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_members"),
             F.min(F.struct((-F.col("quality")).alias("nq"),
                            F.col("id").alias("id"))).alias("_w"))
        .select("cluster", F.col("_w.id").alias("keep_id"), "n_members",
                (-F.col("_w.nq")).alias("keep_quality"))
    )


def _quality_keep_sql() -> str:
    """Twin of q_quality_keep: the shared near-dup closure + the
    shared doc-quality CTE + (quality desc, id asc) winner."""
    return f"""WITH RECURSIVE {_PREFIX_JACCARD},
e AS (SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs),
reach(a, b) AS (
  SELECT src AS a, dst AS b FROM e
  UNION
  SELECT r2.a, e.dst AS b FROM reach r2 JOIN e ON e.src = r2.b
),
cl AS (SELECT d.doc_id AS id,
              least(d.doc_id, coalesce(min(rc.b), d.doc_id)) AS cluster
       FROM documents d LEFT JOIN reach rc ON rc.a = d.doc_id
       GROUP BY d.doc_id),
dq AS ({_DOC_QUALITY_SQL}),
j AS (SELECT cl.cluster, cl.id, dq.quality
      FROM cl JOIN dq ON dq.doc_id = cl.id),
w AS (SELECT cluster, id, quality, row_number() OVER (
        PARTITION BY cluster ORDER BY quality DESC, id ASC) AS rn
      FROM j),
n AS (SELECT cluster, count(*)::BIGINT AS n_members FROM j GROUP BY cluster)
SELECT n.cluster, w.id AS keep_id, n.n_members, w.quality AS keep_quality
FROM n JOIN w ON w.cluster = n.cluster AND w.rn = 1"""


def q_minhash(spark, sf):
    return minhash_signatures(_docs(spark, sf), num_hashes=4).select("id", "h0", "h1", "h2", "h3")


def q_ngram_jaccard(spark, sf):
    d = _docs(spark, sf)
    pairs = (
        d.select(F.col("doc_id").alias("id_a"))
        .filter(F.col("id_a") < 50)
        .withColumn("id_b", F.col("id_a") + 1)
    )
    return ngram_jaccard(d, d, pairs).select("id_a", "id_b", "jaccard")


def q_embedding_topk(spark, sf):
    e = _emb(spark, sf)
    q = e.filter(F.col("vec_id") < 10)
    return brute_force_topk(q, e, k=5).select("query_id", "neighbor_id", "cos")


MNN_K = 3


def q_mnn_pairs(spark, sf):
    """Reciprocal (mutual) nearest-neighbor pairs over the embedding
    corpus: both endpoints in each other's cosine top-3 — the
    high-precision anchor-pair rule for semantic dedup/alignment."""
    from combblas_spark.functions.similarity import (brute_force_topk,
                                                     mutual_topk_pairs)

    e = _emb(spark, sf)
    return mutual_topk_pairs(brute_force_topk(e, e, k=MNN_K))


def _mnn_pairs_sql(k: int = MNN_K) -> str:
    """Twin of q_mnn_pairs: identical full top-k (rank on the unrounded
    cosine, neighbor-id tie-break) and reversed-key self-join."""
    cos = ("list_dot_product(a.e, b.e) / (sqrt(list_dot_product(a.e, a.e)) "
           "* sqrt(list_dot_product(b.e, b.e)))")
    return f"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
tk AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, floor(({cos}) * 1e6 + 0.5) / 1e6 AS cos
  FROM v a JOIN v b ON a.vec_id <> b.vec_id
  QUALIFY row_number() OVER (PARTITION BY a.vec_id
                             ORDER BY {cos} DESC, b.vec_id ASC) <= {k}
)
SELECT t1.query_id AS id_a, t1.neighbor_id AS id_b, t1.cos
FROM tk t1 JOIN tk t2 ON t1.query_id = t2.neighbor_id
                     AND t1.neighbor_id = t2.query_id
WHERE t1.query_id < t1.neighbor_id"""


def q_quantize(spark, sf):
    """Scalar int8 embedding quantization (FAISS SQ8 shape): per-dim
    corpus min/max grid, floor-coded — the 4x storage path for ANN at
    crawl scale; codes bit-portable (single IEEE ops + floor)."""
    from combblas_spark.functions.similarity import quantize_embeddings

    return quantize_embeddings(_emb(spark, sf))


def _quantize_sql() -> str:
    """Twin of q_quantize: same per-dim stats and
    floor((x - mn) / (mx - mn) * 255) composition, codes assembled in
    dimension order."""
    return """WITH e AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS d,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings),
s AS (SELECT d, min(x) AS mn, max(x) AS mx FROM e GROUP BY d),
c AS (SELECT vec_id, e.d,
             CASE WHEN s.mx = s.mn THEN 0
                  ELSE CAST(least(floor((e.x - s.mn) / (s.mx - s.mn) * 255.0),
                                  255.0) AS INT) END AS code
      FROM e JOIN s USING (d))
SELECT vec_id, list(code ORDER BY d) AS codes FROM c GROUP BY vec_id"""


KCENTER_K = 8


def q_kcenter(spark, sf):
    """Greedy k-center coreset selection over the embeddings table —
    diversity sampling for curation. Deterministic seed (min id) and
    tie-break; d2 composed from the same left-fold dot product the ANN
    oracles already proved bit-portable."""
    from combblas_spark.functions.similarity import kcenter_select

    return kcenter_select(_emb(spark, sf), k=KCENTER_K)


def _kcenter_sql(k: int = KCENTER_K) -> str:
    """Twin of q_kcenter: unrolled farthest-point iterations; each
    level's argmax uses the same (mind DESC, id) order and the same
    (dot(a,a)+dot(b,b)) - 2*dot(a,b) composition."""
    def dd(a: str, b: str) -> str:
        return (f"(list_dot_product({a}, {a}) + list_dot_product({b}, {b}))"
                f" - 2 * list_dot_product({a}, {b})")

    ctes = [
        "s0 AS (SELECT CAST(vec_id AS BIGINT) AS id,"
        " CAST(embedding AS DOUBLE[]) AS e FROM embeddings)",
        "c0 AS (SELECT id, e FROM s0 ORDER BY id LIMIT 1)",
        f"m1 AS MATERIALIZED (SELECT s.id, s.e, {dd('s.e', 'c.e')} AS mind"
        " FROM s0 s, c0 c WHERE s.id <> c.id)",
    ]
    for t in range(1, k):
        ctes.append(
            f"c{t} AS (SELECT id, e, mind FROM m{t}"
            " ORDER BY mind DESC, id LIMIT 1)")
        if t < k - 1:
            ctes.append(
                f"m{t + 1} AS MATERIALIZED (SELECT m.id, m.e,"
                f" least(m.mind, {dd('m.e', 'c.e')}) AS mind"
                f" FROM m{t} m, c{t} c WHERE m.id <> c.id)")
    selects = ["SELECT 0 AS pos, id AS vec_id, 0.0 AS d2 FROM c0"] + [
        f"SELECT {t}, id, floor((mind) * 1e6 + 0.5) / 1e6 FROM c{t}" for t in range(1, k)]
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL ".join(selects)


def q_embedding_neardups(spark, sf):
    """Scale path (VERIFIED): multi-table banded LSH candidates, exact
    cosine verification per candidate — the oracle embeds the same
    seeded hyperplanes, so bucket assignment matches bit-for-bit."""
    from combblas_spark.functions.similarity import embedding_near_dups

    e = _emb(spark, sf).filter(F.col("vec_id") < 400)
    return embedding_near_dups(
        e, threshold=0.2, use_lsh=True, n_tables=4, n_planes=6,
    ).select("id_a", "id_b", "cos")


def q_embedding_neardups_exact(spark, sf):
    """All-pairs exact baseline (recall reference for the LSH path)."""
    from combblas_spark.functions.similarity import embedding_near_dups

    e = _emb(spark, sf).filter(F.col("vec_id") < 400)
    return embedding_near_dups(e, threshold=0.2, use_lsh=False).select("id_a", "id_b", "cos")


def q_embedding_centroids(spark, sf):
    e = _emb(spark, sf)
    return (
        e.select("label", F.posexplode("embedding").alias("i", "x"))
        .groupBy("label", "i")
        .agg(_p6(F.avg(F.col("x").cast("double"))).alias("c"))
    )


def q_events_windowed(spark, sf):
    """Tumbling 1-hour windows — the batch twin of
    streaming.edge_rate_per_window (same expression under a watermark)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), _p6(F.sum("value")).alias("sum_value"))
        .select(F.col("window.start").alias("window_start"), "event_type", "n", "sum_value")
    )


def q_events_daily(spark, sf):
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return (
        ev.groupBy("event_type", F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"), _p6(F.avg("value")).alias("avg_value"))
    )


# ---------------------------- rows-only (no exact SQL twin; see oracle_sql)

PAGES_N = 300


def q_pages_pipeline(spark, sf):
    """HTML->links->dense-id edges over the deterministic synthetic pages
    table — the north-rule ingestion path end-to-end: HTML generation,
    Arrow-batched link extraction, URL dictionary (sorted-label ids),
    dense-id edge multiset. The oracle (_pages_pipeline_sql) re-derives
    the expected multiset from the same seeded RMAT rule WITHOUT going
    through Spark, HTML, regexes, or the dictionary join — so a bug in
    any of those stages breaks the match (VERDICT r2 item 5; was the
    last no_oracle row)."""
    from combblas_spark.sources.pages import generate_pages, pages_to_edges

    pages = generate_pages(spark, n_pages=PAGES_N)
    edges, _ = pages_to_edges(pages)
    return edges.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("multiplicity"))


def q_anchor_terms(spark, sf):
    """Per-target anchor-term index over the synthetic pages table —
    the search-ranking signal (what linking pages say a page is
    about). Arrow-batched anchor extraction + explode + groupBy."""
    from combblas_spark.sources.pages import anchor_term_index, generate_pages

    return anchor_term_index(generate_pages(spark, n_pages=PAGES_N))


def _anchor_terms_sql(n_pages: int = PAGES_N, n_sites: int = 10,
                      out_links: int = 4, seed: int = 42) -> str:
    """Rule-derived VALUES twin of q_anchor_terms (same pattern as
    _pages_pipeline_sql): the anchor multiset is computable from the
    RMAT rule + _anchor_term alone, independent of the HTML/UDF path
    under test."""
    from collections import Counter

    import numpy as np

    from combblas_spark.sources.pages import _anchor_term, _url
    from combblas_spark.sources.rmat import rmat_pandas

    scale = max(1, (n_pages - 1).bit_length())
    eids = np.arange(n_pages * out_links, dtype=np.int64)
    _, dsts = rmat_pandas(eids, scale, seed)
    dsts = (dsts % n_pages).reshape(n_pages, out_links)
    mult = Counter(
        (_url(int(j), n_sites), _anchor_term(i, int(j)))
        for i in range(n_pages) for j in dsts[i] if int(j) != i
    )
    rows = ", ".join(
        f"('{u}','{t}',{c})" for (u, t), c in sorted(mult.items()))
    return (
        "SELECT url, term, CAST(n AS BIGINT) AS n "
        f"FROM (VALUES {rows}) AS t(url, term, n)"
    )


def _pages_pipeline_sql(n_pages: int = PAGES_N, n_sites: int = 10,
                        out_links: int = 4, seed: int = 42) -> str:
    """Expected pages_pipeline output as a VALUES literal: the link
    graph of the synthetic pages table equals the seeded RMAT fixture by
    construction (pages.py:96-117), so the expectation is computable
    driver-side in numpy from the generator RULE alone — independently
    of the entire Spark pipeline under test (HTML encode/decode,
    pandas-UDF extraction, dictionary join, groupBy)."""
    from collections import Counter

    import numpy as np

    from combblas_spark.sources.pages import _url
    from combblas_spark.sources.rmat import rmat_pandas

    scale = max(1, (n_pages - 1).bit_length())
    eids = np.arange(n_pages * out_links, dtype=np.int64)
    _, dsts = rmat_pandas(eids, scale, seed)
    dsts = (dsts % n_pages).reshape(n_pages, out_links)
    url_edges = [
        (_url(i, n_sites), _url(int(j), n_sites))
        for i in range(n_pages) for j in dsts[i] if int(j) != i
    ]
    labels = sorted({u for e in url_edges for u in e})
    idx = {u: k for k, u in enumerate(labels)}
    mult = Counter((idx[a], idx[b]) for a, b in url_edges)
    rows = ", ".join(f"({s},{d},{c})" for (s, d), c in sorted(mult.items()))
    return (
        "SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst, "
        "CAST(multiplicity AS BIGINT) AS multiplicity "
        f"FROM (VALUES {rows}) AS t(src, dst, multiplicity)"
    )


# ------------------------------------------- webgraph analyses (round-3 tail)

ANF_HOPS = 3
ANF_K = 4
ANF_RBITS = 24
ANF_SEED = 42
HITS_ITERS = 5
KCORE_K = 15
KCORE_ROUNDS = 14     # oracle unroll; engine converges in 11 at sf0.01
CORENESS_ITERS = 28   # oracle unroll; engine converges in 10 at sf0.01 and
                      # 25 at sf0.1 (measured via DuckDB fixpoint loop) —
                      # unrolled past BOTH so the twin is scale-honest
THIN_MOD, THIN_KEEP = 10, 2


def _thin_edges(g: DataFrame) -> DataFrame:
    """Deterministic ~20% edge sample keyed on md5("src:dst") — the
    events graph is near-complete at test scales, so core queries run
    on this thinned twin to have real peel structure. SQL-identical
    predicate in _THIN_PRED."""
    h = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.col("src").cast("string"), F.col("dst").cast("string")
                    ).cast("binary")
                ),
                1, 8,
            ),
            16, 10,
        ).cast("long")
    )
    return g.filter(h % THIN_MOD < THIN_KEEP)


_THIN_PRED = (
    "('0x' || substr(md5(CAST(src AS VARCHAR) || ':' || CAST(dst AS VARCHAR)), 1, 8))::BIGINT"
    f" % {THIN_MOD} < {THIN_KEEP}"
)


def q_scc(spark, sf):
    """Strongly connected components (trim + forward max-coloring +
    constrained backward reach) on the thinned events graph — the
    directed counterpart of connected_components; labels = min member
    id, same convention."""
    from combblas_spark.algorithms.scc import strongly_connected_components

    g = _thin_edges(events_graph(spark, sf))
    return strongly_connected_components(g)


def q_bowtie(spark, sf):
    """Broder bow-tie decomposition of the thinned events graph
    relative to its largest SCC: CORE / IN / OUT / TENDRIL (incl.
    tubes) / DISCONNECTED — the canonical crawl-structure analysis."""
    from combblas_spark.algorithms.scc import bow_tie

    g = _thin_edges(events_graph(spark, sf))
    return bow_tie(g)


def _scc_sql() -> str:
    """Exact SCC twin via DuckDB recursive-CTE transitive closure
    (feasible at gate scale): scc(v) = min over mutually-reachable set."""
    return f"""WITH RECURSIVE edges AS (SELECT * FROM ({EDGES}) WHERE {_THIN_PRED}),
verts AS (SELECT DISTINCT id FROM (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)),
de AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
reach(a, b) AS (
  SELECT src AS a, dst AS b FROM de
  UNION
  SELECT r.a, e.dst AS b FROM reach r JOIN de e ON e.src = r.b
),
mutual AS (SELECT r1.a AS id, r1.b AS other FROM reach r1
           JOIN reach r2 ON r2.a = r1.b AND r2.b = r1.a),
lab AS (SELECT v.id, least(v.id, coalesce(min(m.other), v.id)) AS scc
        FROM verts v LEFT JOIN mutual m ON m.id = v.id GROUP BY v.id)
SELECT id, scc FROM lab"""


def _bowtie_sql() -> str:
    """Bow-tie twin: largest SCC (min-label tiebreak) from the same
    closure, forward/backward reach sets, weak connectivity via a
    second recursive CTE over the symmetrized edges."""
    return f"""WITH RECURSIVE edges AS (SELECT * FROM ({EDGES}) WHERE {_THIN_PRED}),
verts AS (SELECT DISTINCT id FROM (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)),
de AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
reach(a, b) AS (
  SELECT src AS a, dst AS b FROM de
  UNION
  SELECT r.a, e.dst AS b FROM reach r JOIN de e ON e.src = r.b
),
mutual AS (SELECT r1.a AS id, r1.b AS other FROM reach r1
           JOIN reach r2 ON r2.a = r1.b AND r2.b = r1.a),
lab AS (SELECT v.id, least(v.id, coalesce(min(m.other), v.id)) AS scc
        FROM verts v LEFT JOIN mutual m ON m.id = v.id GROUP BY v.id),
top AS (SELECT scc FROM (SELECT scc, count(*) AS c FROM lab GROUP BY scc)
        ORDER BY c DESC, scc ASC LIMIT 1),
core AS (SELECT id FROM lab WHERE scc = (SELECT scc FROM top)),
fwd AS (SELECT id FROM core UNION SELECT r.b AS id FROM reach r JOIN core c ON c.id = r.a),
bwd AS (SELECT id FROM core UNION SELECT r.a AS id FROM reach r JOIN core c ON c.id = r.b),
sym AS (SELECT src, dst FROM de UNION SELECT dst AS src, src AS dst FROM de),
seed AS (SELECT id FROM fwd UNION SELECT id FROM bwd),
wk(id) AS (
  SELECT id FROM seed
  UNION
  SELECT s.dst AS id FROM wk w JOIN sym s ON s.src = w.id
)
SELECT v.id,
  CASE WHEN v.id IN (SELECT id FROM core) THEN 'CORE'
       WHEN v.id IN (SELECT id FROM bwd) THEN 'IN'
       WHEN v.id IN (SELECT id FROM fwd) THEN 'OUT'
       WHEN v.id IN (SELECT id FROM wk) THEN 'TENDRIL'
       ELSE 'DISCONNECTED' END AS region
FROM verts v"""


WALK_LEN = 6
WALKS_PER_V = 2
WALK_SEED = 42


def q_random_walks(spark, sf):
    """Deterministic DeepWalk corpus: 2 counter-hash random walks of
    length 6 per vertex on the thinned events graph (sinks terminate
    walks early) — the skip-gram training-data generator for graph
    embeddings."""
    from combblas_spark.algorithms.walks import random_walks

    g = _thin_edges(events_graph(spark, sf))
    return random_walks(g, walk_length=WALK_LEN,
                        walks_per_vertex=WALKS_PER_V, seed=WALK_SEED)


def q_skipgram_pairs(spark, sf):
    """Skip-gram (center, context, cnt) co-occurrence pairs within a
    2-step window over the deterministic walk corpus — the word2vec-
    style training input derived from the link graph."""
    from combblas_spark.algorithms.walks import random_walks, skipgram_pairs

    g = _thin_edges(events_graph(spark, sf))
    w = random_walks(g, walk_length=WALK_LEN,
                     walks_per_vertex=WALKS_PER_V, seed=WALK_SEED)
    return skipgram_pairs(w, window=2)


def q_ppmi(spark, sf):
    """Positive-PMI association scores over the skip-gram pair table —
    the count-based embedding prep (Levy & Goldberg 2014). Emits the
    clamped PMI odds ratio (not its log) so both engines compute only
    integer aggregates + IEEE-exact double * and /."""
    from combblas_spark.algorithms.walks import (ppmi, random_walks,
                                                 skipgram_pairs)

    g = _thin_edges(events_graph(spark, sf))
    w = random_walks(g, walk_length=WALK_LEN,
                     walks_per_vertex=WALKS_PER_V, seed=WALK_SEED)
    return ppmi(skipgram_pairs(w, window=2))


def _skipgram_sql(window: int = 2) -> str:
    """Twin of q_skipgram_pairs: the walks unroll (_walks_sql) wrapped
    in the same banded self-join + count."""
    return f"""WITH corpus AS MATERIALIZED ({_walks_sql()})
SELECT a.vertex AS center, b.vertex AS context, count(*) AS cnt
FROM corpus a JOIN corpus b
  ON a.start = b.start AND a.walk = b.walk
WHERE abs(a.step - b.step) <= {window}
  AND a.step <> b.step AND a.vertex <> b.vertex
GROUP BY a.vertex, b.vertex"""


def _walks_sql(length: int = WALK_LEN, k: int = WALKS_PER_V,
               seed: int = WALK_SEED) -> str:
    """Unrolled twin of random_walks: identical per-src neighbor
    ranking (row_number by dst) and identical md5 counter-hash pick."""
    walks_vals = ", ".join(f"({i})" for i in range(k))
    ctes = [
        f"edges AS MATERIALIZED (SELECT * FROM ({EDGES}) WHERE {_THIN_PRED})",
        "verts AS MATERIALIZED (SELECT DISTINCT id FROM "
        "(SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges))",
        "de AS (SELECT DISTINCT src, dst FROM edges)",
        "adj AS MATERIALIZED (SELECT src, dst, "
        "row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx, "
        "count(*) OVER (PARTITION BY src) AS deg FROM de)",
        f"s0 AS (SELECT v.id AS start, CAST(kk.walk AS BIGINT) AS walk, "
        f"v.id AS vertex FROM verts v CROSS JOIN (VALUES {walks_vals}) AS kk(walk))",
    ]
    for t in range(1, length + 1):
        pick = (
            f"('0x' || substr(md5(CAST(s.start AS VARCHAR) || ':' || "
            f"CAST(s.walk AS VARCHAR) || ':{t}:{seed}'), 1, 8))::BIGINT"
        )
        ctes.append(
            f"s{t} AS MATERIALIZED (SELECT s.start, s.walk, a.dst AS vertex "
            f"FROM s{t-1} s JOIN adj a ON a.src = s.vertex "
            f"AND a.idx = {pick} % a.deg)"
        )
    selects = " UNION ALL ".join(
        f"SELECT start, walk, {t} AS step, vertex FROM s{t}"
        for t in range(0, length + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + selects


N2V_LEN = 5
N2V_WEIGHTS = (1, 4, 2)  # (w_return, w_common, w_far) = p=4, q=2 scaled by 4


def q_node2vec_walks(spark, sf):
    """Second-order node2vec walk corpus (Grover & Leskovec 2016) on
    the thinned events graph: integer search-bias weights (return /
    common-neighbor / far = 1/4/2) and counter-hash picks, so the
    biased recurrence is exactly unrollable in the DuckDB twin."""
    from combblas_spark.algorithms.walks import node2vec_walks

    g = _thin_edges(events_graph(spark, sf))
    wr, wc, wf = N2V_WEIGHTS
    return node2vec_walks(g, walk_length=N2V_LEN, walks_per_vertex=1,
                          w_return=wr, w_common=wc, w_far=wf,
                          seed=WALK_SEED)


def _node2vec_sql(length: int = N2V_LEN, seed: int = WALK_SEED) -> str:
    """Unrolled twin of q_node2vec_walks: identical uniform first step,
    then per-step candidate weights + BIGINT cumulative-range pick."""
    wr, wc, wf = N2V_WEIGHTS

    def pick(t: int) -> str:
        return (
            f"('0x' || substr(md5(CAST(start AS VARCHAR) || ':' || "
            f"CAST(walk AS VARCHAR) || ':{t}:{seed}'), 1, 8))::BIGINT"
        )

    ctes = [
        f"edges AS MATERIALIZED (SELECT * FROM ({EDGES}) WHERE {_THIN_PRED})",
        "verts AS MATERIALIZED (SELECT DISTINCT id FROM "
        "(SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges))",
        "de AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges)",
        "adj AS MATERIALIZED (SELECT src, dst, "
        "row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx, "
        "count(*) OVER (PARTITION BY src) AS deg FROM de)",
        "s0 AS (SELECT v.id AS start, CAST(0 AS BIGINT) AS walk, "
        "v.id AS vertex, CAST(NULL AS BIGINT) AS prev FROM verts v)",
        f"s1 AS MATERIALIZED (SELECT s.start, s.walk, a.dst AS vertex, "
        f"s.vertex AS prev FROM s0 s JOIN adj a ON a.src = s.vertex "
        f"AND a.idx = ('0x' || substr(md5(CAST(s.start AS VARCHAR) || ':' || "
        f"CAST(s.walk AS VARCHAR) || ':1:{seed}'), 1, 8))::BIGINT % a.deg)",
    ]
    for t in range(2, length + 1):
        ctes.append(
            f"c{t} AS (SELECT s.start, s.walk, s.vertex AS cur, a.dst, "
            f"CAST(CASE WHEN a.dst = s.prev THEN {wr} "
            f"WHEN m.dst IS NOT NULL THEN {wc} ELSE {wf} END AS BIGINT) AS w "
            f"FROM s{t-1} s JOIN adj a ON a.src = s.vertex "
            f"LEFT JOIN de m ON m.src = s.prev AND m.dst = a.dst)"
        )
        ctes.append(
            f"w{t} AS (SELECT *, sum(w) OVER (PARTITION BY start, walk "
            f"ORDER BY dst ROWS UNBOUNDED PRECEDING) AS cum, "
            f"sum(w) OVER (PARTITION BY start, walk) AS tot FROM c{t})"
        )
        ctes.append(
            f"s{t} AS MATERIALIZED (SELECT start, walk, dst AS vertex, "
            f"cur AS prev FROM w{t} WHERE tot > 0 "
            f"AND ({pick(t)} % tot) >= cum - w AND ({pick(t)} % tot) < cum)"
        )
    selects = " UNION ALL ".join(
        f"SELECT start, walk, {t} AS step, vertex FROM s{t}"
        for t in range(0, length + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + selects


PIC_K = 4
PIC_ITERS = 6


def q_pic(spark, sf):
    """Power iteration clustering (Lin & Cohen 2010) on the thinned
    events graph: k<=4 clusters from the 1-D early-stopped random-walk
    embedding, gap-split readout, CC-style min-id cluster labels."""
    from combblas_spark.algorithms.pic import power_iteration_clustering

    g = _thin_edges(events_graph(spark, sf))
    return power_iteration_clustering(g, k=PIC_K, n_iter=PIC_ITERS)


def _pic_sql(k: int = PIC_K, n_iter: int = PIC_ITERS) -> str:
    """Unrolled twin of q_pic: same W = D^-1 A iteration with the same
    L1 renormalization each step, same 9dp rounding before the sort,
    same gap ranking (gap DESC, pos ASC) and min-id relabeling."""
    ctes = [
        f"edges AS MATERIALIZED (SELECT * FROM ({EDGES}) WHERE {_THIN_PRED})",
        "und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v "
        "FROM edges WHERE src <> dst)",
        "adj AS MATERIALIZED (SELECT u AS src, v AS dst FROM und "
        "UNION ALL SELECT v AS src, u AS dst FROM und)",
        "deg AS MATERIALIZED (SELECT src AS id, count(*) AS deg FROM adj GROUP BY src)",
        "vol AS (SELECT sum(deg) AS vol FROM deg)",
        "x0 AS (SELECT id, CAST(deg AS DOUBLE) / vol AS x FROM deg, vol)",
    ]
    for t in range(1, n_iter + 1):
        ctes.append(
            f"i{t} AS (SELECT a.dst AS id, sum(x.x) AS inflow "
            f"FROM adj a JOIN x{t-1} x ON x.id = a.src GROUP BY a.dst)")
        ctes.append(
            f"r{t} AS (SELECT d.id, i.inflow / d.deg AS r "
            f"FROM deg d JOIN i{t} i USING (id))")
        ctes.append(f"t{t} AS (SELECT sum(r) AS tt FROM r{t})")
        ctes.append(
            f"x{t} AS MATERIALIZED (SELECT id, r / tt AS x FROM r{t}, t{t})")
    ctes += [
        f"e AS (SELECT id, floor((x) * 1e9 + 0.5) / 1e9 AS emb FROM x{n_iter})",
        "p AS MATERIALIZED (SELECT id, emb, "
        "row_number() OVER (ORDER BY emb, id) - 1 AS pos FROM e)",
        "g AS (SELECT p1.pos, p2.emb - p1.emb AS gap "
        "FROM p p1 JOIN p p2 ON p2.pos = p1.pos + 1)",
        f"b AS (SELECT pos AS bpos FROM g WHERE gap > 0 "
        f"ORDER BY gap DESC, pos ASC LIMIT {k - 1})",
        "c AS (SELECT p.id, p.emb, p.pos, count(b.bpos) AS ci "
        "FROM p LEFT JOIN b ON p.pos > b.bpos GROUP BY 1, 2, 3)",
        "l AS (SELECT ci, min(id) AS cluster FROM c GROUP BY ci)",
    ]
    return ("WITH " + ",\n".join(ctes) +
            "\nSELECT c.id, l.cluster, c.emb FROM c JOIN l USING (ci)")


DSWEEP_ROUNDS = 16


def q_diameter_lb(spark, sf):
    """Double-sweep diameter lower bound (Magnien et al. 2009) of the
    undirected thinned events graph: BFS from min-id, re-BFS from the
    farthest vertex — the exact-bound companion of the ANF estimate."""
    from combblas_spark.algorithms.closeness import diameter_double_sweep

    g = _thin_edges(events_graph(spark, sf))
    return diameter_double_sweep(g)


def _diameter_lb_sql(rounds: int = DSWEEP_ROUNDS) -> str:
    """Twin of q_diameter_lb: two unrolled undirected BFS sweeps with
    the same (level DESC, id ASC) farthest-vertex rule."""
    ctes = [
        f"edges AS MATERIALIZED (SELECT * FROM ({EDGES}) WHERE {_THIN_PRED})",
        "verts AS (SELECT DISTINCT id FROM "
        "(SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges))",
        "sym AS MATERIALIZED (SELECT DISTINCT src, dst FROM "
        "(SELECT src, dst FROM edges UNION ALL SELECT dst AS src, src AS dst "
        "FROM edges) WHERE src <> dst)",
        # root IS NOT NULL: an empty graph must yield ZERO rows (the
        # engine returns an empty frame), not one all-NULL row
        "r0 AS (SELECT min(id) AS root FROM verts WHERE id IS NOT NULL)",
        "b0 AS (SELECT root AS id, 0 AS level FROM r0 WHERE root IS NOT NULL)",
    ]
    for pre, seed in (("b", "b0"), ("c", "c0")):
        if pre == "c":
            ctes.append(
                f"far AS (SELECT id, level FROM b{rounds} "
                "ORDER BY level DESC, id ASC LIMIT 1)")
            ctes.append("c0 AS (SELECT id, 0 AS level FROM far)")
        for t in range(1, rounds + 1):
            p = f"{pre}{t-1}"
            ctes.append(
                f"""{pre}{t} AS MATERIALIZED (
  SELECT * FROM {p}
  UNION ALL
  SELECT id, {t} AS level FROM (
    SELECT DISTINCT e.dst AS id FROM {p} f JOIN sym e ON e.src = f.id
    WHERE f.level = {t - 1}
  ) n WHERE NOT EXISTS (SELECT 1 FROM {p} x WHERE x.id = n.id))"""
            )
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
SELECT r0.root AS root, far.id AS far_id, far.level AS ecc_root,
       (SELECT max(level) FROM c{rounds}) AS diameter_lb
FROM far CROSS JOIN r0"""
    )


WW_LEN = 5


def q_weighted_walks(spark, sf):
    """Weight-proportional first-order walk corpus on the thinned
    events MULTIGRAPH (transition prob ~ summed duplicate-edge
    multiplicity val) — exact BIGINT cumulative-range sampling."""
    from combblas_spark.algorithms.walks import weighted_walks

    g = _thin_edges(events_graph(spark, sf))
    return weighted_walks(g, weight_col="val", walk_length=WW_LEN,
                          walks_per_vertex=1, seed=WALK_SEED)


def _weighted_walks_sql(length: int = WW_LEN, seed: int = WALK_SEED) -> str:
    """Unrolled twin of q_weighted_walks: identical per-(src,dst)
    weight aggregation and cumulative-range pick."""
    ctes = [
        f"edges AS MATERIALIZED (SELECT * FROM ({EDGES}) WHERE {_THIN_PRED})",
        "verts AS MATERIALIZED (SELECT DISTINCT id FROM "
        "(SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges))",
        "adjw AS MATERIALIZED (SELECT src, dst, CAST(sum(val) AS BIGINT) AS w "
        "FROM edges GROUP BY src, dst HAVING sum(val) > 0)",
        "s0 AS (SELECT id AS start, CAST(0 AS BIGINT) AS walk, id AS vertex "
        "FROM verts)",
    ]
    for t in range(1, length + 1):
        pick = (
            f"('0x' || substr(md5(CAST(start AS VARCHAR) || ':' || "
            f"CAST(walk AS VARCHAR) || ':{t}:{seed}'), 1, 8))::BIGINT"
        )
        ctes.append(
            f"c{t} AS (SELECT s.start, s.walk, a.dst, a.w "
            f"FROM s{t-1} s JOIN adjw a ON a.src = s.vertex)")
        ctes.append(
            f"w{t} AS (SELECT *, sum(w) OVER (PARTITION BY start, walk "
            f"ORDER BY dst ROWS UNBOUNDED PRECEDING) AS cum, "
            f"sum(w) OVER (PARTITION BY start, walk) AS tot FROM c{t})")
        ctes.append(
            f"s{t} AS MATERIALIZED (SELECT start, walk, dst AS vertex FROM w{t} "
            f"WHERE ({pick} % tot) >= cum - w AND ({pick} % tot) < cum)")
    selects = " UNION ALL ".join(
        f"SELECT start, walk, {t} AS step, vertex FROM s{t}"
        for t in range(0, length + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + selects


def q_sweep_cut(spark, sf):
    """ACL sweep cut: the conductance profile over the PageRank order
    of the thinned events graph — cut/vol by integer difference-array
    prefix sums over the degree-normalized score order, ONE division
    per row at the end."""
    from combblas_spark.algorithms.sweep import sweep_cut

    g = _thin_edges(events_graph(spark, sf))
    r = pagerank(g, alpha=ALPHA, n_iter=PR_ITERS)
    return sweep_cut(g, r, score_col="rank")


def _sweep_cut_sql(iters: int = None, alpha: float = None) -> str:
    """Twin of q_sweep_cut: the shared _pr_chain_ctes unroll over the
    thinned edge rule feeding the identical rank/vol/cut windows."""
    iters = PR_ITERS if iters is None else iters
    alpha = ALPHA if alpha is None else alpha
    thinned = f"SELECT * FROM ({EDGES}) WHERE {_THIN_PRED}"
    ctes = _pr_chain_ctes(iters, alpha, thinned, prefix="sw")
    ctes += [
        # 12dp, matching sweep_cut's order key (review r5: 6dp zeroes
        # typical PPR mass on large graphs and collapses the ACL order)
        f"swsc AS (SELECT id, floor((pr) * 1e12 + 0.5) / 1e12 AS s FROM swr{iters})",
        "swund AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u, "
        "greatest(src, dst) AS v FROM swedges WHERE src <> dst)",
        "swdirs AS (SELECT u, v FROM swund UNION ALL SELECT v AS u, u AS v FROM swund)",
        "swdeg AS (SELECT u AS id, count(*) AS deg FROM swdirs GROUP BY u)",
        "swkey AS (SELECT d.id, d.deg, coalesce(s.s, 0.0) / d.deg AS s2 "
        "FROM swdeg d LEFT JOIN swsc s USING (id))",
        "swp AS MATERIALIZED (SELECT id, deg, "
        "row_number() OVER (ORDER BY s2 DESC, id) - 1 AS pos FROM swkey)",
        "swer AS (SELECT least(pu.pos, pv.pos) AS ru, "
        "greatest(pu.pos, pv.pos) AS rv FROM swund "
        "JOIN swp pu ON pu.id = swund.u JOIN swp pv ON pv.id = swund.v)",
        "swst AS (SELECT ru AS pos, count(*) AS c FROM swer GROUP BY ru)",
        "swen AS (SELECT rv AS pos, count(*) AS c FROM swer GROUP BY rv)",
        "swf AS (SELECT p.pos, p.id, p.deg, "
        "coalesce(st.c, 0) - coalesce(en.c, 0) AS d "
        "FROM swp p LEFT JOIN swst st ON st.pos = p.pos "
        "LEFT JOIN swen en ON en.pos = p.pos)",
        "swacc AS (SELECT pos, id, deg, "
        "CAST(sum(deg) OVER (ORDER BY pos ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vol, "
        "CAST(sum(d) OVER (ORDER BY pos ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cut FROM swf)",
        "swtot AS (SELECT max(vol) AS tv FROM swacc)",
    ]
    return ("WITH " + ",\n".join(ctes) + """
SELECT pos, id, deg, cut, vol,
       floor((cut * 1.0 / least(vol, tv - vol)) * 1e6 + 0.5) / 1e6 AS conductance
FROM swacc, swtot WHERE vol < tv""")


REDIR_HOPS = 16


def q_redirects(spark, sf):
    """Redirect-chain resolution on the thinned events graph (redirect
    = min out-neighbor; finals = sink pages): absorbing pointer
    doubling, 4 joins for a 16-hop cap, loop flag past the cap."""
    from combblas_spark.functions.urls import resolve_redirects

    g = _thin_edges(events_graph(spark, sf))
    return resolve_redirects(g, max_hops=REDIR_HOPS)


def _redirects_sql(max_hops: int = REDIR_HOPS) -> str:
    """Twin of q_redirects: identical min-successor rule and absorbing
    pointer doubling."""
    rounds = max(1, (max_hops - 1).bit_length())
    ctes = [
        f"edges AS MATERIALIZED (SELECT * FROM ({EDGES}) WHERE {_THIN_PRED})",
        "verts AS (SELECT DISTINCT id FROM "
        "(SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges))",
        "f AS MATERIALIZED (SELECT src AS id, min(dst) AS t FROM edges "
        "WHERE src <> dst GROUP BY src)",
        "t0 AS (SELECT v.id, coalesce(f.t, v.id) AS t "
        "FROM verts v LEFT JOIN f USING (id))",
    ]
    for k in range(1, rounds + 1):
        ctes.append(
            f"t{k} AS MATERIALIZED (SELECT a.id, b.t "
            f"FROM t{k-1} a JOIN t{k-1} b ON b.id = a.t)")
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
SELECT a.id, a.t AS target, (fl.id IS NOT NULL) AS looped
FROM t{rounds} a LEFT JOIN (SELECT DISTINCT id FROM f) fl ON fl.id = a.t"""
    )


PERC_LEVELS = (250, 500, 750)
PERC_SEED = 7


def q_robustness(spark, sf):
    """Bond-percolation robustness curve on the events graph: FastSV
    per deterministic keep-rate (250/500/750 permille, canonical-pair
    md5 rule) -> (keep_permille, n_edges, n_components, giant_size)."""
    from combblas_spark.algorithms.components import robustness_curve

    return robustness_curve(events_graph(spark, sf), levels=PERC_LEVELS,
                            seed=PERC_SEED)


def _robustness_sql(levels: tuple[int, ...] = PERC_LEVELS,
                    seed: int = PERC_SEED, denom: int = 1000) -> str:
    """Twin of q_robustness: same canonical-pair hash keep rule, one
    recursive reach per level, isolated survivors kept as singletons."""
    keep = (f"('0x' || substr(md5(least(src, dst) || ':' ||"
            f" greatest(src, dst) || ':{seed}'), 1, 8))::BIGINT"
            f" % {denom}")
    ctes = [
        f"edges AS ({EDGES})",
        "verts AS (SELECT DISTINCT id FROM (SELECT src AS id FROM edges"
        " UNION ALL SELECT dst FROM edges))",
    ]
    sels = []
    for L, lvl in enumerate(sorted(levels), start=1):
        ctes += [
            f"kept{L} AS (SELECT DISTINCT least(src, dst) AS a,"
            f" greatest(src, dst) AS b FROM edges"
            f" WHERE src <> dst AND {keep} < {lvl})",
            f"sym{L} AS (SELECT a AS src, b AS dst FROM kept{L}"
            f" UNION ALL SELECT b, a FROM kept{L})",
            f"reach{L}(id, r) AS (SELECT id, id FROM verts UNION"
            f" SELECT re.id, s.dst FROM reach{L} re"
            f" JOIN sym{L} s ON s.src = re.r)",
            f"comp{L} AS (SELECT id, min(r) AS comp FROM reach{L}"
            f" GROUP BY id)",
            f"ne{L} AS (SELECT count(*)::BIGINT AS n_edges FROM kept{L})",
            f"sz{L} AS (SELECT comp, count(*) AS cnt FROM comp{L}"
            f" GROUP BY comp)",
            f"stat{L} AS (SELECT {lvl}::BIGINT AS keep_permille,"
            f" ne.n_edges, count(*)::BIGINT AS n_components,"
            f" max(cnt)::BIGINT AS giant_size FROM sz{L}, ne{L} ne"
            f" GROUP BY ne.n_edges)",
        ]
        sels.append(f"SELECT * FROM stat{L}")
    return ("WITH RECURSIVE " + ",\n".join(ctes) + "\n"
            + " UNION ALL ".join(sels))


SIMRANK_ITERS = 3
SIMRANK_CAP = 64


def q_simrank(spark, sf):
    """Truncated SimRank (Jeh & Widom 2002, C=1/2, 3 iterations) on the
    thinned events graph: structural page-pair similarity from shared
    in-link context. Support is join-decided (bit-portable row set);
    scores rounded 6dp."""
    from combblas_spark.algorithms.linkanalysis import simrank

    g = _thin_edges(events_graph(spark, sf))
    return simrank(g, n_iter=SIMRANK_ITERS,
                   max_source_outdegree=SIMRANK_CAP)


def _simrank_sql(n_iter: int = SIMRANK_ITERS, cap: int = SIMRANK_CAP) -> str:
    """Unrolled twin of q_simrank: same capped propagation edge list,
    same constant co-citation term W, same 0.5 * raw / (da*db) update."""
    ctes = [
        f"edges AS MATERIALIZED (SELECT * FROM ({EDGES}) WHERE {_THIN_PRED})",
        "de AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges "
        "WHERE src <> dst)",
        "ind AS MATERIALIZED (SELECT dst AS id, count(*) AS d FROM de "
        "GROUP BY dst)",
        f"ok AS (SELECT src FROM de GROUP BY src HAVING count(*) <= {cap})",
        "ek AS MATERIALIZED (SELECT de.src, de.dst FROM de JOIN ok USING (src))",
        "w AS MATERIALIZED (SELECT x.dst AS a, y.dst AS b, count(*) AS w "
        "FROM ek x JOIN ek y ON x.src = y.src AND x.dst < y.dst GROUP BY 1, 2)",
        "s1 AS MATERIALIZED (SELECT w.a, w.b, "
        "0.5 * CAST(w.w AS DOUBLE) / (da.d * db.d) AS s "
        "FROM w JOIN ind da ON da.id = w.a JOIN ind db ON db.id = w.b)",
    ]
    for t in range(2, n_iter + 1):
        ctes.append(
            f"p{t} AS (SELECT a, b, s FROM s{t-1} "
            f"UNION ALL SELECT b AS a, a AS b, s FROM s{t-1})"
        )
        ctes.append(
            f"agg{t} AS (SELECT ex.dst AS a, ey.dst AS b, sum(p.s) AS ss "
            f"FROM p{t} p JOIN ek ex ON ex.src = p.a JOIN ek ey ON ey.src = p.b "
            f"WHERE ex.dst < ey.dst GROUP BY 1, 2)"
        )
        ctes.append(
            f"r{t} AS (SELECT coalesce(w.a, g.a) AS a, coalesce(w.b, g.b) AS b, "
            f"coalesce(CAST(w.w AS DOUBLE), 0.0) + coalesce(g.ss, 0.0) AS raw "
            f"FROM w FULL OUTER JOIN agg{t} g ON w.a = g.a AND w.b = g.b)"
        )
        ctes.append(
            f"s{t} AS MATERIALIZED (SELECT r.a, r.b, "
            f"0.5 * r.raw / (da.d * db.d) AS s "
            f"FROM r{t} r JOIN ind da ON da.id = r.a JOIN ind db ON db.id = r.b)"
        )
    return ("WITH " + ",\n".join(ctes) +
            f"\nSELECT a, b, floor((s) * 1e6 + 0.5) / 1e6 AS sim FROM s{n_iter}")


TRUSS_K = 4
TRUSS_ROUNDS = 20


def q_k_truss(spark, sf):
    """k-truss (k=4) of the thinned events graph: triangle-support
    edge peeling to fixpoint — the edge-level sibling of k_core."""
    from combblas_spark.algorithms.truss import k_truss

    g = _thin_edges(events_graph(spark, sf))
    return k_truss(g, TRUSS_K)


TRUSSNESS_ITERS = 16  # measured fixpoint: 11 at sf0.01, 3 at sf0.1 (thinned)


def q_trussness(spark, sf):
    """Full truss decomposition (per-edge max k) on the thinned events
    graph — the edge-level companion of coreness, via the same h-index
    iteration (static triangle incidence, monotone integer values)."""
    from combblas_spark.algorithms.truss import trussness

    g = _thin_edges(events_graph(spark, sf))
    return trussness(g)


def _trussness_sql(iters: int = TRUSSNESS_ITERS) -> str:
    """Unrolled twin of trussness: the same static triangle incidence,
    per-edge h-index rounds (extra rounds past fixpoint are no-ops)."""
    ctes = [
        f"edges AS MATERIALIZED (SELECT * FROM ({EDGES}) WHERE {_THIN_PRED})",
        "und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u, "
        "greatest(src, dst) AS v FROM edges WHERE src <> dst)",
        """tri AS MATERIALIZED (
  SELECT ab.u AS a, ab.v AS b, bc.v AS c
  FROM und ab JOIN und bc ON ab.v = bc.u
  JOIN und ac ON ac.u = ab.u AND ac.v = bc.v)""",
        """inc AS MATERIALIZED (
  SELECT a AS eu, b AS ev, a AS p1u, c AS p1v, b AS p2u, c AS p2v FROM tri
  UNION ALL
  SELECT a, c, a, b, b, c FROM tri
  UNION ALL
  SELECT b, c, a, b, a, c FROM tri)""",
        """h0 AS MATERIALIZED (
  SELECT e.u, e.v, coalesce(s.t, 0) AS t FROM und e LEFT JOIN
  (SELECT eu, ev, count(*) AS t FROM inc GROUP BY eu, ev) s
  ON s.eu = e.u AND s.ev = e.v)""",
    ]
    for r in range(1, iters + 1):
        ctes.append(
            f"""h{r} AS MATERIALIZED (
  SELECT e.u, e.v, coalesce(hh.h, 0) AS t FROM und e LEFT JOIN (
    SELECT eu, ev, max(r) AS h FROM (
      SELECT i.eu, i.ev, least(t1.t, t2.t) AS rho,
             row_number() OVER (PARTITION BY i.eu, i.ev
                                ORDER BY least(t1.t, t2.t) DESC) AS r
      FROM inc i JOIN h{r-1} t1 ON t1.u = i.p1u AND t1.v = i.p1v
                 JOIN h{r-1} t2 ON t2.u = i.p2u AND t2.v = i.p2v)
    WHERE rho >= r GROUP BY eu, ev) hh
  ON hh.eu = e.u AND hh.ev = e.v)""")
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT u, v, t + 2 AS trussness FROM h{iters}")


def _truss_sql(k: int = TRUSS_K, rounds: int = TRUSS_ROUNDS) -> str:
    """Unrolled twin of k_truss: identical wedge-join support counts
    and peel rule per round (extra rounds past fixpoint are no-ops)."""
    ctes = [
        f"edges AS MATERIALIZED (SELECT * FROM ({EDGES}) WHERE {_THIN_PRED})",
        "t0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u, "
        "greatest(src, dst) AS v FROM edges WHERE src <> dst)",
    ]
    for r in range(1, rounds + 1):
        p = f"t{r-1}"
        ctes.append(
            f"s{r} AS MATERIALIZED (SELECT a, b FROM "
            f"(SELECT u AS a, v AS b FROM {p} UNION ALL SELECT v AS a, u AS b FROM {p}))"
        )
        ctes.append(
            f"""t{r} AS MATERIALIZED (
  SELECT u, v FROM (
    SELECT e.u, e.v, count(*) AS c
    FROM {p} e
    JOIN s{r} n1 ON n1.a = e.u
    JOIN s{r} n2 ON n2.a = e.v AND n2.b = n1.b
    GROUP BY e.u, e.v
  ) WHERE c >= {k - 2})"""
        )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT u, v FROM t{rounds}"


CLOSE_ROUNDS = 12


def q_closeness(spark, sf):
    """Exact harmonic + closeness centrality (all roots, directed) on
    the thinned events graph via batched multi-root BFS."""
    from combblas_spark.algorithms.closeness import closeness_centrality

    g = _thin_edges(events_graph(spark, sf))
    out = closeness_centrality(g)
    return out.select("id", _p6("harmonic").alias("harmonic"),
                      _p6("closeness").alias("closeness"))


LM_N = 4
LM_MAX_ID = 30


def q_landmarks(spark, sf):
    """Landmark distance sketch: batched BFS from the 4 highest-degree
    vertices (undirected) — the precomputed table for constant-time
    distance estimation."""
    from combblas_spark.algorithms.closeness import landmark_distances

    return landmark_distances(events_graph(spark, sf), n_landmarks=LM_N)


def q_landmark_est(spark, sf):
    """Point-to-point distance estimates from the landmark sketch:
    min over landmarks of d(u,lm)+d(lm,v) for the id<=30 query batch —
    one sketch self-join, the graph untouched."""
    from combblas_spark.algorithms.closeness import (landmark_distances,
                                                     landmark_estimate)

    sk = landmark_distances(events_graph(spark, sf), n_landmarks=LM_N)
    return landmark_estimate(sk, max_id=LM_MAX_ID)


def _landmark_ctes(n: int = LM_N) -> list[str]:
    """Shared CTEs: degree-ranked landmark pick + recursive undirected
    BFS closure -> sketch(lm, id, dist)."""
    return [
        f"edges AS ({EDGES})",
        "pairs AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst)",
        "sym AS MATERIALIZED (SELECT src, dst FROM (SELECT src, dst"
        " FROM pairs UNION SELECT dst, src FROM pairs))",
        "deg AS (SELECT src AS id, count(*) AS c FROM sym GROUP BY src)",
        f"lms AS (SELECT id FROM (SELECT id, row_number() OVER"
        f" (ORDER BY c DESC, id ASC) AS rn FROM deg) WHERE rn <= {n})",
        "walk(lm, id, lvl) AS (SELECT id, id, 0 FROM lms UNION"
        " SELECT w.lm, s.dst, w.lvl + 1 FROM walk w"
        " JOIN sym s ON s.src = w.id WHERE w.lvl < 40)",
        "sketch AS (SELECT lm, id, CAST(min(lvl) AS BIGINT) AS dist"
        " FROM walk GROUP BY lm, id)",
    ]


def _landmarks_sql(n: int = LM_N) -> str:
    """Twin of q_landmarks."""
    return ("WITH RECURSIVE " + ",\n".join(_landmark_ctes(n))
            + "\nSELECT lm, id, dist FROM sketch")


def _landmark_est_sql(n: int = LM_N, max_id: int = LM_MAX_ID) -> str:
    """Twin of q_landmark_est: same sketch, same self-join + min."""
    return ("WITH RECURSIVE " + ",\n".join(_landmark_ctes(n)) + f"""
SELECT a.id AS id_a, b.id AS id_b,
       CAST(min(a.dist + b.dist) AS BIGINT) AS est
FROM (SELECT * FROM sketch WHERE id <= {max_id}) a
JOIN (SELECT * FROM sketch WHERE id <= {max_id}) b
  ON b.lm = a.lm AND a.id < b.id
GROUP BY a.id, b.id""")


def _closeness_sql(rounds: int = CLOSE_ROUNDS) -> str:
    """Unrolled batched-BFS twin of q_closeness (rounds past the
    diameter are no-ops)."""
    ctes = [
        f"edges AS MATERIALIZED (SELECT * FROM ({EDGES}) WHERE {_THIN_PRED})",
        "verts AS MATERIALIZED (SELECT DISTINCT id FROM "
        "(SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges))",
        "de AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges)",
        "l0 AS (SELECT id AS root, id, 0 AS level FROM verts)",
    ]
    for t in range(1, rounds + 1):
        p = f"l{t-1}"
        ctes.append(
            f"""l{t} AS MATERIALIZED (
  SELECT * FROM {p}
  UNION ALL
  SELECT root, id, {t} AS level FROM (
    SELECT DISTINCT f.root, e.dst AS id
    FROM {p} f JOIN de e ON e.src = f.id WHERE f.level = {t - 1}
  ) n WHERE NOT EXISTS (
    SELECT 1 FROM {p} x WHERE x.root = n.root AND x.id = n.id))"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f""",
sc AS (
  SELECT root,
         coalesce(sum(CASE WHEN level > 0 THEN 1.0 / level END), 0.0) AS harmonic,
         sum(level) AS sumd,
         count(CASE WHEN level > 0 THEN 1 END) AS reached
  FROM l{rounds} GROUP BY root)
SELECT v.id,
       floor((coalesce(sc.harmonic, 0.0)) * 1e6 + 0.5) / 1e6 AS harmonic,
       floor((coalesce(CASE WHEN sc.sumd > 0
                           THEN CAST(sc.reached AS DOUBLE) / sc.sumd
                           ELSE 0.0 END, 0.0)) * 1e6 + 0.5) / 1e6 AS closeness
FROM verts v LEFT JOIN sc ON sc.root = v.id"""
    )


def q_eff_diameter(spark, sf):
    """WebGraph-convention effective diameter: smallest h (interpolated)
    with N(h) >= 0.9 * N(inf), from FM sketches run to stability."""
    from combblas_spark.algorithms.anf import effective_diameter

    d = effective_diameter(events_graph(spark, sf), q=0.9, max_hops=8,
                           k=ANF_K, r_bits=ANF_RBITS, seed=ANF_SEED)
    return spark.createDataFrame(
        [(d["effective_diameter"], d["hops_run"])],
        "eff_diameter double, hops_run int")


def q_hyperball(spark, sf):
    """HyperBall harmonic-centrality estimates (Boldi-Vigna 2013): the
    per-vertex centrality that replaces exact multi-root BFS closeness
    at crawl scale — hops supersteps total for ALL vertices. Same
    proven anf sketch machinery; the increment fold is composed
    identically in the twin."""
    from combblas_spark.algorithms.anf import hyperball_harmonic

    return hyperball_harmonic(events_graph(spark, sf), hops=ANF_HOPS,
                              k=ANF_K, r_bits=ANF_RBITS, seed=ANF_SEED)


def _hyperball_sql(hops: int = ANF_HOPS, k: int = ANF_K,
                   r_bits: int = ANF_RBITS, seed: int = ANF_SEED) -> str:
    """Twin of q_hyperball: the shared anf sketch unroll, a per-hop
    per-vertex FM estimate, and the same left-to-right increment fold
    ((0 + d1/1) + d2/2) + ..."""
    ctes, lzb = _anf_ctes(hops, k, r_bits, seed)
    for h in range(0, hops + 1):
        ctes.append(
            f"e{h} AS (SELECT id, pow(2.0, ({lzb}) / {float(k)}) / 0.77351"
            f" AS est FROM s{h})")
    expr = "0.0"
    for h in range(1, hops + 1):
        expr = f"({expr} + (e{h}.est - e{h - 1}.est) / {float(h)})"
    joins = "e0 " + " ".join(
        f"JOIN e{h} USING (id)" for h in range(1, hops + 1))
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT id, floor(({expr}) * 1e6 + 0.5) / 1e6 AS harmonic_est FROM {joins}")


def q_anf(spark, sf):
    """Approximate neighborhood function (ANF, KDD'02): N(h) estimates
    for h=0..3 from md5-seeded Flajolet-Martin sketches merged by
    bit_or supersteps — the OR-semiring SpMV. sum_lzb is the exact
    integer anchor; est is the FM estimate (6dp)."""
    from combblas_spark.algorithms.anf import neighborhood_function

    g = events_graph(spark, sf)
    return neighborhood_function(
        g, hops=ANF_HOPS, k=ANF_K, r_bits=ANF_RBITS, seed=ANF_SEED
    )


def q_hits(spark, sf):
    """HITS hubs/authorities, 5 L2-normalized power iterations over the
    dual-layout edge cache (one copy per aggregation dimension)."""
    from combblas_spark.algorithms.hits import hits

    g = events_graph(spark, sf)
    out = hits(g, n_iter=HITS_ITERS)
    return out.select(
        "id", _p6("hub").alias("hub"), _p6("auth").alias("auth")
    )


def q_salsa(spark, sf):
    """SALSA hubs/authorities: degree-normalized (stochastic) HITS
    variant, 5 un-normalized power iterations over the dual-layout
    cache with the 1/deg weights baked into the cached copies."""
    from combblas_spark.algorithms.hits import salsa

    g = events_graph(spark, sf)
    out = salsa(g, n_iter=HITS_ITERS)
    return out.select(
        "id", _p6("hub").alias("hub"), _p6("auth").alias("auth")
    )


# 1/16: a BINARY-EXACT attenuation. With alpha a power of two, every
# intermediate Katz value at gate scale is an exact multiple of
# 2^(-4*iters) with < 53 significant bits, so the engine's and the
# oracle's sums agree bit-for-bit under ANY summation order (the ANF
# sum_lzb anchor trick). alpha=0.05 was measured to differ in the last
# 6dp digit on 2/150 vertices from summation-order float error alone.
KATZ_ALPHA = 0.0625


def q_katz(spark, sf):
    """Katz centrality: attenuated path-count power iteration (the
    third classic centrality next to pagerank and hits/salsa), 5 fixed
    iterations over the dst-partitioned cached edges."""
    from combblas_spark.algorithms.hits import katz

    g = events_graph(spark, sf)
    return katz(g, alpha=KATZ_ALPHA, n_iter=HITS_ITERS).select(
        "id", _p6("katz").alias("katz"))


FASTRP_D = 8
FASTRP_ITERS = 3
FASTRP_SEED = 17


def q_fastrp(spark, sf):
    """FastRP node embeddings (Chen et al. 2019): d=8 counter-hash
    {-1,0,+1} projections pushed through 3 unnormalized adjacency
    powers, levels mixed with power-of-two weights — every value a
    BIGINT, so the oracle hash checks exact integers."""
    from combblas_spark.algorithms.embeddings import fastrp

    return fastrp(events_graph(spark, sf), d=FASTRP_D,
                  n_iter=FASTRP_ITERS, seed=FASTRP_SEED)


def _fastrp_sql(d: int = FASTRP_D, iters: int = FASTRP_ITERS,
                seed: int = FASTRP_SEED) -> str:
    """Twin of q_fastrp: identical counter-hash projection (the
    walks.py md5 rule), unrolled SpMV levels, same 2^{K-k} mix."""
    def proj(j):
        return (f"CASE (('0x' || substr(md5(id || ':{j}:{seed}'), 1, 8))"
                f"::BIGINT % 4) WHEN 0 THEN 1 WHEN 1 THEN -1 ELSE 0 END"
                f"::BIGINT AS x{j}")

    xs = lambda p: ", ".join(f"{p}x{j}" for j in range(d))  # noqa: E731
    ctes = [
        f"edges AS MATERIALIZED ({EDGES})",
        "verts AS MATERIALIZED (SELECT DISTINCT id FROM "
        "(SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges))",
        "s0 AS (SELECT id, " + ", ".join(proj(j) for j in range(d))
        + " FROM verts)",
    ]
    for t in range(1, iters + 1):
        sums = ", ".join(
            f"CAST(sum(x.x{j}) AS BIGINT) AS x{j}" for j in range(d))
        stitch = ", ".join(
            f"coalesce(i.x{j}, 0)::BIGINT AS x{j}" for j in range(d))
        ctes.append(
            f"i{t} AS (SELECT e.dst AS id, {sums} FROM edges e "
            f"JOIN s{t-1} x ON x.id = e.src GROUP BY e.dst)")
        ctes.append(
            f"s{t} AS MATERIALIZED (SELECT v.id, {stitch} "
            f"FROM verts v LEFT JOIN i{t} i ON i.id = v.id)")
    mix = ", ".join(
        "CAST(" + " + ".join(f"{1 << (iters - t)} * s{t}.x{j}"
                             for t in range(1, iters + 1))
        + f" AS BIGINT) AS e{j}" for j in range(d))
    joins = " ".join(f"JOIN s{t} ON s{t}.id = v.id"
                     for t in range(1, iters + 1))
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT v.id, {mix} FROM verts v {joins}")


def q_eigencentrality(spark, sf):
    """Eigenvector centrality: pure attenuated power iteration (the
    fourth classic centrality — katz without the additive term),
    normalized to sum 1, 8 fixed iterations. The 1/16 hop factor keeps
    every intermediate an exact dyadic rational (the katz trick), so
    only the final normalization divides inexactly — identically in
    both engines, rounded 6dp."""
    from combblas_spark.algorithms.hits import eigencentrality

    return eigencentrality(events_graph(spark, sf), n_iter=8)


def q_two_hop_reach(spark, sf):
    """Exact 1- and 2-hop ball sizes per vertex — the exact companion
    of the ANF sketch estimates (anf/eff_diameter) at hop 2. Exact
    integers, zero-filled."""
    from combblas_spark.algorithms.anf import two_hop_reach

    return two_hop_reach(events_graph(spark, sf))


def q_k_core(spark, sf):
    """k-core peel (k=15) on the thinned events graph — iterated
    Reduce(Row)+PruneRowsCols until fixed point."""
    from combblas_spark.algorithms.kcore import k_core

    g = _thin_edges(events_graph(spark, sf))
    return k_core(g, KCORE_K)


SCORE_S = 18
SCORE_ROUNDS = 24


def q_s_core(spark, sf):
    """Weighted k-core (s-core, Eidsaa & Almaas 2013) at strength 18 on
    the thinned events MULTIGRAPH: peel on summed integer edge weights
    (val = duplicate-edge multiplicity) instead of degree."""
    from combblas_spark.algorithms.kcore import s_core

    g = _thin_edges(events_graph(spark, sf))
    return s_core(g, SCORE_S, weight_col="val")


def _s_core_sql(s: int = SCORE_S, rounds: int = SCORE_ROUNDS) -> str:
    """Twin of q_s_core: unrolled strength-peel rounds (extra rounds
    past the fixed point are no-ops)."""
    ctes = [
        f"edges AS MATERIALIZED (SELECT * FROM ({EDGES}) WHERE {_THIN_PRED})",
        "sym AS MATERIALIZED (SELECT src, dst, CAST(val AS BIGINT) AS w "
        "FROM edges WHERE src <> dst "
        "UNION ALL SELECT dst, src, CAST(val AS BIGINT) FROM edges WHERE src <> dst)",
        "a0 AS (SELECT DISTINCT id FROM "
        "(SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges))",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"""a{r} AS MATERIALIZED (
          SELECT s.dst AS id FROM sym s
          JOIN a{r-1} x ON x.id = s.src
          JOIN a{r-1} y ON y.id = s.dst
          GROUP BY s.dst HAVING sum(s.w) >= {s})"""
        )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT id FROM a{rounds}"


def q_coreness(spark, sf):
    """Full coreness decomposition via distributed h-index iteration
    (Lü et al. 2016) on the thinned events graph."""
    from combblas_spark.algorithms.kcore import core_numbers

    g = _thin_edges(events_graph(spark, sf))
    return core_numbers(g)


DS_ROUNDS = 24  # eps=0.5 peels >= 1.5x vertices/round -> covers n <= 1.5^23


def q_densest(spark, sf):
    """Densest subgraph (Charikar greedy peel, Bahmani et al. 2012
    batched rule) on the thinned events graph: the members of the
    best-density peel snapshot + its (round, n, m, density) stats."""
    from combblas_spark.algorithms.densest import densest_subgraph

    g = _thin_edges(events_graph(spark, sf))
    return densest_subgraph(g, eps=0.5, max_rounds=DS_ROUNDS)


def _densest_sql(rounds: int = DS_ROUNDS) -> str:
    """Twin of q_densest: the peel unrolled (rounds past empty are
    no-ops — deg over an empty alive set is empty, and n=0 stats rows
    are excluded from the argmax). The threshold compare
    d > 1.5 * sum_d / n and the density 0.5 * sum_d / n use the same
    operand order as the Spark loop, so the peel sequence is
    bit-identical (integer operands, one product, one IEEE division)."""
    ctes = [
        f"edges AS MATERIALIZED (SELECT * FROM ({EDGES}) WHERE {_THIN_PRED})",
        "sym AS MATERIALIZED (SELECT src, dst FROM "
        "(SELECT src, dst FROM edges UNION SELECT dst, src FROM edges) "
        "WHERE src <> dst)",
        "a0 AS (SELECT DISTINCT id FROM "
        "(SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges))",
    ]
    for r in range(rounds + 1):
        ctes.append(
            f"""d{r} AS MATERIALIZED (
          SELECT s.dst AS id, count(*) AS d FROM sym s
          JOIN a{r} x ON x.id = s.src
          JOIN a{r} y ON y.id = s.dst
          GROUP BY s.dst)"""
        )
        ctes.append(
            f"s{r} AS (SELECT {r} AS round, (SELECT count(*) FROM a{r}) AS n, "
            f"(SELECT coalesce(sum(d), 0) FROM d{r}) AS sum_d)"
        )
        if r < rounds:
            ctes.append(
                f"a{r + 1} AS MATERIALIZED (SELECT d.id FROM d{r} d, s{r} s "
                f"WHERE d.d > 1.5 * s.sum_d / s.n)"
            )
    stats_union = " UNION ALL ".join(
        f"SELECT * FROM s{r}" for r in range(rounds + 1))
    alive_union = " UNION ALL ".join(
        f"SELECT {r} AS round, id FROM a{r}" for r in range(rounds + 1))
    ctes.append(f"stats AS ({stats_union})")
    ctes.append(
        "best AS (SELECT round, n, CAST(sum_d / 2 AS BIGINT) AS m, "
        "floor((0.5 * sum_d / n) * 1e6 + 0.5) / 1e6 AS density, 0.5 * sum_d / n AS raw "
        "FROM stats WHERE n > 0 ORDER BY raw DESC, round ASC LIMIT 1)")
    ctes.append(f"alive_all AS ({alive_union})")
    return ("WITH " + ",\n".join(ctes)
            + "\nSELECT al.id, b.round, b.n, b.m, b.density"
            + "\nFROM alive_all al JOIN best b USING (round)")


def q_host_graph(spark, sf):
    """Host-level contraction of the synthetic Common-Crawl-style page
    link graph: urls -> hosts (JVM regexp) -> weighted host edges. The
    oracle re-derives the expected multiset from the generator rule
    alone (same independence argument as pages_pipeline)."""
    from combblas_spark.sources.pages import generate_pages, host_link_graph

    pages = generate_pages(spark, n_pages=PAGES_N)
    return host_link_graph(pages)


def _host_graph_sql(n_pages: int = PAGES_N, n_sites: int = 10,
                    out_links: int = 4, seed: int = 42) -> str:
    """Expected host_graph output as a VALUES literal, derived from the
    seeded RMAT rule in numpy — independent of the Spark pipeline under
    test (HTML encode, pandas-UDF extraction, regexp host parse,
    contraction groupBy)."""
    from collections import Counter

    import numpy as np

    from combblas_spark.sources.rmat import rmat_pandas

    scale = max(1, (n_pages - 1).bit_length())
    eids = np.arange(n_pages * out_links, dtype=np.int64)
    _, dsts = rmat_pandas(eids, scale, seed)
    dsts = (dsts % n_pages).reshape(n_pages, out_links)
    mult: Counter = Counter()
    for i in range(n_pages):
        hs = f"site{i % n_sites}.example"
        for j in dsts[i]:
            j = int(j)
            if j == i:
                continue  # generator drops self page-links
            hd = f"site{j % n_sites}.example"
            if hs != hd:  # host_link_graph drops intra-host links
                mult[(hs, hd)] += 1
    rows = ", ".join(
        f"('{s}','{d}',{c})" for (s, d), c in sorted(mult.items())
    )
    return (
        "SELECT src_host, dst_host, CAST(weight AS BIGINT) AS weight "
        f"FROM (VALUES {rows}) AS t(src_host, dst_host, weight)"
    )


TRUST_SEEDS = ["site0.example", "site3.example", "site6.example", "site9.example"]


def q_spam_mass(spark, sf):
    """Spam mass (Gyongyi et al. 2005): the fraction of a host's
    PageRank NOT backed by trust — (pr - trustrank)/pr over the host
    graph, both ranks run through the same weighted personalized path
    (the uniform rank passes an explicit all-ones teleport so engine
    and oracle share one expression shape bit-for-bit)."""
    from combblas_spark.sources.pages import generate_pages, host_link_graph

    pages = generate_pages(spark, n_pages=PAGES_N)
    hg = host_link_graph(pages).select(
        F.col("src_host").alias("src"),
        F.col("dst_host").alias("dst"),
        F.col("weight").cast("double").alias("val"),
    )
    verts = (hg.select(F.col("src").alias("id"))
             .unionByName(hg.select(F.col("dst").alias("id"))).distinct())
    tele_seed = spark.createDataFrame([(h, 1.0) for h in TRUST_SEEDS], ["id", "t"])
    tele_uni = verts.select("id", F.lit(1.0).alias("t"))
    tr = pagerank(hg, alpha=ALPHA, n_iter=PR_ITERS, weighted=True,
                  teleport=tele_seed).select("id", F.col("rank").alias("_tr"))
    pr = pagerank(hg, alpha=ALPHA, n_iter=PR_ITERS, weighted=True,
                  teleport=tele_uni).select("id", F.col("rank").alias("_pr"))
    return (
        pr.join(tr, "id")
        .select(
            F.col("id").alias("host"),
            _p6("_pr").alias("pr"),
            _p6("_tr").alias("trust"),
            _p6((F.col("_pr") - F.col("_tr")) / F.col("_pr")).alias("spam_mass"),
        )
    )


def _spam_mass_sql(iters: int = PR_ITERS, alpha: float = ALPHA) -> str:
    """Twin of q_spam_mass: two namespaced copies of the host-PR chain
    (seeded and uniform), spam mass from the RAW ranks."""
    ctes = (_host_pr_ctes(iters, alpha, seeded=True, prefix="t_")
            + _host_pr_ctes(iters, alpha, seeded=False, prefix="u_"))
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
SELECT u.id AS host, floor((u.pr) * 1e6 + 0.5) / 1e6 AS pr, floor((t.pr) * 1e6 + 0.5) / 1e6 AS trust,
       floor(((u.pr - t.pr) / u.pr) * 1e6 + 0.5) / 1e6 AS spam_mass
FROM u_r{iters} u JOIN t_r{iters} t ON t.id = u.id"""
    )


def q_trustrank(spark, sf):
    """TrustRank (Gyongyi et al. 2004): weighted personalized PageRank
    over the host graph, restarting at a trusted-seed host set — the
    standard webspam-demotion ranking, composed end-to-end from the
    engine's own pieces: synthetic Common-Crawl pages -> JVM host parse
    + contraction (host_link_graph) -> pagerank(weighted, teleport)."""
    from combblas_spark.sources.pages import generate_pages, host_link_graph

    pages = generate_pages(spark, n_pages=PAGES_N)
    hg = host_link_graph(pages).select(
        F.col("src_host").alias("src"),
        F.col("dst_host").alias("dst"),
        F.col("weight").cast("double").alias("val"),
    )
    tele = spark.createDataFrame([(h, 1.0) for h in TRUST_SEEDS], ["id", "t"])
    r = pagerank(hg, alpha=ALPHA, n_iter=PR_ITERS, weighted=True, teleport=tele)
    return r.select(F.col("id").alias("host"), _p6("rank").alias("trust"))


def _trustrank_sql(iters: int = PR_ITERS, alpha: float = ALPHA) -> str:
    """Unrolled weighted personalized PageRank over the rule-derived
    host-graph VALUES multiset (_host_graph_sql), seeds TRUST_SEEDS.
    Expression order mirrors pagerank()'s Columns: per-edge transition
    weight is (val / out_weight), restart and dangling mass scale by
    the normalized seed indicator."""
    ctes = _host_pr_ctes(iters, alpha, seeded=True, prefix="")
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT id AS host, floor((pr) * 1e6 + 0.5) / 1e6 AS trust FROM r{iters}"
    )


def _host_pr_ctes(iters: int, alpha: float, seeded: bool, prefix: str) -> list:
    """CTE chain for weighted personalized PageRank over the host
    graph; seeded=True restarts at TRUST_SEEDS, seeded=False uses the
    uniform teleport THROUGH THE SAME normalized-weight expressions (so
    engine runs with an explicit uniform teleport DataFrame match
    bit-for-bit). ``prefix`` namespaces the CTEs so two chains coexist
    in one query."""
    seeds = ", ".join(f"'{h}'" for h in TRUST_SEEDS)
    w_case = (f"CASE WHEN v.id IN ({seeds}) THEN CAST(1.0 AS DOUBLE) "
              "ELSE CAST(0.0 AS DOUBLE) END" if seeded else "CAST(1.0 AS DOUBLE)")
    P = prefix
    ctes = [
        f"{P}hedges AS MATERIALIZED (SELECT src_host AS src, dst_host AS dst, "
        f"CAST(weight AS DOUBLE) AS val FROM ({_host_graph_sql()}))",
        f"{P}verts AS MATERIALIZED (SELECT DISTINCT id FROM "
        f"(SELECT src AS id FROM {P}hedges UNION ALL SELECT dst FROM {P}hedges))",
        f"{P}outw AS MATERIALIZED (SELECT src AS id, sum(val) AS ow FROM {P}hedges GROUP BY src)",
        f"{P}srcs AS MATERIALIZED (SELECT DISTINCT src FROM {P}hedges)",
        f"{P}tw AS (SELECT v.id, {w_case} AS w FROM {P}verts v)",
        f"{P}tt AS (SELECT sum(w) AS s FROM {P}tw)",
        f"{P}tpv AS MATERIALIZED (SELECT {P}tw.id, {P}tw.w / {P}tt.s AS tp "
        f"FROM {P}tw CROSS JOIN {P}tt)",
        f"{P}r0 AS MATERIALIZED (SELECT id, tp AS pr FROM {P}tpv)",
    ]
    # MATERIALIZED rank chain — same exponential-replay fix as
    # _pr_chain_ctes (r{k} is referenced twice by r{k+1})
    for k in range(1, iters + 1):
        p = f"{P}r{k-1}"
        ctes.append(
            f"{P}d{k} AS MATERIALIZED (SELECT coalesce(sum(pr), 0.0) AS dm FROM {p} "
            f"WHERE id NOT IN (SELECT src FROM {P}srcs))"
        )
        ctes.append(
            f"""{P}r{k} AS MATERIALIZED (
  SELECT t.id,
         (1.0 - {alpha}) * t.tp + {alpha} * (coalesce(inf.s, 0.0) + {P}d{k}.dm * t.tp) AS pr
  FROM {P}tpv t CROSS JOIN {P}d{k}
  LEFT JOIN (
    SELECT e.dst AS id, sum((e.val / o.ow) * r.pr) AS s
    FROM {P}hedges e JOIN {p} r ON e.src = r.id JOIN {P}outw o ON o.id = e.src
    GROUP BY e.dst
  ) inf ON inf.id = t.id
)"""
        )
    return ctes


def _anf_ctes(hops: int, k: int, r_bits: int, seed: int) -> tuple[list, str]:
    """Shared CTE builder for the ANF twins: returns (ctes producing
    s0..s{hops} sketch states, the per-row lzb-sum expression)."""
    cap = 1 << (r_bits - 1)
    ms = list(range(k))
    u_exprs = ", ".join(
        f"('0x' || substr(md5('{seed}:{j}:' || CAST(id AS VARCHAR)), 1, 8))::BIGINT AS u{j}"
        for j in ms
    )
    m_exprs = ", ".join(
        f"CASE WHEN (u{j} & -u{j}) = 0 THEN {cap} "
        f"ELSE least(u{j} & -u{j}, {cap}) END AS m{j}"
        for j in ms
    )
    ctes = [
        f"edges AS MATERIALIZED ({EDGES})",
        "verts AS MATERIALIZED (SELECT DISTINCT id FROM "
        "(SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges))",
        "sym AS MATERIALIZED (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges)",
        f"s0 AS MATERIALIZED (SELECT id, {m_exprs} FROM (SELECT id, {u_exprs} FROM verts))",
    ]
    for h in range(1, hops + 1):
        bors = ", ".join(f"bit_or(l.m{j}) AS b{j}" for j in ms)
        merged = ", ".join(f"p.m{j} | coalesce(n.b{j}, 0) AS m{j}" for j in ms)
        ctes.append(
            f"n{h} AS (SELECT s.dst AS id, {bors} FROM sym s "
            f"JOIN s{h-1} l ON l.id = s.src GROUP BY s.dst)"
        )
        ctes.append(
            f"s{h} AS MATERIALIZED (SELECT p.id, {merged} FROM s{h-1} p "
            f"LEFT JOIN n{h} n ON n.id = p.id)"
        )
    lzb = " + ".join(
        f"CAST(log2((~m{j}) & (m{j} + 1)) AS INT)" for j in ms
    )
    return ctes, lzb


def _anf_sql(hops: int = ANF_HOPS, k: int = ANF_K, r_bits: int = ANF_RBITS,
             seed: int = ANF_SEED) -> str:
    """DuckDB twin of algorithms.anf.neighborhood_function: identical
    md5-seeded FM masks, bit_or hop merges, lowest-zero-bit estimate."""
    ctes, lzb = _anf_ctes(hops, k, r_bits, seed)
    summaries = " UNION ALL ".join(
        f"SELECT CAST({h} AS INT) AS h, CAST(sum(tot) AS BIGINT) AS sum_lzb, "
        f"floor((sum(pow(2.0, tot / {float(k)})) / 0.77351) * 1e6 + 0.5) / 1e6 AS est "
        f"FROM (SELECT ({lzb}) AS tot FROM s{h})"
        for h in range(0, hops + 1)
    )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT h, sum_lzb, est FROM ({summaries})"


def _degree_hist_sql() -> str:
    """Twin of q_degree_hist."""
    return f"""WITH edges AS ({EDGES}),
sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
L AS (SELECT DISTINCT src, dst FROM sym WHERE src < dst),
dirs AS (SELECT src, dst FROM L UNION ALL SELECT dst, src FROM L),
deg AS (SELECT src, count(*) AS degree FROM dirs GROUP BY src)
SELECT degree, count(*) AS n_vertices FROM deg GROUP BY degree"""


def _local_clustering_sql() -> str:
    """Twin of q_local_clustering: per-vertex triangle incidence count
    (same canonical join as triangles_per_vertex) left-joined onto the
    d*(d-1)/2 wedge count over all non-isolated vertices."""
    return f"""WITH edges AS ({EDGES}),
sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
L AS (SELECT DISTINCT src, dst FROM sym WHERE src < dst),
tri3 AS (
  SELECT ab.src AS a, ab.dst AS b, bc.dst AS c
  FROM L ab JOIN L bc ON ab.dst = bc.src
  JOIN L ac ON ac.src = ab.src AND ac.dst = bc.dst),
tv AS (SELECT id, count(*) AS tri FROM (
         SELECT a AS id FROM tri3
         UNION ALL SELECT b FROM tri3
         UNION ALL SELECT c FROM tri3) GROUP BY id),
dirs AS (SELECT src, dst FROM L UNION ALL SELECT dst, src FROM L),
w AS (SELECT src AS id, CAST(count(*) * (count(*) - 1) / 2 AS BIGINT) AS wedges
      FROM dirs GROUP BY src)
SELECT w.id, coalesce(tv.tri, 0) AS tri, w.wedges,
       CASE WHEN w.wedges > 0
            THEN floor((CAST(coalesce(tv.tri, 0) AS DOUBLE) / w.wedges) * 1e6 + 0.5) / 1e6 END AS coef
FROM w LEFT JOIN tv ON tv.id = w.id"""


def _reciprocity_sql() -> str:
    """Twin of q_reciprocity."""
    return f"""WITH edges AS ({EDGES}),
de AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
n AS (SELECT count(*) AS n_edges FROM de),
m AS (SELECT count(*) AS n_mutual FROM de a
      WHERE EXISTS (SELECT 1 FROM de b WHERE b.src = a.dst AND b.dst = a.src))
SELECT CASE WHEN n_edges > 0
            THEN floor((CAST(n_mutual AS DOUBLE) / n_edges) * 1e6 + 0.5) / 1e6 END AS reciprocity,
       n_edges, n_mutual
FROM n, m"""


def _transitivity_sql() -> str:
    """Twin of q_transitivity: identical triangle join (a<b<c canonical
    orientation) and wedge sum."""
    return f"""WITH edges AS ({EDGES}),
sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
L AS (SELECT DISTINCT src, dst FROM sym WHERE src < dst),
tri AS (
  SELECT count(*) AS triangles
  FROM (SELECT ab.src AS a, bc.dst AS c
        FROM L ab JOIN L bc ON bc.src = ab.dst) w
  WHERE EXISTS (SELECT 1 FROM L WHERE L.src = w.a AND L.dst = w.c)
),
dirs AS (SELECT src, dst FROM L UNION ALL SELECT dst, src FROM L),
w2 AS (SELECT sum(d * (d - 1)) AS w2 FROM
       (SELECT count(*) AS d FROM dirs GROUP BY src))
SELECT CASE WHEN w2.w2 > 0
            THEN floor((CAST(tri.triangles * 6 AS DOUBLE) / w2.w2) * 1e6 + 0.5) / 1e6 END AS transitivity,
       tri.triangles AS triangles,
       CAST(w2.w2 / 2 AS BIGINT) AS wedges
FROM tri, w2"""


def _assortativity_sql() -> str:
    """Twin of q_assortativity: same double-cast moment combination
    (integer sums -> double *,-,/,sqrt — all correctly rounded)."""
    return f"""WITH edges AS ({EDGES}),
und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM edges WHERE src <> dst),
dirs AS (SELECT a AS src, b AS dst FROM und UNION ALL SELECT b, a FROM und),
deg AS (SELECT src, count(*) AS deg FROM dirs GROUP BY src),
p AS (SELECT d1.deg AS x, d2.deg AS y
      FROM dirs JOIN deg d1 ON d1.src = dirs.src
                JOIN deg d2 ON d2.src = dirs.dst),
m AS (SELECT CAST(count(*) AS DOUBLE) AS n, count(*) AS n_raw,
             CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(x * y) AS DOUBLE) AS sxy,
             CAST(sum(x * x) AS DOUBLE) AS sx2,
             CAST(sum(y * y) AS DOUBLE) AS sy2
      FROM p)
SELECT CASE WHEN (n * sx2 - sx * sx) > 0 AND (n * sy2 - sy * sy) > 0
            THEN floor(((n * sxy - sx * sy)
                       / (sqrt(n * sx2 - sx * sx) * sqrt(n * sy2 - sy * sy))) * 1e6 + 0.5) / 1e6
       END AS r,
       CAST(n_raw / 2 AS BIGINT) AS n_edges
FROM m"""


def _avg_neighbor_degree_sql() -> str:
    """Twin of q_avg_neighbor_degree: same symmetrized degree join and
    the same single double division of exact integer sums per degree."""
    return f"""WITH edges AS ({EDGES}),
und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM edges WHERE src <> dst),
dirs AS (SELECT a AS src, b AS dst FROM und UNION ALL SELECT b, a FROM und),
deg AS (SELECT src, count(*) AS deg FROM dirs GROUP BY src),
sv AS (SELECT dirs.src, sum(d.deg) AS s FROM dirs
       JOIN deg d ON d.src = dirs.dst GROUP BY dirs.src)
SELECT deg.deg,
       floor((CAST(sum(sv.s) AS DOUBLE)
             / (CAST(deg.deg AS DOUBLE) * CAST(count(*) AS DOUBLE))) * 1e6 + 0.5) / 1e6 AS knn,
       count(*) AS n_vertices
FROM deg JOIN sv ON sv.src = deg.src
GROUP BY deg.deg"""


def _ppmi_sql(window: int = 2) -> str:
    """Twin of q_ppmi: the skip-gram pair unroll plus the marginal
    re-aggregations and the clamped odds ratio (cnt*T)/(cc*cx) — the
    numerator product first, then one division, exactly as the engine
    multiplies/divides, so 6dp rounding is bit-identical."""
    return f"""WITH corpus AS MATERIALIZED ({_walks_sql()}),
pairs AS (SELECT a.vertex AS center, b.vertex AS context, count(*) AS cnt
          FROM corpus a JOIN corpus b
            ON a.start = b.start AND a.walk = b.walk
          WHERE abs(a.step - b.step) <= {window}
            AND a.step <> b.step AND a.vertex <> b.vertex
          GROUP BY a.vertex, b.vertex),
t AS (SELECT CAST(sum(cnt) AS DOUBLE) AS tt FROM pairs),
cm AS (SELECT center, CAST(sum(cnt) AS DOUBLE) AS cc FROM pairs GROUP BY center),
xm AS (SELECT context, CAST(sum(cnt) AS DOUBLE) AS cx FROM pairs GROUP BY context)
SELECT p.center, p.context, p.cnt,
       floor((GREATEST(CAST(p.cnt AS DOUBLE) * t.tt / (cm.cc * xm.cx), 1.0)) * 1e6 + 0.5) / 1e6
           AS ppmi_odds
FROM pairs p
JOIN cm ON cm.center = p.center
JOIN xm ON xm.context = p.context
CROSS JOIN t"""


def _eff_diameter_sql(max_hops: int = 8, q: float = 0.9, k: int = ANF_K,
                      r_bits: int = ANF_RBITS, seed: int = ANF_SEED) -> str:
    """Twin of algorithms.anf.effective_diameter: unroll the sketches to
    max_hops with RAW estimates, find the first hop whose total mask
    POPCOUNT repeats (the engine's break condition — masks only gain
    bits under OR, so equal popcount means the sketch fixpoint; sum_lzb
    can stall while balls still grow, review r5), take N(inf) there,
    and interpolate the smallest h with N(h) >= q*N(inf) exactly as the
    engine does (frac = 0 when the step is flat)."""
    ctes, lzb = _anf_ctes(max_hops, k, r_bits, seed)
    pop = " + ".join(f"bit_count(m{j})" for j in range(k))
    summaries = " UNION ALL ".join(
        f"SELECT CAST({h} AS INT) AS h, CAST(sum(tot) AS BIGINT) AS sum_lzb, "
        f"CAST(sum(ptot) AS BIGINT) AS sum_pop, "
        f"sum(pow(2.0, tot / {float(k)})) / 0.77351 AS est "
        f"FROM (SELECT ({lzb}) AS tot, ({pop}) AS ptot FROM s{h})"
        for h in range(0, max_hops + 1)
    )
    ctes.append(f"summ AS MATERIALIZED ({summaries})")
    ctes.append(
        "stop AS (SELECT coalesce(min(a.h), %d) AS hs FROM summ a "
        "JOIN summ b ON b.h = a.h - 1 AND b.sum_pop = a.sum_pop)" % max_hops)
    ctes.append("ninf AS (SELECT est AS n_inf FROM summ, stop WHERE h = hs)")
    ctes.append(
        f"hit AS (SELECT min(h) AS hi FROM summ, ninf, stop "
        f"WHERE est >= {q} * n_inf AND h <= hs)")
    ctes.append(
        f"""eff AS (
  SELECT CASE WHEN hit.hi = 0 THEN 0.0
              WHEN cur.est > prev.est
                THEN (hit.hi - 1) + ({q} * ninf.n_inf - prev.est) / (cur.est - prev.est)
              ELSE CAST(hit.hi - 1 AS DOUBLE) END AS e
  FROM hit, ninf
  LEFT JOIN summ cur ON cur.h = (SELECT hi FROM hit)
  LEFT JOIN summ prev ON prev.h = (SELECT hi FROM hit) - 1
)""")
    return ("WITH " + ",\n".join(ctes)
            + "\nSELECT floor(((SELECT e FROM eff)) * 1e3 + 0.5) / 1e3 AS eff_diameter, "
              "(SELECT hs FROM stop) AS hops_run")


def _hits_power_ctes(src_table: str, iters: int) -> list[str]:
    """The L2-normalized HITS power unroll over ``src_table`` (src,
    dst) with vertex set ``{src_table}_verts`` — shared by _hits_sql
    and _topic_hits_sql so the half-step rule lives in ONE place."""
    e = src_table
    ctes = [
        f"{e}_verts AS MATERIALIZED (SELECT DISTINCT id FROM "
        f"(SELECT src AS id FROM {e} UNION ALL SELECT dst FROM {e}))",
        f"h0 AS (SELECT id, 1.0 AS v FROM {e}_verts)",
    ]
    for t in range(1, iters + 1):
        ctes.append(
            f"ar{t} AS MATERIALIZED (SELECT e.dst AS id, sum(h.v) AS v "
            f"FROM {e} e JOIN h{t-1} h ON h.id = e.src GROUP BY e.dst)"
        )
        ctes.append(f"an{t} AS (SELECT sqrt(sum(v * v)) AS nrm FROM ar{t})")
        ctes.append(
            f"a{t} AS MATERIALIZED (SELECT id, v / nrm AS v FROM ar{t} CROSS JOIN an{t})"
        )
        ctes.append(
            f"hr{t} AS MATERIALIZED (SELECT e.src AS id, sum(a.v) AS v "
            f"FROM {e} e JOIN a{t} a ON a.id = e.dst GROUP BY e.src)"
        )
        ctes.append(f"hn{t} AS (SELECT sqrt(sum(v * v)) AS nrm FROM hr{t})")
        ctes.append(
            f"h{t} AS MATERIALIZED (SELECT id, v / nrm AS v FROM hr{t} CROSS JOIN hn{t})"
        )
    return ctes


def _hits_final_select(src_table: str, iters: int) -> str:
    return (
        f"""
        SELECT v.id, floor((coalesce(h.v, 0.0)) * 1e6 + 0.5) / 1e6 AS hub,
               floor((coalesce(a.v, 0.0)) * 1e6 + 0.5) / 1e6 AS auth
        FROM {src_table}_verts v LEFT JOIN h{iters} h ON h.id = v.id
        LEFT JOIN a{iters} a ON a.id = v.id"""
    )


def _hits_sql(iters: int = HITS_ITERS) -> str:
    """DuckDB twin of algorithms.hits.hits: unrolled L2-normalized
    power iterations (hub init 1.0)."""
    ctes = [f"edges AS MATERIALIZED ({EDGES})"]
    ctes += _hits_power_ctes("edges", iters)
    return "WITH " + ",\n".join(ctes) + _hits_final_select("edges", iters)


TOPIC_ROOTS = 5
TOPIC_D = 20


def q_topic_hits(spark, sf):
    """Topic-focused HITS (Kleinberg base-set recipe): top-5 in-degree
    roots, out-neighbors + <=20 capped in-neighbors per root, HITS on
    the induced subgraph."""
    from combblas_spark.algorithms.hits import topic_hits

    out = topic_hits(events_graph(spark, sf), n_roots=TOPIC_ROOTS,
                     d=TOPIC_D, n_iter=HITS_ITERS)
    return out.select(
        "id", _p6("hub").alias("hub"), _p6("auth").alias("auth"))


def _topic_hits_sql(n_roots: int = TOPIC_ROOTS, d: int = TOPIC_D,
                    iters: int = HITS_ITERS) -> str:
    """Twin of q_topic_hits: same root pick (indeg desc, id asc), same
    per-root capped in-neighbor expansion, then the SHARED HITS power
    unroll over the induced subgraph."""
    ctes = [
        f"edges AS MATERIALIZED ({EDGES})",
        "pairs AS (SELECT DISTINCT src, dst FROM edges)",
        "ind AS (SELECT dst AS id, count(*) AS c FROM pairs GROUP BY dst)",
        f"roots AS (SELECT id FROM (SELECT id, row_number() OVER"
        f" (ORDER BY c DESC, id ASC) AS rn FROM ind) WHERE rn <= {n_roots})",
        "outs AS (SELECT DISTINCT p.dst AS id FROM pairs p"
        " JOIN roots r ON r.id = p.src)",
        f"ins AS (SELECT id FROM (SELECT p.dst AS root, p.src AS id,"
        f" row_number() OVER (PARTITION BY p.dst ORDER BY p.src ASC) AS rn"
        f" FROM pairs p JOIN roots r ON r.id = p.dst) WHERE rn <= {d})",
        "base AS (SELECT DISTINCT id FROM (SELECT id FROM roots"
        " UNION ALL SELECT id FROM outs UNION ALL SELECT id FROM ins))",
        "sub AS MATERIALIZED (SELECT e.* FROM edges e"
        " JOIN base a ON a.id = e.src JOIN base b ON b.id = e.dst)",
    ]
    ctes += _hits_power_ctes("sub", iters)
    return "WITH " + ",\n".join(ctes) + _hits_final_select("sub", iters)


def _salsa_power_ctes(src_table: str, iters: int, p: str = "") -> list[str]:
    """The Lempel-Moran SALSA power unroll over ``src_table`` with CTE
    names prefixed by ``p`` — shared by _salsa_sql and _wtf_sql.
    Weights each contribution by the CONTRIBUTOR's degree: a = Wr^T h
    (hub j contributes h(j)/outdeg(j)), h = Wc a (authority i
    contributes a(i)/indeg(i)) — joined exactly like the engine bakes
    them into its cached copies. (Fixed per ADVICE r3: an earlier
    revision unrolled the transpose chain, whose fixed point is
    all-ones.) Final tables: {p}h{iters}, {p}a{iters}, {p}verts."""
    e = src_table
    ctes = [
        f"{p}verts AS MATERIALIZED (SELECT DISTINCT id FROM "
        f"(SELECT src AS id FROM {e} UNION ALL SELECT dst FROM {e}))",
        f"{p}ind AS MATERIALIZED (SELECT dst AS id, 1.0 / count(*) AS wc FROM {e} GROUP BY dst)",
        f"{p}outd AS MATERIALIZED (SELECT src AS id, 1.0 / count(*) AS wr FROM {e} GROUP BY src)",
        f"{p}h0 AS (SELECT id, 1.0 AS v FROM {p}verts)",
    ]
    for t in range(1, iters + 1):
        ctes.append(
            f"{p}a{t} AS MATERIALIZED (SELECT e.dst AS id, sum(o.wr * h.v) AS v "
            f"FROM {e} e JOIN {p}h{t-1} h ON h.id = e.src "
            f"JOIN {p}outd o ON o.id = e.src GROUP BY e.dst)"
        )
        ctes.append(
            f"{p}h{t} AS MATERIALIZED (SELECT e.src AS id, sum(i.wc * a.v) AS v "
            f"FROM {e} e JOIN {p}a{t} a ON a.id = e.dst "
            f"JOIN {p}ind i ON i.id = e.dst GROUP BY e.src)"
        )
    return ctes


def _salsa_sql(iters: int = HITS_ITERS) -> str:
    """DuckDB twin of algorithms.hits.salsa: unrolled stochastic power
    iterations (hub init 1.0, no per-step normalization) — the SHARED
    _salsa_power_ctes unroll over the full events graph."""
    ctes = [f"edges AS MATERIALIZED ({EDGES})"]
    ctes += _salsa_power_ctes("edges", iters)
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
        SELECT v.id, floor((coalesce(h.v, 0.0)) * 1e6 + 0.5) / 1e6 AS hub,
               floor((coalesce(a.v, 0.0)) * 1e6 + 0.5) / 1e6 AS auth
        FROM verts v LEFT JOIN h{iters} h ON h.id = v.id
        LEFT JOIN a{iters} a ON a.id = v.id"""
    )


def _katz_sql(iters: int = HITS_ITERS, alpha: float = KATZ_ALPHA) -> str:
    """DuckDB twin of algorithms.hits.katz: unrolled attenuated power
    iterations x_t = 1 + alpha * A^T x_{t-1} from x_0 = 1."""
    ctes = [
        f"edges AS MATERIALIZED ({EDGES})",
        "verts AS MATERIALIZED (SELECT DISTINCT id FROM "
        "(SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges))",
        # ::DOUBLE everywhere: bare 1.0/0.05 are DECIMAL in DuckDB —
        # exact decimal arithmetic would diverge from the engine's IEEE
        # doubles in the 6th place AND format with trailing zeros.
        "x0 AS (SELECT id, 1.0::DOUBLE AS v FROM verts)",
    ]
    for t in range(1, iters + 1):
        ctes.append(
            f"x{t} AS MATERIALIZED (SELECT v.id, "
            f"1.0::DOUBLE + {alpha!r}::DOUBLE * coalesce(s.v, 0.0::DOUBLE) AS v FROM verts v "
            f"LEFT JOIN (SELECT e.dst AS id, sum(x.v) AS v FROM edges e "
            f"JOIN x{t-1} x ON x.id = e.src GROUP BY e.dst) s ON s.id = v.id)"
        )
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT id, floor((v) * 1e6 + 0.5) / 1e6 AS katz FROM x{iters}")


def _eigencentrality_sql(iters: int = 8) -> str:
    """DuckDB twin of algorithms.hits.eigencentrality: unrolled
    x_t = (A^T x_{t-1}) / 16 from x_0 = 1, normalized to sum 1. The
    per-hop /16 keeps every value an exact dyadic rational (order-free
    sums); only the final division is inexact, mirrored + rounded."""
    ctes = [
        f"edges AS MATERIALIZED ({EDGES})",
        "verts AS MATERIALIZED (SELECT DISTINCT id FROM "
        "(SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges))",
        "x0 AS (SELECT id, 1.0::DOUBLE AS v FROM verts)",
    ]
    for t in range(1, iters + 1):
        ctes.append(
            f"x{t} AS MATERIALIZED (SELECT v.id, "
            f"coalesce(s.v, 0.0::DOUBLE) / 16.0::DOUBLE AS v FROM verts v "
            f"LEFT JOIN (SELECT e.dst AS id, sum(x.v) AS v FROM edges e "
            f"JOIN x{t-1} x ON x.id = e.src GROUP BY e.dst) s ON s.id = v.id)"
        )
    ctes.append(f"tot AS (SELECT sum(v) AS t FROM x{iters})")
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT id, floor((CASE WHEN t > 0 THEN v / t END) * 1e6 + 0.5) / 1e6 AS eigen"
            f"\nFROM x{iters}, tot")


def _two_hop_reach_sql() -> str:
    """Twin of q_two_hop_reach: same undirected dedup, wedge self-join,
    distinct ball union, zero-filled counts."""
    return f"""{_BASE},
und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM edges WHERE src <> dst),
dirs AS (SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
hop2 AS (SELECT x.b AS v, y.b AS u
         FROM dirs x JOIN dirs y ON x.a = y.a AND x.b <> y.b),
ball AS (SELECT a AS v, b AS u FROM dirs UNION SELECT v, u FROM hop2),
deg AS (SELECT a AS id, count(*) AS reach1 FROM dirs GROUP BY a),
r2 AS (SELECT v AS id, count(*) AS reach2 FROM ball GROUP BY v)
SELECT vv.id, coalesce(deg.reach1, 0) AS reach1,
       coalesce(r2.reach2, 0) AS reach2
FROM verts vv LEFT JOIN deg ON deg.id = vv.id
LEFT JOIN r2 ON r2.id = vv.id"""


def _ktips_sql(l: int = 6) -> str:
    """Twin of q_ktips: unrolled walk rounds over the deterministic
    event-id tree (same state machine as algorithms/ktips.py — walk
    head expansion minus per-tip visited, count>=2 reports, count==1
    advances)."""
    ctes = [
        "ids AS (SELECT DISTINCT event_id % 180 AS i FROM events WHERE event_id % 180 > 0)",
        "tre AS (SELECT i AS src, (i*2)//3 AS dst FROM ids)",
        "sym AS MATERIALIZED (SELECT src, dst FROM "
        "(SELECT src, dst FROM tre UNION SELECT dst, src FROM tre) WHERE src <> dst)",
        "deg AS (SELECT src AS id, count(*) AS d FROM sym GROUP BY src)",
        "tips AS MATERIALIZED (SELECT id AS tip FROM deg WHERE d = 1)",
        "w0 AS (SELECT s.src AS tip, s.src AS prev, s.dst AS cur "
        "FROM sym s JOIN tips t ON t.tip = s.src)",
        "v0 AS (SELECT tip, prev AS v FROM w0 UNION SELECT tip, cur FROM w0)",
    ]
    for k in range(1, l + 1):
        ctes.append(
            f"e{k} AS (SELECT w.tip, w.prev, w.cur, s.dst AS nxt "
            f"FROM w{k-1} w JOIN sym s ON s.src = w.cur "
            f"WHERE NOT EXISTS (SELECT 1 FROM v{k-1} x "
            f"WHERE x.tip = w.tip AND x.v = s.dst))")
        ctes.append(
            f"st{k} AS MATERIALIZED (SELECT tip, prev, cur, count(*) AS n, "
            f"min(nxt) AS one_nxt FROM e{k} GROUP BY tip, prev, cur)")
        ctes.append(
            f"r{k} AS (SELECT tip, prev AS cut_src, cur AS cut_dst "
            f"FROM st{k} WHERE n >= 2)")
        ctes.append(
            f"w{k} AS (SELECT tip, cur AS prev, one_nxt AS cur "
            f"FROM st{k} WHERE n = 1)")
        ctes.append(
            f"v{k} AS (SELECT * FROM v{k-1} "
            f"UNION SELECT tip, cur AS v FROM w{k})")
    rep = " UNION ALL ".join(f"SELECT * FROM r{k}" for k in range(1, l + 1))
    ctes.append(f"rep AS ({rep})")
    return (
        "WITH " + ",\n".join(ctes)
        + """
        SELECT t.tip, coalesce(r.cut_src, -1) AS cut_src,
               coalesce(r.cut_dst, -1) AS cut_dst
        FROM tips t LEFT JOIN rep r ON r.tip = t.tip"""
    )


def _kcore_sql(k: int = KCORE_K, rounds: int = KCORE_ROUNDS) -> str:
    """DuckDB twin of algorithms.kcore.k_core on the thinned graph:
    unrolled peel rounds (extra rounds past the fixed point are
    no-ops, so the unroll bound only needs to exceed convergence)."""
    ctes = [
        f"edges AS MATERIALIZED (SELECT * FROM ({EDGES}) WHERE {_THIN_PRED})",
        "sym AS MATERIALIZED (SELECT src, dst FROM "
        "(SELECT src, dst FROM edges UNION SELECT dst, src FROM edges) WHERE src <> dst)",
        "a0 AS (SELECT DISTINCT id FROM "
        "(SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges))",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"""a{r} AS MATERIALIZED (
          SELECT s.dst AS id FROM sym s
          JOIN a{r-1} x ON x.id = s.src
          JOIN a{r-1} y ON y.id = s.dst
          GROUP BY s.dst HAVING count(*) >= {k})"""
        )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT id FROM a{rounds}"


def _corechain_ctes(iters: int) -> list[str]:
    """The h-index-iteration CTE chain c0..c{iters} over a CTE named
    ``sym`` (loop-free symmetric edge list) — shared by _coreness_sql
    and _vertex_features_sql so the unroll rule lives in ONE place."""
    ctes = ["c0 AS (SELECT dst AS id, count(*) AS core FROM sym GROUP BY dst)"]
    for t in range(1, iters + 1):
        ctes.append(
            f"""c{t} AS MATERIALIZED (
          SELECT dst AS id, max(r) AS core FROM (
            SELECT s.dst, c.core AS cc,
                   row_number() OVER (PARTITION BY s.dst ORDER BY c.core DESC) AS r
            FROM sym s JOIN c{t-1} c ON c.id = s.src)
          WHERE cc >= r GROUP BY dst)"""
        )
    return ctes


def _coreness_sql(iters: int = CORENESS_ITERS) -> str:
    """DuckDB twin of algorithms.kcore.core_numbers: h-index iteration
    from the degree vector, unrolled past convergence."""
    ctes = [
        f"edges AS MATERIALIZED (SELECT * FROM ({EDGES}) WHERE {_THIN_PRED})",
        "sym AS MATERIALIZED (SELECT src, dst FROM "
        "(SELECT src, dst FROM edges UNION SELECT dst, src FROM edges) WHERE src <> dst)",
        *_corechain_ctes(iters),
    ]
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT id, CAST(core AS BIGINT) AS core FROM c{iters}"
    )


MIS_ROUNDS = 8  # oracle unroll bound; Luby converges in O(log n) rounds


def q_mis(spark, sf):
    """Luby MIS with md5 round priorities — deterministic and SQL-
    replayable, so the oracle unrolls the rounds exactly (independence
    +maximality additionally property-tested in tests/)."""
    from combblas_spark.algorithms.mis import maximal_independent_set

    g = events_graph(spark, sf)
    return maximal_independent_set(g, seed=42).select("id")


def q_filtered_mis(spark, sf):
    """Semantic-filtered MIS (FilteredMIS.cpp / TwitterEdge.h pattern:
    per-edge predicate evaluated inside the Luby semiring — CombBLAS's
    hard case, Spark's easy case: filter BEFORE the loop, SURVEY §2.6).
    MIS runs on the subgraph whose edges satisfy the predicate; its
    vertex set is the filtered graph's."""
    from combblas_spark.algorithms.mis import maximal_independent_set

    g = events_graph(spark, sf).filter(F.col("val") >= 2.0)
    return maximal_independent_set(g, seed=42).select("id")


MCL_ITERS = 3
MCL_SELECT_K = 20
MCL_THRESHOLD = 1e-4
MCL_RECOVER_NUM = 3
MCL_RECOVER_PCT = 0.9


def q_mcl_clusters(spark, sf):
    """Markov clustering, fixed-iteration mode so the DuckDB oracle can
    unroll the exact expand/inflate/prune-recovery/normalize pipeline
    (chaos_eps=0.0 disables early stop; squaring is exact IEEE)."""
    from combblas_spark.algorithms.mcl import mcl

    g = events_graph(spark, sf)
    return mcl(
        g, inflation=2.0, prune_threshold=MCL_THRESHOLD,
        select_k=MCL_SELECT_K, max_iter=MCL_ITERS, chaos_eps=0.0,
        recover_num=MCL_RECOVER_NUM, recover_pct=MCL_RECOVER_PCT,
    ).select("id", "cluster")


BC_ROOTS = 8
BC_DEPTH = 10  # oracle unroll bound; must exceed the BFS depth at sf<=0.01


def q_betweenness(spark, sf):
    """Batched Brandes BC from 8 sources; the oracle unrolls the
    level-synchronous forward (sigma) and backward (delta) passes."""
    from combblas_spark.algorithms.betweenness import betweenness_centrality

    g = events_graph(spark, sf)
    out = betweenness_centrality(g, roots=list(range(BC_ROOTS)))
    return out.select("id", _p6("bc").alias("bc"))


BPM_ROUNDS = 12  # oracle unroll bound; greedy converges in O(log n) rounds


def q_bipartite_matching(spark, sf):
    """Greedy maximal bipartite matching (min-id proposals/grants —
    deterministic, so the oracle unrolls the rounds exactly)."""
    from combblas_spark.algorithms.matching import bipartite_maximal_matching

    g = events_graph(spark, sf)
    return bipartite_maximal_matching(g).select("src", "dst")


MAXM_PHASES = 2   # oracle unroll bound; phases past convergence are no-ops
MAXM_DEPTH = 7    # alternating-BFS depth bound (4 column levels/phase)


def q_maximum_matching(spark, sf):
    """MAXIMUM-cardinality bipartite matching (BPMaximumMatching.cpp):
    greedy maximal init + deterministic augmenting-path phases — every
    step (BFS forest min-parents, per-tree endpoint choice, walk-back)
    is deterministic, so the oracle unrolls the phases exactly.
    Cardinality additionally pytest-verified against a pure-Python
    Hopcroft-Karp (tests/test_algorithms.py)."""
    from combblas_spark.algorithms.matching import bipartite_maximum_matching

    g = events_graph(spark, sf)
    return bipartite_maximum_matching(
        g, max_phases=MAXM_PHASES, max_depth=MAXM_DEPTH).select("src", "dst")


AWPM_ROUNDS = 4  # fixed round count so the oracle unrolls exactly;
                 # convergence-to-fixpoint is pytest-verified


def q_awpm(spark, sf):
    """Approximate-weight perfect matching (AWPM / TwoThirdApprox,
    ApproxWeightPerfectMatching.h:794): maximum-cardinality init +
    4 locally-dominant weight-augmenting 2-flip rounds, fully
    deterministic; the oracle unrolls the identical rounds. The 2/3
    weight bound vs brute-force optimum is pytest-verified."""
    from combblas_spark.algorithms.matching import approx_weight_perfect_matching

    g = events_graph(spark, sf)
    return approx_weight_perfect_matching(
        g, max_rounds=AWPM_ROUNDS, max_card_phases=MAXM_PHASES,
    ).select("src", "dst")


AUCTION_ROUNDS = 4   # bounded bidding rounds so the oracle unrolls
AUCTION_EPS = 1e-3

IVF_K = 3
IVF_NC = 8        # centroids
IVF_ITERS = 2     # Lloyd iterations (oracle unroll bound)
IVF_NPROBE = 2
IVF_CAP = 128     # per-inverted-list cap (skew guard, oracle-replicated)


def q_ivf_topk(spark, sf):
    """IVF approximate nearest-neighbor top-k: deterministic Lloyd
    k-means coarse quantizer (md5-sampled init, 6dp-rounded updates so
    the oracle replays bit-stably), nprobe nearest inverted lists per
    query, exact cosine within lists, window top-k."""
    from combblas_spark.functions.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    return ivf_topk(emb, k=IVF_K, n_centroids=IVF_NC, iters=IVF_ITERS,
                    nprobe=IVF_NPROBE, per_list_cap=IVF_CAP)


SEMDEDUP_T = 0.2  # synthetic embeddings are near-orthogonal; 0.2 is the
                  # same near-dup bar embedding_neardups uses


def q_semdedup(spark, sf):
    """SemDeDup semantic dedup (Abbas et al. 2023): k-means clusters
    (the ivf_topk quantizer, shared oracle unroll) confine the pairwise
    cosine scan; within a cluster every vector with a smaller-id
    neighbor at cos >= SEMDEDUP_T is dropped (keep-lowest-id). Emits
    (id, cid, kept) for all vectors."""
    from combblas_spark.functions.similarity import semdedup

    return semdedup(_emb(spark, sf), threshold=SEMDEDUP_T,
                    n_centroids=IVF_NC, iters=IVF_ITERS)


def q_auction(spark, sf):
    """Bertsekas auction maximum-weight bipartite matching
    (BipartiteMatchings/auction.cpp completed into the price loop) —
    bounded rounds, deterministic tie-breaks, unrolled oracle."""
    from combblas_spark.algorithms.matching import auction_matching

    g = events_graph(spark, sf)
    return auction_matching(
        g, eps=AUCTION_EPS, max_rounds=AUCTION_ROUNDS).select("src", "dst")


def q_bin_roundtrip(spark, sf):
    """CombBLAS binary-triples interchange (ParallelBinaryWrite
    SpParMat.cpp:620 / binary ReadDistribute SpParMat.cpp:4224):
    write the events graph as .bin, read it back distributed. The
    oracle is the plain edge table — equality proves the round-trip
    is lossless including the 1-based index shift and IEEE doubles."""
    import tempfile

    from combblas_spark.sources.bin import read_bin, write_bin

    g = events_graph(spark, sf)
    tag = sf.rstrip("/").rsplit("/", 1)[-1]
    path = os.path.join(tempfile.gettempdir(), f"combblas_{tag}.bin")
    write_bin(g, path)
    e, _, _ = read_bin(spark, path)
    return e.select("src", "dst", "val")


def q_simhash_neardups(spark, sf):
    return simhash_near_dups(_docs(spark, sf), max_hamming=3)


def q_lsh_topk(spark, sf):
    """Multi-table banded ANN with a binding per-bucket cap (16) — the
    capped membership is md5-ordered so the oracle reproduces it."""
    return lsh_topk(_emb(spark, sf), k=3, n_tables=4, n_planes=6, per_bucket_cap=16)


def q_media_features(spark, sf):
    """Multimodal decode plumbing (mapInPandas over binary payloads).
    The driver row checks the decode METADATA exactly (the stubbed
    decode is a pure function with a SQL twin); the float feature
    vector stays pytest-covered (test_functions plumbing tests).
    decoder is PINNED to "stub": the synthetic payloads are not real
    images and the oracle encodes the stub's hex-keyed dim rule, so
    this row must not flip paths in a Pillow-equipped environment
    (the real-decode path is covered by test_multimodal_pil_path)."""
    media = synthetic_media(spark, n=200)
    return extract_media_features(media, decoder="stub").select(
        "media_id", "kind", "width", "height", "n_frames")


MST_ROUNDS = 5   # oracle unroll bound; engine converges in <= 3 at sf<=0.1
MST_JUMPS = 8    # per-round pointer-jump unroll (resolves depth 2^8)


def q_mst(spark, sf):
    """Minimum spanning forest — Boruvka over the MinPlus semiring
    (the GraphBLAS-family MSF next to FastSV; components.py's hooking +
    pointer-jumping machinery driven by per-component lightest-edge
    picks under the deterministic (w, u, v) total order)."""
    from combblas_spark.algorithms.mst import boruvka_msf

    g = events_graph(spark, sf)
    return boruvka_msf(g, max_rounds=MST_ROUNDS).select("u", "v", "w")


def _mst_sql(rounds: int = MST_ROUNDS, jumps: int = MST_JUMPS) -> str:
    """DuckDB twin of algorithms.mst.boruvka_msf: unrolled Boruvka
    rounds, each = per-component argmin under ORDER BY (w, u, v) +
    2-cycle break toward the smaller id + {jumps} pointer jumps (a
    no-op past the root, so the unroll bounds only need to exceed
    convergence; rounds past the last merge see zero cross edges)."""
    ctes = [
        "cedges AS MATERIALIZED (SELECT least(src, dst) AS u, "
        "greatest(src, dst) AS v, min(val) AS w "
        f"FROM ({EDGES}) WHERE src <> dst GROUP BY 1, 2)",
        "comp0 AS MATERIALIZED (SELECT id, id AS c FROM (SELECT DISTINCT u AS id "
        "FROM (SELECT u FROM cedges UNION ALL SELECT v FROM cedges)))",
    ]
    picks = []
    for r in range(1, rounds + 1):
        ctes.append(f"""ce{r} AS MATERIALIZED (
  SELECT a.c AS cu, b.c AS cv, e.u, e.v, e.w
  FROM cedges e JOIN comp{r-1} a ON a.id = e.u JOIN comp{r-1} b ON b.id = e.v
  WHERE a.c <> b.c)""")
        ctes.append(f"""sel{r} AS MATERIALIZED (
  SELECT c, oc, w, u, v FROM (
    SELECT *, row_number() OVER (PARTITION BY c ORDER BY w, u, v) AS rn
    FROM (SELECT cu AS c, cv AS oc, w, u, v FROM ce{r}
          UNION ALL SELECT cv AS c, cu AS oc, w, u, v FROM ce{r}))
  WHERE rn = 1)""")
        # a.oc always re-appears in sel{r}: it is an endpoint of a cross
        # edge, so it picked one itself — inner join is total
        ctes.append(f"""p{r}_0 AS MATERIALIZED (
  SELECT a.c, CASE WHEN b.oc = a.c AND a.c < a.oc THEN a.c ELSE a.oc END AS p
  FROM sel{r} a JOIN sel{r} b ON b.c = a.oc)""")
        for j in range(1, jumps + 1):
            ctes.append(
                f"p{r}_{j} AS (SELECT a.c, b.p FROM p{r}_{j-1} a "
                f"JOIN p{r}_{j-1} b ON b.c = a.p)")
        ctes.append(f"""comp{r} AS MATERIALIZED (
  SELECT m.id, coalesce(p.p, m.c) AS c
  FROM comp{r-1} m LEFT JOIN p{r}_{jumps} p ON p.c = m.c)""")
        picks.append(f"SELECT u, v, w FROM sel{r}")
    union = " UNION ".join(picks)
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT u, v, CAST(w AS DOUBLE) AS w FROM ({union})")


AA_MIN_COMMON = 2
AA_DEGREE_CAP = 64


def q_adamic_adar(spark, sf):
    """Adamic-Adar link prediction over the thinned graph: wedge join
    with the closing-edge check negated (triangles.py's shape), hub
    centers excluded by the documented degree cap."""
    from combblas_spark.algorithms.linkpred import adamic_adar

    g = _thin_edges(events_graph(spark, sf))
    return adamic_adar(
        g, min_common=AA_MIN_COMMON, max_center_degree=AA_DEGREE_CAP)


def _adamic_adar_sql(min_common: int = AA_MIN_COMMON,
                     cap: int = AA_DEGREE_CAP) -> str:
    return f"""WITH edges AS MATERIALIZED (SELECT * FROM ({EDGES}) WHERE {_THIN_PRED}),
sym AS MATERIALIZED (SELECT DISTINCT src, dst FROM
  (SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges) WHERE src <> dst),
deg AS (SELECT src AS id, count(*) AS deg FROM sym GROUP BY src),
nbrs AS (SELECT s.src AS z, s.dst AS n, d.deg FROM sym s JOIN deg d ON d.id = s.src
         WHERE d.deg <= {cap}),
scored AS (
  SELECT x.n AS a, y.n AS b, count(*) AS cn,
         floor((sum(1.0 / ln(x.deg))) * 1e6 + 0.5) / 1e6 AS aa
  FROM nbrs x JOIN nbrs y ON y.z = x.z AND x.n < y.n
  GROUP BY x.n, y.n HAVING count(*) >= {min_common}),
existing AS (SELECT src AS a, dst AS b FROM sym WHERE src < dst)
SELECT s.a, s.b, s.cn, s.aa
FROM scored s LEFT JOIN existing e ON e.a = s.a AND e.b = s.b
WHERE e.a IS NULL"""


COLOR_ROUNDS = 60  # oracle unroll bound; measured waves: 32 at sf0.01,
                   # 50 at sf0.1 (unrolled past sf0.1 like coreness)


def q_coloring(spark, sf):
    """Jones-Plassmann greedy coloring (wave-indexed) on the thinned
    graph — fixed seeded-md5 priorities, each wave = mis.py's plan with
    max in place of min; waves past convergence are empty no-ops."""
    from combblas_spark.algorithms.coloring import jp_coloring

    g = _thin_edges(events_graph(spark, sf))
    return jp_coloring(g, seed=42, max_rounds=COLOR_ROUNDS)


def _coloring_sql(rounds: int = COLOR_ROUNDS, seed: int = 42) -> str:
    """Twin of algorithms.coloring.jp_coloring: ONE fixed md5 priority
    per vertex, unrolled waves of uncolored local maxima."""
    ctes = [
        f"edges AS MATERIALIZED (SELECT * FROM ({EDGES}) WHERE {_THIN_PRED})",
        # loop-free neighbor view (self-loops are ignored — a vertex is
        # not its own neighbor); u0 keeps loop-only vertices so they
        # still receive a color, mirroring jp_coloring
        "sym AS MATERIALIZED (SELECT src, dst FROM "
        "(SELECT src, dst FROM edges UNION SELECT dst, src FROM edges) WHERE src <> dst)",
        f"u0 AS (SELECT DISTINCT id, md5('{seed}:' || CAST(id AS VARCHAR)) AS p "
        "FROM (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges))",
    ]
    wins = []
    for k in range(rounds):
        ctes.append(f"""nm{k} AS (
  SELECT e.dst AS id, max(ps.p) AS np
  FROM sym e
  JOIN u{k} ps ON ps.id = e.src
  JOIN u{k} pd ON pd.id = e.dst
  GROUP BY e.dst)""")
        ctes.append(f"""win{k} AS MATERIALIZED (
  SELECT u.id, {k} AS color FROM u{k} u LEFT JOIN nm{k} n ON n.id = u.id
  WHERE n.np IS NULL OR u.p > n.np)""")
        ctes.append(f"""u{k+1} AS MATERIALIZED (
  SELECT u.id, u.p FROM u{k} u LEFT JOIN win{k} w ON w.id = u.id
  WHERE w.id IS NULL)""")
        wins.append(f"SELECT id, color FROM win{k}")
    return ("WITH " + ",\n".join(ctes)
            + "\nSELECT id, CAST(color AS INT) AS color FROM ("
            + " UNION ALL ".join(wins) + ")")


def q_sssp_delta(spark, sf):
    """Delta-stepping SSSP (Meyer & Sanders 2003) — bucketed MinPlus
    relaxation, light edges iterated per bucket, heavy once. Shares the
    Bellman-Ford oracle: both reach the identical shortest-path
    fixpoint (the algorithms differ only in superstep schedule)."""
    from combblas_spark.algorithms.sssp import delta_stepping_sssp

    g = events_graph(spark, sf)
    d = delta_stepping_sssp(g, root=0, delta=2.0, directed=True)
    return d.select("id", _p6("dist").alias("dist"))


DSIR_BUCKETS = 256


def q_dsir(spark, sf):
    """DSIR-style importance weights (Xie et al. 2023): hashed-unigram
    log-likelihood ratio of the English slice vs the whole corpus —
    the data-selection score that decides what a 100-TB crawl keeps."""
    from combblas_spark.functions.sampling import dsir_weights

    return dsir_weights(
        _docs(spark, sf), is_target=F.col("lang") == "en",
        buckets=DSIR_BUCKETS)


def _dsir_sql(buckets: int = DSIR_BUCKETS) -> str:
    return f"""WITH tb AS MATERIALIZED (
  SELECT doc_id AS id, lang = 'en' AS t,
         ('0x' || substr(md5('dsir:' || tok), 1, 8))::BIGINT % {buckets} AS b
  FROM (SELECT doc_id, lang,
               unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                      t -> t <> '')) AS tok
        FROM documents)),
stats AS (SELECT b, count(*) AS cr, sum(CASE WHEN t THEN 1 ELSE 0 END) AS ct
          FROM tb GROUP BY b),
tot AS (SELECT sum(cr) AS nr, sum(ct) AS nt FROM stats),
lm AS (SELECT b, ln(((ct + 1.0) / (nt + {buckets}.0))
                  / ((cr + 1.0) / (nr + {buckets}.0))) AS lr
       FROM stats, tot),
sc AS (SELECT id, count(*) AS n_tokens, floor((avg(lr)) * 1e6 + 0.5) / 1e6 AS logratio
       FROM tb JOIN lm USING (b) GROUP BY id)
SELECT d.doc_id AS id, coalesce(n_tokens, 0) AS n_tokens,
       coalesce(logratio, 0.0) AS logratio
FROM documents d LEFT JOIN sc ON sc.id = d.doc_id"""


def q_tfidf(spark, sf):
    """Per-doc top-3 TF-IDF terms (keyword extraction) — unlogged idf
    for bit-portable cross-engine ranking (doc_rarity's rule)."""
    from combblas_spark.functions.text import tfidf_top_terms

    return tfidf_top_terms(_docs(spark, sf), k=3)


def _tfidf_sql(k: int = 3) -> str:
    return f"""WITH occ AS MATERIALIZED (
  SELECT doc_id AS id,
         unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                t -> t <> '')) AS term
  FROM documents),
tf AS (SELECT id, term, count(*) AS tf FROM occ GROUP BY id, term),
dl AS (SELECT id, sum(tf) AS dl FROM tf GROUP BY id),
dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
sc AS (SELECT id, term, (tf * 1.0 / dl) * (n * 1.0 / df) AS s
       FROM tf JOIN dl USING (id) JOIN dft USING (term), n)
SELECT id, term, pos, floor((s) * 1e6 + 0.5) / 1e6 AS score FROM (
  SELECT id, term, s,
         row_number() OVER (PARTITION BY id ORDER BY s DESC, term) AS pos
  FROM sc) WHERE pos <= {k}"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry ORDER is part of the evidence contract: the driver's
    correctness gate checks the FIRST 50 entries only. Round-5 policy
    (VERDICT r4 #1/#2/#7), in order:

      1. the two r4 reds (dup_spans, tf_cosine) — hash-only driver
         mismatches from engine-specific round() tie behavior, now
         emitted via the bit-portable floor(x*1e6+0.5)/1e6 form on BOTH
         sides (combblas_spark.portable; the whole registry was swept),
      2. tf_cosine_capped — NEW: the df hub-cap branch of the TF-cosine
         join (the 100-TB path) with the cap baked into the SQL twin,
      3. the never-driver-verified block (52 rows as of r4, all locally
         oracle-green at sf0.001 AND sf0.01 — VERDICT r4 #2), in
         registry order: the 3rd/4th/5th/6th-session algorithm block
         (avg_neighbor_degree .. redirects), then the 7th-session ops
         (langid .. weighted_triangles). Five thin projection-style
         rows did not fit the 50-row window and queue at 51+:
         readability, quantize, mix_budget, path_rollup, mirror_hosts
         (each pytest-covered and locally oracled at both scales —
         re-runnable via scripts/check_oracle.py),
      4. tail: every row driver-green in r1-r4, all pytest-covered.
    """
    return {
        # --- 1+2. r4 reds (portable-rounding fix) + new capped row ---
        "dup_spans": q_dup_spans,
        "tf_cosine": q_tf_cosine,
        "tf_cosine_capped": q_tf_cosine_capped,
        # --- 3. never driver-verified block ---------------------------
        "avg_neighbor_degree": q_avg_neighbor_degree,
        "ppmi": q_ppmi,
        "butterflies": q_butterflies,
        "bigram_fluency": q_bigram_fluency,
        "vocab_hll": q_vocab_hll,
        "kcenter": q_kcenter,
        "greedy_modularity": q_greedy_modularity,
        "hyperball": q_hyperball,
        "pack_sequences": q_pack_sequences,
        "textrank": q_textrank,
        "densest": q_densest,
        "cms_counts": q_cms_counts,
        "community_graph": q_community_graph,
        "four_cliques": q_four_cliques,
        "eigencentrality": q_eigencentrality,
        "two_hop_reach": q_two_hop_reach,
        "trussness": q_trussness,
        "node2vec_walks": q_node2vec_walks,
        "simrank": q_simrank,
        "winnow_fp": q_winnow_fp,
        "winnow_pairs": q_winnow_pairs,
        "pic": q_pic,
        "s_core": q_s_core,
        "mnn_pairs": q_mnn_pairs,
        "diameter_lb": q_diameter_lb,
        "neighbor_jaccard": q_neighbor_jaccard,
        "weighted_walks": q_weighted_walks,
        "sweep_cut": q_sweep_cut,
        "local_cluster": q_local_cluster,
        "redirects": q_redirects,
        "langid": q_langid,
        "fastrp": q_fastrp,
        "louvain": q_louvain,
        "inverted_index": q_inverted_index,
        "phrase_search": q_phrase_search,
        "cdc_chunks": q_cdc_chunks,
        "robustness": q_robustness,
        "topic_hits": q_topic_hits,
        "chunk_dedup": q_chunk_dedup,
        "louvain_weighted": q_louvain_weighted,
        "rank_delta": q_rank_delta,
        "landmarks": q_landmarks,
        "landmark_est": q_landmark_est,
        "quality_keep": q_quality_keep,
        "bloom_decon": q_bloom_decon,
        "wtf": q_wtf,
        "weighted_triangles": q_weighted_triangles,
        # --- 51+: thin never-verified rows (locally green), then tail --
        "readability": q_readability,
        "quantize": q_quantize,
        "mix_budget": q_mix_budget,
        "path_rollup": q_path_rollup,
        "mirror_hosts": q_mirror_hosts,
        "eff_diameter": q_eff_diameter,
        "assortativity": q_assortativity,
        "transitivity": q_transitivity,
        "reciprocity": q_reciprocity,
        "anchor_terms": q_anchor_terms,
        "spam_mass": q_spam_mass,
        "local_clustering": q_local_clustering,
        "degree_hist": q_degree_hist,
        "containment": q_containment,
        "pages_pipeline": q_pages_pipeline,
        "salsa": q_salsa,
        "bfs_random_parent": q_bfs_random_parent,
        "single_child": q_single_child,
        "split_merge": q_split_merge,
        "blocked_spgemm": q_blocked_spgemm,
        "ktips": q_ktips,
        "selective_prune": q_selective_prune,
        "incremental_sidecar": q_incremental_sidecar,
        "prefix_jaccard_hash64": q_prefix_jaccard_hash64,
        "dup_span_removal": q_dup_span_removal,
        "katz": q_katz,
        "cocitation": q_cocitation,
        "bib_coupling": q_bib_coupling,
        "decontaminate": q_decontaminate,
        "modularity": q_modularity,
        "pii_scrub": q_pii_scrub,
        "url_canonical": q_url_canonical,
        "scc_dag": q_scc_dag,
        "weighted_sample": q_weighted_sample,
        "host_cap": q_host_cap,
        "boilerplate": q_boilerplate,
        "edge_embeddedness": q_edge_embeddedness,
        "rich_club": q_rich_club,
        "sessionize": q_sessionize,
        "vertex_features": q_vertex_features,
        "component_sizes": q_component_sizes,
        "paragraph_dedup": q_paragraph_dedup,
        "degree_delta": q_degree_delta,
        "pagerank_incremental": q_pagerank_incremental,
        "cc_incremental": q_cc_incremental,
        "mst": q_mst,
        "adamic_adar": q_adamic_adar,
        "coloring": q_coloring,
        "dsir": q_dsir,
        "sssp_delta": q_sssp_delta,
        "tfidf": q_tfidf,
        "ppr_batch": q_ppr_batch,
        "semdedup": q_semdedup,
        "pagerank_personalized": q_pagerank_personalized,
        "trustrank": q_trustrank,
        "scc": q_scc,
        "pagerank": q_pagerank,
        "connected_components": q_connected_components,
        "connected_components_as": q_connected_components_as,
        "bfs_levels": q_bfs_levels,
        "bfs_parents": q_bfs_parents,
        "filtered_bfs": q_filtered_bfs,
        "sssp": q_sssp,
        "labelprop": q_labelprop,
        "triangle_count": q_triangle_count,
        "triangles_per_vertex": q_triangles_per_vertex,
        "rcm": q_rcm,
        "rand_perm": q_rand_perm,
        "sort_perm": q_sort_perm,
        "mm_read": q_mm_read,
        "spgemm_aa": q_spgemm_aa,
        "spgemm_phased": q_spgemm_phased,
        "spgemm_minplus": q_spgemm_minplus,
        "galerkin": q_galerkin,
        "prune_recovery": q_prune_recovery,
        "masked_spgemm": q_masked_spgemm,
        "spmv_plus_times": q_spmv_plus_times,
        "spmv_select2nd_min": q_spmv_select2nd_min,
        "salted_spmv": q_salted_spmv,
        "out_degrees": q_out_degrees,
        "total_degree_ewise": q_total_degree_ewise,
        "transpose_rowsums": q_transpose_rowsums,
        "pointer_jump": q_pointer_jump,
        "kselect_top2": q_kselect_top2,
        "kth_value": q_kth_value,
        "vector_assign": q_vector_assign,
        "bowtie": q_bowtie,
        "random_walks": q_random_walks,
        "skipgram_pairs": q_skipgram_pairs,
        "k_truss": q_k_truss,
        "closeness": q_closeness,
        "labelprop_seeded": q_labelprop_seeded,
        "prefix_jaccard": q_prefix_jaccard,
        "neardup_clusters": q_neardup_clusters,
        "gopher_filter": q_gopher_filter,
        "repetition_filter": q_repetition_filter,
        "doc_word_tokens": q_doc_word_tokens,
        "doc_sample": q_doc_sample,
        "corpus_clean": q_corpus_clean,
        "incremental_neardups": q_incremental_neardups,
        "vocab_topk": q_vocab_topk,
        "doc_rarity": q_doc_rarity,
        "anf": q_anf,
        "hits": q_hits,
        "k_core": q_k_core,
        "coreness": q_coreness,
        "host_graph": q_host_graph,
        "pagerank_bucketed": q_pagerank_bucketed,
        "filtered_mis": q_filtered_mis,
        "mcl_clusters": q_mcl_clusters,
        "betweenness": q_betweenness,
        "mis": q_mis,
        "bipartite_matching": q_bipartite_matching,
        "maximum_matching": q_maximum_matching,
        "awpm": q_awpm,
        "lsh_topk": q_lsh_topk,
        "simhash_neardups": q_simhash_neardups,
        "events_daily": q_events_daily,
        "events_windowed": q_events_windowed,
        "embedding_neardups_exact": q_embedding_neardups_exact,
        "media_features": q_media_features,
        "bin_roundtrip": q_bin_roundtrip,
        "min_degree": q_min_degree,
        "auction": q_auction,
        "ivf_topk": q_ivf_topk,
        "dedup_exact": q_dedup_exact,
        "minhash": q_minhash,
        "ngram_jaccard": q_ngram_jaccard,
        "embedding_topk": q_embedding_topk,
        "embedding_neardups": q_embedding_neardups,
        "embedding_centroids": q_embedding_centroids,
        "doc_quality": q_doc_quality,
        "subsref": q_subsref,
        "prune": q_prune,
        "ewise_mult_mutual": q_ewise_mult_mutual,
        "set_difference": q_set_difference,
        "dim_apply_colstochastic": q_dim_apply_colstochastic,
        "spasgn": q_spasgn,
        "prune_rows_cols": q_prune_rows_cols,
        "prune_column": q_prune_column,
        "masked_reduce": q_masked_reduce,
        "add_loops": q_add_loops,
        "apply_scale": q_apply_scale,
        "invert_vec": q_invert_vec,
        "graph_stats": q_graph_stats,
        "induced_subgraphs": q_induced_subgraphs,
        "concat_vectors": q_concat_vectors,
        "setminus_vec": q_setminus_vec,
        "uniq_vec": q_uniq_vec,
        "doc_tokens": q_doc_tokens,
        "graph_edges": q_graph_edges,
    }


# ---------------------------------------------------------------- oracle SQL

EDGES = events_graph_sql()

_BASE = f"""WITH edges AS ({EDGES}),
verts AS (SELECT DISTINCT id FROM (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges))"""

_SYM = """sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges)"""

_STOPW = "('the','a','of','and','to','in','is','on','for','with')"
_STOPW_DE = "('der','die','das','und','ist','ein','mit','von','zu','den')"

_SHINGLES = """words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (
  SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
  FROM words, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS t(i)
  WHERE len(w) >= 3
)"""


def _pr_chain_ctes(iters: int, alpha: float, edges_sql: str,
                   prefix: str = "", warm_from: str | None = None) -> list[str]:
    """Namespaced PageRank unroll over an arbitrary edge rule: the CTE
    chain {p}edges/{p}verts/.../{p}r{iters}. ``warm_from`` names a prior
    chain's rank CTE (id, pr) used as the warm start (coalesce missing
    vertices to uniform, renormalize to sum 1 — the exact twin of
    pagerank(initial_ranks=)); intermediate ranks stay FULL doubles,
    rounding happens only in the caller's final SELECT.

    AS MATERIALIZED: each iteration references edges/outdeg/srcs again;
    without it DuckDB re-inlines the parquet scan per reference and can
    exhaust file handles at 10 iterations."""
    p = prefix
    ctes = [
        f"{p}edges AS MATERIALIZED ({edges_sql})",
        f"{p}verts AS MATERIALIZED (SELECT DISTINCT id FROM (SELECT src AS id FROM {p}edges UNION ALL SELECT dst FROM {p}edges))",
        f"{p}nn AS MATERIALIZED (SELECT count(*) AS n FROM {p}verts)",
        f"{p}outdeg AS MATERIALIZED (SELECT src AS id, count(*) AS deg FROM {p}edges GROUP BY src)",
        f"{p}srcs AS MATERIALIZED (SELECT DISTINCT src FROM {p}edges)",
    ]
    if warm_from is None:
        ctes.append(
            f"{p}r0 AS MATERIALIZED (SELECT v.id, 1.0 / {p}nn.n AS pr FROM {p}verts v CROSS JOIN {p}nn)")
    else:
        ctes += [
            f"""{p}w AS (SELECT v.id, coalesce(o.pr, 1.0 / {p}nn.n) AS pr
  FROM {p}verts v CROSS JOIN {p}nn LEFT JOIN {warm_from} o ON o.id = v.id)""",
            f"{p}wt AS (SELECT sum(pr) AS t FROM {p}w)",
            f"{p}r0 AS MATERIALIZED (SELECT w.id, w.pr / {p}wt.t AS pr FROM {p}w w CROSS JOIN {p}wt)",
        ]
    # rank CTEs MATERIALIZED: each r{k} is referenced twice by r{k+1}
    # (dangling sum + inflow join); inlined, DuckDB re-expands the whole
    # chain per reference — exponential replay (measured 15 s/oracle at
    # sf0.01, 0.2 s materialized; found via the ppr_batch 4-chain case
    # at 217 s). Placement-only directive: values are unchanged.
    for k in range(1, iters + 1):
        prev = f"{p}r{k-1}"
        ctes.append(
            f"{p}d{k} AS MATERIALIZED (SELECT coalesce(sum(pr), 0.0) AS dm FROM {prev} "
            f"WHERE id NOT IN (SELECT src FROM {p}srcs))"
        )
        ctes.append(
            f"""{p}r{k} AS MATERIALIZED (
  SELECT v.id,
         (1.0 - {alpha}) / {p}nn.n + {alpha} * (coalesce(inf.s, 0.0) + {p}d{k}.dm / {p}nn.n) AS pr
  FROM {p}verts v CROSS JOIN {p}nn CROSS JOIN {p}d{k}
  LEFT JOIN (
    SELECT e.dst AS id, sum((1.0 / o.deg) * r.pr) AS s
    FROM {p}edges e JOIN {prev} r ON e.src = r.id JOIN {p}outdeg o ON o.id = e.src
    GROUP BY e.dst
  ) inf ON inf.id = v.id
)"""
        )
    return ctes


def _pagerank_sql(iters: int = PR_ITERS, alpha: float = ALPHA) -> str:
    ctes = _pr_chain_ctes(iters, alpha, EDGES)
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT id, floor((pr) * 1e6 + 0.5) / 1e6 AS \"rank\" FROM r{iters}"
    )


def q_labelprop_seeded(spark, sf):
    """Semi-supervised label propagation (webspam/topic classification
    pattern): seeds = vertices with id%11==0 labeled id%3, clamped;
    everyone else starts unlabeled and adopts the majority labeled
    neighbor label."""
    from combblas_spark.algorithms.labelprop import label_propagation

    g = events_graph(spark, sf)
    verts = (
        g.select(F.col("src").alias("id"))
        .unionByName(g.select(F.col("dst").alias("id")))
        .distinct()
    )
    seeds = verts.where(F.col("id") % 11 == 0).select(
        "id", (F.col("id") % 3).alias("label"))
    return label_propagation(g, n_rounds=LP_ROUNDS, seeds=seeds)


def _labelprop_seeded_sql(rounds: int = LP_ROUNDS) -> str:
    """Unrolled twin of q_labelprop_seeded: null-labeled vertices don't
    vote, seeds clamp every round."""
    seed = "CASE WHEN v.id % 11 = 0 THEN v.id % 3 END"
    ctes = [
        f"edges AS ({EDGES})",
        "verts AS (SELECT DISTINCT id FROM (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges))",
        _SYM,
        f"l0 AS (SELECT v.id, {seed} AS label FROM verts v)",
    ]
    for r in range(1, rounds + 1):
        p = f"l{r-1}"
        ctes.append(
            f"""b{r} AS (
  SELECT s.dst AS id, l.label
  FROM sym s JOIN {p} l ON l.id = s.src AND l.label IS NOT NULL
  GROUP BY s.dst, l.label
  QUALIFY row_number() OVER (PARTITION BY s.dst ORDER BY count(*) DESC, l.label ASC) = 1
)"""
        )
        ctes.append(
            f"l{r} AS (SELECT v.id, coalesce({seed}, b.label, p.label) AS label "
            f"FROM verts v JOIN {p} p ON p.id = v.id LEFT JOIN b{r} b ON b.id = v.id)"
        )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT id, label FROM l{rounds}"


_PREFIX_BASE = """words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
shd AS (
  SELECT DISTINCT doc_id AS id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
  FROM words, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS t(i)
  WHERE len(w) >= 3
),
sz AS (SELECT id, count(*) AS sz FROM shd GROUP BY id),
freq AS (SELECT sh, count(*) AS df FROM shd GROUP BY sh),
ranked AS (
  SELECT s.id, s.sh, z.sz,
         row_number() OVER (PARTITION BY s.id ORDER BY f.df, s.sh) AS pos
  FROM shd s JOIN freq f USING (sh) JOIN sz z USING (id)
),
pre AS (SELECT id, sh, sz FROM ranked WHERE pos <= sz - floor(0.8 * sz) + 1)"""

_PREFIX_VERIFY = """ov AS (
  SELECT c.id_a, c.id_b, count(*) AS n_inter
  FROM cand c JOIN shd x ON x.id = c.id_a
              JOIN shd y ON y.id = c.id_b AND y.sh = x.sh
  GROUP BY c.id_a, c.id_b
),
pairs AS (
  SELECT id_a, id_b,
         floor((n_inter * 1.0 / (x.sz + y.sz - n_inter)) * 1e6 + 0.5) / 1e6 AS jaccard
  FROM ov JOIN sz x ON x.id = ov.id_a JOIN sz y ON y.id = ov.id_b
  WHERE n_inter * 1.0 / (x.sz + y.sz - n_inter) >= 0.8
)"""

_PREFIX_JACCARD = f"""{_PREFIX_BASE},
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM pre a JOIN pre b ON a.sh = b.sh AND a.id < b.id
  WHERE b.sz >= 0.8 * a.sz AND a.sz >= 0.8 * b.sz
),
{_PREFIX_VERIFY}"""


def _gopher_filter_sql() -> str:
    """Twin of q_gopher_filter: same rule expressions over the same
    single-space tokenization (string_split keeps empties, matching
    F.split)."""
    sw = "['the','a','of','and','to','in','is','on','for','with']"
    return f"""WITH f AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_words,
         (length(text) - (len(string_split(text, ' ')) - 1)) * 1.0
           / len(string_split(text, ' ')) AS mean_len,
         (length(regexp_replace(text, '[^#]', '', 'g'))
           + (length(text) - length(replace(text, '...', ''))) / 3) * 1.0
           / len(string_split(text, ' ')) AS sym_ratio,
         len(list_intersect(list_distinct(string_split(lower(text), ' ')), {sw})) AS n_stop,
         len(list_filter(string_split(text, ' '),
                         w -> regexp_matches(w, '[A-Za-z]'))) * 1.0
           / len(string_split(text, ' ')) AS alpha_frac
  FROM documents)
SELECT doc_id, n_words,
       n_words >= 25 AND n_words <= 90 AS ok_word_count,
       mean_len >= 3.0 AND mean_len <= 5.0 AS ok_mean_word_len,
       sym_ratio <= 0.1 AS ok_symbol_ratio,
       n_stop >= 2 AS ok_stopwords,
       alpha_frac >= 0.8 AS ok_alpha_words,
       (n_words >= 25 AND n_words <= 90) AND (mean_len >= 3.0 AND mean_len <= 5.0)
         AND sym_ratio <= 0.1 AND n_stop >= 2 AND alpha_frac >= 0.8 AS keep
FROM f"""


def _repetition_filter_sql() -> str:
    """Twin of q_repetition_filter: same gram construction as
    _SHINGLES/_PREFIX_JACCARD, keep compares the ROUNDED fractions
    (matching the Spark column order of operations)."""
    return """WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
g2 AS (
  SELECT doc_id, w[i] || ' ' || w[i+1] AS g
  FROM words, unnest(generate_series(1, greatest(len(w) - 1, 0))) AS t(i)
  WHERE len(w) >= 2
),
c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY doc_id, g),
s2 AS (SELECT doc_id, floor((max(c) * 1.0 / sum(c)) * 1e6 + 0.5) / 1e6 AS f2 FROM c2 GROUP BY doc_id),
g3 AS (
  SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
  FROM words, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS t(i)
  WHERE len(w) >= 3
),
c3 AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY doc_id, g),
s3 AS (SELECT doc_id, floor((sum(CASE WHEN c > 1 THEN c ELSE 0 END) * 1.0 / sum(c)) * 1e6 + 0.5) / 1e6 AS f3
       FROM c3 GROUP BY doc_id),
f AS (
  SELECT d.doc_id AS id, coalesce(f2, 0.0) AS top_2gram_frac,
         coalesce(f3, 0.0) AS dup_3gram_frac
  FROM documents d LEFT JOIN s2 ON s2.doc_id = d.doc_id
                   LEFT JOIN s3 ON s3.doc_id = d.doc_id
)
SELECT id, top_2gram_frac, dup_3gram_frac,
       top_2gram_frac <= 0.04 AND dup_3gram_frac <= 0.2 AS keep
FROM f"""


_VOCAB = """toks AS (
  SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                    t -> t <> '')) AS token
  FROM documents
),
v AS (SELECT token, count(*) AS c FROM toks GROUP BY token),
r AS (SELECT token, c, row_number() OVER (ORDER BY c DESC, token) AS rank FROM v)"""


def _vocab_topk_sql() -> str:
    return f"WITH {_VOCAB}\nSELECT token, c, rank FROM r WHERE rank <= 10"


def _doc_rarity_sql() -> str:
    return f"""WITH {_VOCAB},
s AS (
  SELECT t.doc_id AS id, floor((avg(rank)) * 1e6 + 0.5) / 1e6 AS mean_rank,
         floor((avg(CASE WHEN rank > 20 THEN 1.0 ELSE 0.0 END)) * 1e6 + 0.5) / 1e6 AS oov_ratio
  FROM toks t JOIN r USING (token) GROUP BY t.doc_id
)
SELECT d.doc_id AS id, coalesce(mean_rank, 0.0) AS mean_rank,
       coalesce(oov_ratio, 0.0) AS oov_ratio
FROM documents d LEFT JOIN s ON s.id = d.doc_id"""


def _incremental_neardups_sql() -> str:
    """Twin of q_incremental_neardups: same base CTEs (df over the full
    table = both sides' union), candidate join constrained to
    batch(odd) x corpus(even)."""
    return f"""WITH {_PREFIX_BASE},
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM pre a JOIN pre b ON a.sh = b.sh AND a.id % 2 = 1 AND b.id % 2 = 0
  WHERE b.sz >= 0.8 * a.sz AND a.sz >= 0.8 * b.sz
),
{_PREFIX_VERIFY}
SELECT id_a, id_b, jaccard FROM pairs"""


def _corpus_clean_sql() -> str:
    """Twin of q_corpus_clean: stage fragments nested as CTE subqueries
    (DuckDB scopes nested WITHs), near-dup closure shared with
    _neardup_clusters_sql."""
    return f"""WITH RECURSIVE
g AS ({_gopher_filter_sql()}),
rp AS ({_repetition_filter_sql()}),
fp AS (SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS f
       FROM documents),
ke AS (SELECT f, min(doc_id) AS keep_id FROM fp GROUP BY f),
{_PREFIX_JACCARD},
e AS (SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs),
reach(a, b) AS (
  SELECT src AS a, dst AS b FROM e
  UNION
  SELECT r2.a, e.dst AS b FROM reach r2 JOIN e ON e.src = r2.b
),
cl AS (SELECT d.doc_id AS id, least(d.doc_id, coalesce(min(rc.b), d.doc_id)) AS cluster
       FROM documents d LEFT JOIN reach rc ON rc.a = d.doc_id GROUP BY d.doc_id)
SELECT d.doc_id,
       CASE WHEN NOT g.keep THEN 'quality'
            WHEN NOT rp.keep THEN 'repetition'
            WHEN d.doc_id <> ke.keep_id THEN 'exact_dup'
            WHEN d.doc_id <> cl.cluster THEN 'near_dup'
            ELSE 'kept' END AS status
FROM documents d
JOIN g ON g.doc_id = d.doc_id
JOIN rp ON rp.id = d.doc_id
JOIN fp ON fp.doc_id = d.doc_id JOIN ke ON ke.f = fp.f
JOIN cl ON cl.id = d.doc_id"""


def _prefix_jaccard_sql() -> str:
    """Twin of q_prefix_jaccard: identical prefix-filter construction
    (df-asc/sh-asc rarity order, floor-based prefix length, symmetric
    size filter) so candidate sets — not just survivors — coincide."""
    return f"WITH {_PREFIX_JACCARD}\nSELECT id_a, id_b, jaccard FROM pairs"


def _neardup_clusters_sql() -> str:
    """Twin of q_neardup_clusters: recursive-CTE transitive closure over
    the verified pair graph (exact at gate scale), cluster = min
    reachable id, singletons = own id."""
    return f"""WITH RECURSIVE {_PREFIX_JACCARD},
e AS (SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs),
reach(a, b) AS (
  SELECT src AS a, dst AS b FROM e
  UNION
  SELECT r.a, e.dst AS b FROM reach r JOIN e ON e.src = r.b
),
lab AS (
  SELECT d.doc_id AS id,
         least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS cluster
  FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
  GROUP BY d.doc_id
)
SELECT id, cluster, id = cluster AS is_canonical FROM lab"""


def _ppr_ctes(iters: int = PR_ITERS, alpha: float = ALPHA,
              edges_sql: str | None = None,
              tele_case: str | None = None) -> list[str]:
    """CTE list for the unrolled personalized-PageRank chain (final
    rank CTE is r{iters}) — structural composition for _wtf_sql /
    _local_cluster_sql instead of slicing the assembled string
    (ADVICE r4: the rindex anchor broke whenever the final SELECT was
    reworded). ``edges_sql``/``tele_case`` parametrize the edge rule
    and the per-vertex teleport weight CASE (defaults = the registry
    query)."""
    if tele_case is None:
        tele_case = ("CASE WHEN v.id % 7 = 0 "
                     "THEN 1.0 + CAST(v.id % 3 AS DOUBLE) "
                     "ELSE CAST(0.0 AS DOUBLE) END")
    ctes = [
        f"edges AS MATERIALIZED ({edges_sql if edges_sql is not None else EDGES})",
        "verts AS MATERIALIZED (SELECT DISTINCT id FROM (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges))",
        "outdeg AS MATERIALIZED (SELECT src AS id, count(*) AS deg FROM edges GROUP BY src)",
        "srcs AS MATERIALIZED (SELECT DISTINCT src FROM edges)",
        f"tw AS (SELECT v.id, {tele_case} AS w FROM verts v)",
        "tt AS (SELECT sum(w) AS s FROM tw)",
        "tpv AS MATERIALIZED (SELECT tw.id, tw.w / tt.s AS tp FROM tw CROSS JOIN tt)",
        "r0 AS MATERIALIZED (SELECT id, tp AS pr FROM tpv)",
    ]
    # MATERIALIZED rank chain — same exponential-replay fix as
    # _pr_chain_ctes (r{k} is referenced twice by r{k+1})
    for k in range(1, iters + 1):
        p = f"r{k-1}"
        ctes.append(
            f"d{k} AS MATERIALIZED (SELECT coalesce(sum(pr), 0.0) AS dm FROM {p} "
            f"WHERE id NOT IN (SELECT src FROM srcs))"
        )
        ctes.append(
            f"""r{k} AS MATERIALIZED (
  SELECT t.id,
         (1.0 - {alpha}) * t.tp + {alpha} * (coalesce(inf.s, 0.0) + d{k}.dm * t.tp) AS pr
  FROM tpv t CROSS JOIN d{k}
  LEFT JOIN (
    SELECT e.dst AS id, sum((1.0 / o.deg) * r.pr) AS s
    FROM edges e JOIN {p} r ON e.src = r.id JOIN outdeg o ON o.id = e.src
    GROUP BY e.dst
  ) inf ON inf.id = t.id
)"""
        )
    return ctes


def _pagerank_personalized_sql(iters: int = PR_ITERS, alpha: float = ALPHA,
                               edges_sql: str | None = None,
                               tele_case: str | None = None) -> str:
    """Unrolled personalized-PageRank twin of q_pagerank_personalized:
    teleport weight 1 + id%3 on vertices with id%7==0, normalized; both
    the restart term and the dangling mass scale by t(v). Expression
    order mirrors the Spark Columns exactly (memory: bit-stability)."""
    ctes = _ppr_ctes(iters, alpha, edges_sql, tele_case)
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT id, floor((pr) * 1e6 + 0.5) / 1e6 AS \"rank\" FROM r{iters}"
    )


LOCAL_CLUSTER_SEED = 0


WTF_SEED = 0
WTF_CIRCLE = 10
WTF_TOPK = 10


def q_wtf(spark, sf):
    """Who-To-Follow (Gupta et al. WWW'13, Twitter's production
    recommender shape): single-seed personalized PageRank picks the
    top-10 circle of trust (ROUNDED-rank order — the textrank
    bit-stability lesson), SALSA runs on the bipartite subgraph of the
    circle's out-edges, and the top authorities come back with an
    already_followed flag (the production recommender filters on it;
    kept as a flag so fixture scales where the seed follows everyone
    still produce evidence rows), seed excluded, ordered by (rounded
    auth desc, id asc). Returns (id, auth, already_followed)."""
    from combblas_spark.algorithms.hits import salsa

    g = events_graph(spark, sf)
    tele = spark.createDataFrame([(WTF_SEED, 1.0)], "id long, w double")
    r = pagerank(g, alpha=ALPHA, n_iter=PR_ITERS, teleport=tele)
    circle = (
        r.select("id", _p6("rank").alias("r6"))
        .orderBy(F.col("r6").desc(), F.col("id").asc())
        .limit(WTF_CIRCLE).select("id")
    )
    sub = g.join(F.broadcast(circle.withColumnRenamed("id", "src")),
                 "src", "semi")
    sal = salsa(sub, n_iter=HITS_ITERS)
    followed = g.where(F.col("src") == WTF_SEED) \
        .select(F.col("dst").alias("id")).distinct() \
        .withColumn("already_followed", F.lit(True))
    return (
        sal.select("id", _p6("auth").alias("auth"))
        .where(F.col("auth") > 0)
        .where(F.col("id") != WTF_SEED)
        .join(followed, "id", "left")
        .select("id", "auth",
                F.coalesce("already_followed", F.lit(False))
                 .alias("already_followed"))
        .orderBy(F.col("auth").desc(), F.col("id").asc())
        .limit(WTF_TOPK)
    )


def _wtf_sql(iters: int = PR_ITERS, alpha: float = ALPHA,
             seed: int = WTF_SEED, circle: int = WTF_CIRCLE,
             topk: int = WTF_TOPK, salsa_iters: int = HITS_ITERS) -> str:
    """Twin of q_wtf: the parametrized personalized chain + the SHARED
    SALSA unroll (prefix w, over the circle-restricted subgraph) + the
    anti-join/exclusion/top-k readout."""
    tele = (f"CASE WHEN v.id = {seed} THEN CAST(1.0 AS DOUBLE) "
            "ELSE CAST(0.0 AS DOUBLE) END")
    ctes = _ppr_ctes(iters, alpha, tele_case=tele)
    ctes += [
        f"wcir AS (SELECT id FROM (SELECT id, row_number() OVER"
        f" (ORDER BY floor((pr) * 1e6 + 0.5) / 1e6 DESC, id ASC) AS rn FROM r{iters})"
        f" WHERE rn <= {circle})",
        "wsub AS MATERIALIZED (SELECT e.* FROM edges e"
        " JOIN wcir c ON c.id = e.src)",
    ]
    ctes += _salsa_power_ctes("wsub", salsa_iters, p="w")
    ctes.append(
        f"wfol AS (SELECT DISTINCT dst AS id FROM edges WHERE src = {seed})")
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
SELECT a.id, floor((a.v) * 1e6 + 0.5) / 1e6 AS auth,
       (f.id IS NOT NULL) AS already_followed
FROM wa{salsa_iters} a LEFT JOIN wfol f ON f.id = a.id
WHERE floor((a.v) * 1e6 + 0.5) / 1e6 > 0 AND a.id <> {seed}
ORDER BY floor((a.v) * 1e6 + 0.5) / 1e6 DESC, a.id ASC LIMIT {topk}"""
    )


def q_local_cluster(spark, sf):
    """ACL local clustering end to end: single-seed personalized
    PageRank on the thinned events graph -> sweep cut -> the members of
    the best-conductance prefix (min conductance, earliest pos
    tie-break). The 'community around this page' query the sweep/PPR
    machinery exists for. Returns (pos, id, conductance) of members."""
    from combblas_spark.algorithms.sweep import sweep_cut

    g = _thin_edges(events_graph(spark, sf))
    tele = spark.createDataFrame([(LOCAL_CLUSTER_SEED, 1.0)],
                                 "id long, w double")
    r = pagerank(g, alpha=ALPHA, n_iter=PR_ITERS, teleport=tele)
    prof = sweep_cut(g, r, score_col="rank")
    best = (
        prof.orderBy(F.col("conductance").asc(), F.col("pos").asc())
        .limit(1).select(F.col("pos").alias("_bp"),
                         F.col("conductance").alias("_bc"))
    )
    return (
        prof.crossJoin(F.broadcast(best))
        .where(F.col("pos") <= F.col("_bp"))
        .select("pos", "id", F.col("_bc").alias("conductance"))
    )


def _local_cluster_sql(iters: int = PR_ITERS, alpha: float = ALPHA,
                       seed: int = LOCAL_CLUSTER_SEED) -> str:
    """Twin of q_local_cluster: the parametrized personalized chain
    (single-seed teleport, thinned edges) composed with the identical
    sweep windows and the (conductance, pos) argmin filter."""
    thinned = f"SELECT * FROM ({EDGES}) WHERE {_THIN_PRED}"
    tele = (f"CASE WHEN v.id = {seed} THEN CAST(1.0 AS DOUBLE) "
            "ELSE CAST(0.0 AS DOUBLE) END")
    # the chain's CTE list composed structurally with the sweep
    # windows (the chain ends at CTE r{iters})
    with_block = "WITH " + ",\n".join(
        _ppr_ctes(iters, alpha, edges_sql=thinned, tele_case=tele))
    sweep = f""",
swsc AS (SELECT id, floor((pr) * 1e12 + 0.5) / 1e12 AS s FROM r{iters}),
swund AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u,
  greatest(src, dst) AS v FROM edges WHERE src <> dst),
swdirs AS (SELECT u, v FROM swund UNION ALL SELECT v AS u, u AS v FROM swund),
swdeg AS (SELECT u AS id, count(*) AS deg FROM swdirs GROUP BY u),
swkey AS (SELECT d.id, d.deg, coalesce(s.s, 0.0) / d.deg AS s2
  FROM swdeg d LEFT JOIN swsc s USING (id)),
swp AS MATERIALIZED (SELECT id, deg,
  row_number() OVER (ORDER BY s2 DESC, id) - 1 AS pos FROM swkey),
swer AS (SELECT least(pu.pos, pv.pos) AS ru, greatest(pu.pos, pv.pos) AS rv
  FROM swund JOIN swp pu ON pu.id = swund.u JOIN swp pv ON pv.id = swund.v),
swst AS (SELECT ru AS pos, count(*) AS c FROM swer GROUP BY ru),
swen AS (SELECT rv AS pos, count(*) AS c FROM swer GROUP BY rv),
swf AS (SELECT p.pos, p.id, p.deg,
  coalesce(st.c, 0) - coalesce(en.c, 0) AS d
  FROM swp p LEFT JOIN swst st ON st.pos = p.pos
  LEFT JOIN swen en ON en.pos = p.pos),
swacc AS (SELECT pos, id, deg,
  sum(deg) OVER (ORDER BY pos ROWS UNBOUNDED PRECEDING) AS vol,
  sum(d) OVER (ORDER BY pos ROWS UNBOUNDED PRECEDING) AS cut FROM swf),
swtot AS (SELECT max(vol) AS tv FROM swacc),
swprof AS (SELECT pos, id,
  floor((cut * 1.0 / least(vol, tv - vol)) * 1e6 + 0.5) / 1e6 AS conductance
  FROM swacc, swtot WHERE vol < tv),
swbest AS (SELECT pos AS bp, conductance AS bc FROM swprof
  ORDER BY conductance ASC, pos ASC LIMIT 1)
SELECT p.pos, p.id, b.bc AS conductance
FROM swprof p CROSS JOIN swbest b WHERE p.pos <= b.bp"""
    return with_block + sweep


def _labelprop_ctes(rounds: int = LP_ROUNDS) -> list:
    """Shared unrolled-labelprop CTE chain (final labels in l{rounds});
    used by _labelprop_sql and _modularity_sql."""
    ctes = [
        f"edges AS ({EDGES})",
        "verts AS (SELECT DISTINCT id FROM (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges))",
        _SYM,
        "l0 AS (SELECT id, id AS label FROM verts)",
    ]
    for r in range(1, rounds + 1):
        p = f"l{r-1}"
        ctes.append(
            f"""b{r} AS (
  SELECT s.dst AS id, l.label
  FROM sym s JOIN {p} l ON l.id = s.src
  GROUP BY s.dst, l.label
  QUALIFY row_number() OVER (PARTITION BY s.dst ORDER BY count(*) DESC, l.label ASC) = 1
)"""
        )
        ctes.append(
            f"l{r} AS (SELECT v.id, coalesce(b.label, p.label) AS label "
            f"FROM verts v JOIN {p} p ON p.id = v.id LEFT JOIN b{r} b ON b.id = v.id)"
        )
    return ctes


def _labelprop_sql(rounds: int = LP_ROUNDS) -> str:
    ctes = _labelprop_ctes(rounds)
    return "WITH " + ",\n".join(ctes) + f"\nSELECT id, label FROM l{rounds}"


_DOC_QUALITY_SQL = f"""WITH q AS (
              SELECT doc_id, text,
                     len(string_split(text, ' ')) AS n,
                     len(string_split(lower(text), ' ')) AS nl,
                     len(list_filter(string_split(lower(text), ' '), x -> x IN {_STOPW})) AS sw_en,
                     len(list_filter(string_split(lower(text), ' '), x -> x IN {_STOPW_DE})) AS sw_de,
                     length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS punct
              FROM documents)
            SELECT doc_id,
                   CASE WHEN sw_en = 0 AND sw_de = 0 THEN 'unknown'
                        WHEN sw_en >= sw_de THEN 'en' ELSE 'de' END AS lang_guess,
                   floor((
                     0.4 * least((CAST(length(text) - (n - 1) AS DOUBLE) / n) / 8.0, 1.0)
                   + 0.3 * (1.0 - CAST(punct AS DOUBLE) / length(text))
                   + 0.3 * least((CAST(sw_en AS DOUBLE) / nl) * 5, 1.0)) * 1e6 + 0.5) / 1e6 AS quality
            FROM q"""


def oracle_sql() -> dict[str, str]:
    sqls = {
        "graph_edges": f"{_BASE} SELECT src, dst, val FROM edges",
        "out_degrees": f"""{_BASE}
            SELECT src AS id, count(*) AS outdeg, sum(val) AS wdeg FROM edges GROUP BY src""",
        "total_degree_ewise": f"""{_BASE},
            o AS (SELECT src AS id, count(*) AS d FROM edges GROUP BY src),
            i AS (SELECT dst AS id, count(*) AS d FROM edges GROUP BY dst)
            SELECT coalesce(o.id, i.id) AS id,
                   (coalesce(o.d, 0) + coalesce(i.d, 0)) AS total_degree
            FROM o FULL OUTER JOIN i ON o.id = i.id""",
        "spmv_plus_times": f"""{_BASE},
            x AS (SELECT src AS id, CAST(count(*) AS DOUBLE) AS xv FROM edges GROUP BY src)
            SELECT e.dst AS id, sum(e.val * x.xv) AS y
            FROM edges e JOIN x ON e.src = x.id GROUP BY e.dst""",
        "spmv_select2nd_min": f"""{_BASE}
            SELECT dst AS id, CAST(min(src) AS DOUBLE) AS minsrc FROM edges GROUP BY dst""",
        "spgemm_aa": f"""{_BASE}
            SELECT a.src, b.dst, sum(a.val * b.val) AS c
            FROM edges a JOIN edges b ON a.dst = b.src GROUP BY a.src, b.dst""",
        "spgemm_phased": f"""{_BASE}
            SELECT a.src, b.dst, sum(a.val * b.val) AS c
            FROM edges a JOIN edges b ON a.dst = b.src GROUP BY a.src, b.dst""",
        "blocked_spgemm": f"""{_BASE}
            SELECT a.src, b.dst, sum(a.val * b.val) AS c
            FROM edges a JOIN edges b ON a.dst = b.src GROUP BY a.src, b.dst""",
        "galerkin": f"""{_BASE}
            SELECT a.src // 4 AS src, a.dst // 4 AS dst,
                   floor((sum(a.val)) * 1e6 + 0.5) / 1e6 AS c
            FROM edges a GROUP BY a.src // 4, a.dst // 4""",
        "spgemm_minplus": f"""{_BASE}
            SELECT a.src, b.dst, floor((min(a.val + b.val)) * 1e6 + 0.5) / 1e6 AS d2
            FROM edges a JOIN edges b ON a.dst = b.src GROUP BY a.src, b.dst""",
        "prune_recovery": f"""{_BASE},
            ann AS (
              SELECT src, dst, val,
                     row_number() OVER (PARTITION BY dst ORDER BY val DESC, src ASC) AS rk,
                     sum(val) OVER (PARTITION BY dst) AS mass,
                     sum(CASE WHEN val >= 2.0 THEN val ELSE 0 END)
                         OVER (PARTITION BY dst) AS km,
                     sum(CASE WHEN val >= 2.0 THEN 1 ELSE 0 END)
                         OVER (PARTITION BY dst) AS kn
              FROM edges)
            SELECT src, dst, val FROM ann
            WHERE (NOT (km < 0.9 * mass AND kn < 3) AND val >= 2.0)
               OR ((km < 0.9 * mass AND kn < 3) AND rk <= 3)""",
        "masked_spgemm": f"""{_BASE}
            SELECT a.src, b.dst, sum(a.val * b.val) AS c
            FROM edges a JOIN edges b ON a.dst = b.src
            WHERE EXISTS (SELECT 1 FROM edges m WHERE m.src = a.src AND m.dst = b.dst)
            GROUP BY a.src, b.dst""",
        "transpose_rowsums": f"""{_BASE}
            SELECT dst AS id, sum(val) AS insum FROM edges GROUP BY dst""",
        "kselect_top2": f"""{_BASE}
            SELECT src, dst, val FROM edges
            QUALIFY row_number() OVER (PARTITION BY dst ORDER BY val DESC, src ASC) <= 2""",
        "subsref": f"""{_BASE}
            SELECT src // 2 AS src, dst, val FROM edges WHERE src % 2 = 0 AND dst < 75""",
        "prune": f"{_BASE} SELECT src, dst, val FROM edges WHERE NOT (val < 3.0)",
        "ewise_mult_mutual": f"""{_BASE}
            SELECT a.src, a.dst, a.val * b.val AS prod
            FROM edges a JOIN edges b ON a.src = b.dst AND a.dst = b.src""",
        "set_difference": f"""{_BASE}
            SELECT a.src, a.dst, a.val FROM edges a
            WHERE NOT EXISTS (SELECT 1 FROM edges b WHERE b.dst = a.src AND b.src = a.dst)""",
        "dim_apply_colstochastic": f"""{_BASE},
            cs AS (SELECT dst, sum(val) AS s FROM edges GROUP BY dst)
            SELECT e.src, e.dst, floor((e.val * (1.0 / cs.s)) * 1e6 + 0.5) / 1e6 AS w
            FROM edges e JOIN cs ON e.dst = cs.dst""",
        "triangle_count": f"""{_BASE},
            {_SYM},
            L AS (SELECT src, dst FROM sym WHERE src < dst)
            SELECT count(*) AS n_triangles
            FROM L ab JOIN L bc ON ab.dst = bc.src
            WHERE EXISTS (SELECT 1 FROM L ac WHERE ac.src = ab.src AND ac.dst = bc.dst)""",
        "connected_components": f"""WITH RECURSIVE edges AS ({EDGES}),
            verts AS (SELECT DISTINCT id FROM (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)),
            {_SYM},
            reach(id, r) AS (
              SELECT id, id FROM verts
              UNION
              SELECT re.id, s.dst FROM reach re JOIN sym s ON s.src = re.r
            )
            SELECT id, min(r) AS comp FROM reach GROUP BY id""",
        "bfs_levels": f"""WITH RECURSIVE edges AS ({EDGES}),
            {_SYM},
            walk(id, lvl) AS (
              SELECT CAST(0 AS BIGINT), 0
              UNION
              SELECT s.dst, w.lvl + 1 FROM walk w JOIN sym s ON s.src = w.id WHERE w.lvl < 40
            )
            SELECT id, min(lvl) AS level FROM walk GROUP BY id""",
        "filtered_bfs": f"""WITH RECURSIVE edges AS ({EDGES}),
            fsym AS (SELECT src, dst FROM edges WHERE val >= 2.0
                     UNION SELECT dst, src FROM edges WHERE val >= 2.0),
            walk(id, lvl) AS (
              SELECT CAST(0 AS BIGINT), 0
              UNION
              SELECT s.dst, w.lvl + 1 FROM walk w JOIN fsym s ON s.src = w.id WHERE w.lvl < 40
            )
            SELECT id, min(lvl) AS level FROM walk GROUP BY id""",
        "bfs_parents": f"""WITH RECURSIVE edges AS ({EDGES}),
            {_SYM},
            walk(id, lvl) AS (
              SELECT CAST(0 AS BIGINT), 0
              UNION
              SELECT s.dst, w.lvl + 1 FROM walk w JOIN sym s ON s.src = w.id WHERE w.lvl < 40
            ),
            lv AS (SELECT id, min(lvl) AS lvl FROM walk GROUP BY id)
            SELECT v.id,
                   CASE WHEN v.id = 0 THEN 0
                        ELSE (SELECT min(s.src) FROM sym s JOIN lv p ON p.id = s.src
                              WHERE s.dst = v.id AND p.lvl = v.lvl - 1) END AS parent
            FROM lv v""",
        "bfs_random_parent": f"""WITH RECURSIVE edges AS ({EDGES}),
            {_SYM},
            walk(id, lvl) AS (
              SELECT CAST(0 AS BIGINT), 0
              UNION
              SELECT s.dst, w.lvl + 1 FROM walk w JOIN sym s ON s.src = w.id WHERE w.lvl < 40
            ),
            lv AS (SELECT id, min(lvl) AS lvl FROM walk GROUP BY id)
            SELECT v.id,
                   CASE WHEN v.id = 0 THEN 0
                        ELSE (SELECT s.src FROM sym s JOIN lv p ON p.id = s.src
                              WHERE s.dst = v.id AND p.lvl = v.lvl - 1
                              ORDER BY md5('bfsrand:' || CAST(v.id AS VARCHAR)
                                           || ':' || CAST(s.src AS VARCHAR)), s.src
                              LIMIT 1) END AS parent
            FROM lv v""",
        "single_child": f"""WITH RECURSIVE edges AS ({EDGES}),
            {_SYM},
            walk(id, lvl) AS (
              SELECT CAST(0 AS BIGINT), 0
              UNION
              SELECT s.dst, w.lvl + 1 FROM walk w JOIN sym s ON s.src = w.id WHERE w.lvl < 40
            ),
            lv AS (SELECT id, min(lvl) AS lvl FROM walk GROUP BY id),
            par AS (SELECT v.id, v.lvl AS level,
                           (SELECT min(s.src) FROM sym s JOIN lv p ON p.id = s.src
                            WHERE s.dst = v.id AND p.lvl = v.lvl - 1) AS parent
                    FROM lv v WHERE v.id <> 0)
            SELECT level, parent, id AS child FROM (
              SELECT level, parent, id,
                     row_number() OVER (
                       PARTITION BY level, parent
                       ORDER BY md5('scbfs:' || CAST(parent AS VARCHAR)
                                    || ':' || CAST(id AS VARCHAR)), id) AS rn
              FROM par) WHERE rn = 1""",
        "split_merge": f"""{_BASE}
            SELECT src, dst, val FROM edges""",
        "selective_prune": f"""{_BASE}
            SELECT src, dst, val FROM edges e
            WHERE NOT (e.val < 3.0
                       AND (e.src + e.dst) % 3 <> 0
                       AND (e.src % 2) = (e.dst % 2))""",
        "ktips": _ktips_sql(6),
        "pagerank": _pagerank_sql(),
        "pagerank_personalized": _pagerank_personalized_sql(),
        # same recurrence: bucketing affects placement, never values
        "pagerank_bucketed": _pagerank_sql(),
        "labelprop": _labelprop_sql(),
        "spasgn": f"""{_BASE}
            SELECT src, dst, val FROM edges WHERE NOT (src < 10 AND dst < 10)
            UNION ALL
            SELECT gs AS src, gs AS dst, 7.0 AS val
            FROM (SELECT unnest(generate_series(0, 9)) AS gs)""",
        "prune_rows_cols": f"""{_BASE}
            SELECT src, dst, val FROM edges WHERE NOT (src % 2 = 0 AND dst < 50)""",
        "prune_column": f"""{_BASE},
            cm AS (SELECT dst, max(val) AS m FROM edges GROUP BY dst)
            SELECT e.src, e.dst, e.val FROM edges e JOIN cm ON e.dst = cm.dst
            WHERE e.val >= 0.5 * cm.m""",
        "masked_reduce": f"""{_BASE}
            SELECT src AS id, sum(val) AS s FROM edges WHERE dst < 100 GROUP BY src""",
        "add_loops": f"""{_BASE}
            SELECT src, dst, val FROM edges
            UNION ALL SELECT id, id, 1.0 FROM verts""",
        "apply_scale": f"{_BASE} SELECT src, dst, val * 2 + 1 AS val FROM edges",
        "vector_assign": f"""{_BASE},
            o AS (SELECT src AS id, count(*) AS c FROM edges GROUP BY src),
            u AS (SELECT dst AS id, count(*) AS c FROM edges WHERE dst % 3 = 0 GROUP BY dst)
            SELECT o.id, CAST(coalesce(u.c, o.c) AS BIGINT) AS val
            FROM o LEFT JOIN u ON o.id = u.id""",
        "pointer_jump": f"""{_BASE},
            p AS (SELECT dst AS id, CAST(min(src) AS DOUBLE) AS minsrc
                  FROM edges GROUP BY dst)
            SELECT a.id, b.minsrc AS gp
            FROM p a JOIN p b ON CAST(a.minsrc AS BIGINT) = b.id""",
        "invert_vec": f"""{_BASE},
            o AS (SELECT src AS id0, count(*) AS c FROM edges GROUP BY src)
            SELECT CAST(c AS BIGINT) AS id, CAST(min(id0) AS DOUBLE) AS val
            FROM o GROUP BY c""",
        "kth_value": f"""{_BASE}
            SELECT dst AS id, val FROM edges
            QUALIFY row_number() OVER (PARTITION BY dst ORDER BY val DESC) = 2""",
        "graph_stats": f"""{_BASE}
            SELECT count(*) AS nnz, max(abs(src - dst)) AS bandwidth,
                   min(val) AS minval, sum(val) AS total FROM edges""",
        "induced_subgraphs": f"""{_BASE}
            SELECT src, dst, val, src % 4 AS grp FROM edges WHERE src % 4 = dst % 4""",
        "concat_vectors": f"""{_BASE},
            o AS (SELECT src AS id, count(*) AS c FROM edges GROUP BY src),
            i AS (SELECT dst AS id, count(*) AS c FROM edges GROUP BY dst)
            SELECT id, c AS val FROM o
            UNION ALL
            SELECT i.id + (SELECT max(id) + 1 FROM o), i.c FROM i""",
        "setminus_vec": f"""{_BASE}
            SELECT src AS id, count(*) AS val FROM edges WHERE src >= 50 GROUP BY src""",
        "uniq_vec": f"""{_BASE},
            o AS (SELECT src AS id0, count(*) AS c FROM edges GROUP BY src)
            SELECT min(id0) AS id, c AS val FROM o GROUP BY c""",
        "sssp": f"""WITH RECURSIVE edges AS ({EDGES}),
            walk(id, d) AS (
              SELECT CAST(0 AS BIGINT), CAST(0 AS DOUBLE)
              UNION
              SELECT e.dst, w.d + e.val FROM walk w JOIN edges e ON e.src = w.id
              WHERE w.d + e.val <= 15
            )
            SELECT id, floor((min(d)) * 1e6 + 0.5) / 1e6 AS dist FROM walk GROUP BY id""",
        "triangles_per_vertex": f"""{_BASE},
            {_SYM},
            L AS (SELECT src, dst FROM sym WHERE src < dst),
            tri AS (
              SELECT ab.src AS a, ab.dst AS b, bc.dst AS c
              FROM L ab JOIN L bc ON ab.dst = bc.src
              JOIN L ac ON ac.src = ab.src AND ac.dst = bc.dst)
            SELECT id, count(*) AS tri FROM (
              SELECT a AS id FROM tri
              UNION ALL SELECT b FROM tri
              UNION ALL SELECT c FROM tri) GROUP BY id""",
        "salted_spmv": f"""{_BASE},
            x AS (SELECT src AS id, CAST(count(*) AS DOUBLE) AS xv FROM edges GROUP BY src)
            SELECT e.dst AS id, sum(e.val * x.xv) AS y
            FROM edges e JOIN x ON e.src = x.id GROUP BY e.dst""",
        "mm_read": """
            SELECT column0 - 1 AS src, column1 - 1 AS dst, column2 AS val
            FROM read_csv('/root/reference/ReleaseTests/sevenvertex.mtx',
                          skip=2, header=false, delim='\t',
                          columns={'column0':'BIGINT','column1':'BIGINT',
                                   'column2':'DOUBLE'})""",
        "rand_perm": f"""{_BASE}
            SELECT row_number() OVER (
                     ORDER BY md5('42:' || CAST(id AS VARCHAR)), id) - 1 AS pos,
                   id
            FROM verts""",
        "sort_perm": f"""{_BASE},
            o AS (SELECT src AS id, count(*) AS c FROM edges GROUP BY src)
            SELECT row_number() OVER (ORDER BY c DESC, id ASC) - 1 AS pos, id
            FROM o""",
        "doc_tokens": "SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents",
        "doc_quality": _DOC_QUALITY_SQL,
        "dedup_exact": """
            SELECT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp,
                   count(*) AS n_dups, min(doc_id) AS keep_id
            FROM documents GROUP BY 1""",
        "minhash": f"""WITH {_SHINGLES}
            SELECT doc_id AS id,
                   min(md5('0:' || sh)) AS h0, min(md5('1:' || sh)) AS h1,
                   min(md5('2:' || sh)) AS h2, min(md5('3:' || sh)) AS h3
            FROM sh GROUP BY doc_id""",
        "ngram_jaccard": f"""WITH {_SHINGLES},
            dsh AS (SELECT DISTINCT doc_id, sh FROM sh),
            pairs AS (SELECT doc_id AS id_a, doc_id + 1 AS id_b FROM documents WHERE doc_id < 50),
            inter AS (
              SELECT p.id_a, p.id_b, count(*) AS n_inter
              FROM pairs p JOIN dsh a ON a.doc_id = p.id_a JOIN dsh b ON b.doc_id = p.id_b AND b.sh = a.sh
              GROUP BY p.id_a, p.id_b),
            cnt AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY doc_id)
            SELECT p.id_a, p.id_b,
                   floor((CAST(coalesce(i.n_inter, 0) AS DOUBLE)
                         / (ca.n + cb.n - coalesce(i.n_inter, 0))) * 1e6 + 0.5) / 1e6 AS jaccard
            FROM pairs p
            LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
            JOIN cnt ca ON ca.doc_id = p.id_a JOIN cnt cb ON cb.doc_id = p.id_b""",
        "embedding_topk": """WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10)
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   floor((list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
                         / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
                            * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))))) * 1e6 + 0.5) / 1e6 AS cos
            FROM q JOIN embeddings c ON c.vec_id <> q.vec_id
            QUALIFY row_number() OVER (
              PARTITION BY q.vec_id
              ORDER BY list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
                       / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
                          * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))) DESC,
                       c.vec_id ASC) <= 5""",
        "embedding_neardups_exact": """WITH v AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
              FROM embeddings WHERE vec_id < 400)
            SELECT * FROM (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     floor((list_dot_product(a.e, b.e)
                           / (sqrt(list_dot_product(a.e, a.e))
                              * sqrt(list_dot_product(b.e, b.e)))) * 1e6 + 0.5) / 1e6 AS cos
              FROM v a JOIN v b ON a.vec_id < b.vec_id)
            WHERE cos >= 0.2""",
        "embedding_centroids": """
            SELECT label, i - 1 AS i, floor((avg(CAST(x AS DOUBLE))) * 1e6 + 0.5) / 1e6 AS c
            FROM (SELECT label, generate_subscripts(embedding, 1) AS i, unnest(embedding) AS x
                  FROM embeddings)
            GROUP BY label, i""",
        "events_daily": """
            SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
                   count(*) AS n, floor((avg(value)) * 1e6 + 0.5) / 1e6 AS avg_value
            FROM events GROUP BY event_type, day""",
        "events_windowed": """
            SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, event_type,
                   count(*) AS n, floor((sum(value)) * 1e6 + 0.5) / 1e6 AS sum_value
            FROM events GROUP BY window_start, event_type""",
        # media_features: synthetic binary decode plumbing -> the ONLY
        # rows-only check left (every other query has an oracle).
    }
    sqls["lsh_topk"] = _lsh_topk_sql()
    sqls["embedding_neardups"] = _embedding_neardups_lsh_sql()
    sqls["simhash_neardups"] = _simhash_sql()
    sqls["mcl_clusters"] = _mcl_sql()
    sqls["betweenness"] = _betweenness_sql()
    sqls["bipartite_matching"] = _bipartite_matching_sql()
    sqls["maximum_matching"] = _maximum_matching_sql()
    sqls["awpm"] = _awpm_sql(AWPM_ROUNDS)
    sqls["pages_pipeline"] = _pages_pipeline_sql()
    # bin round-trip is lossless by construction -> oracle is the edge table
    sqls["bin_roundtrip"] = sqls["graph_edges"]
    sqls["mis"] = _mis_sql()
    sqls["filtered_mis"] = _mis_sql(
        edges_sql=f"SELECT * FROM ({EDGES}) WHERE val >= 2.0")
    sqls["connected_components_as"] = sqls["connected_components"]
    sqls["rcm"] = _rcm_sql()
    sqls["min_degree"] = _min_degree_sql()
    sqls["auction"] = _auction_sql()
    sqls["ivf_topk"] = _ivf_topk_sql()
    sqls["semdedup"] = _semdedup_sql()
    sqls["ppr_batch"] = _ppr_batch_sql()
    sqls["media_features"] = _media_features_sql()
    sqls["anf"] = _anf_sql()
    sqls["hits"] = _hits_sql()
    sqls["salsa"] = _salsa_sql()
    sqls["katz"] = _katz_sql()
    sqls["scc"] = _scc_sql()
    sqls["bowtie"] = _bowtie_sql()
    sqls["random_walks"] = _walks_sql()
    sqls["skipgram_pairs"] = _skipgram_sql()
    sqls["ppmi"] = _ppmi_sql()
    sqls["k_truss"] = _truss_sql()
    sqls["closeness"] = _closeness_sql()
    sqls["labelprop_seeded"] = _labelprop_seeded_sql()
    sqls["prefix_jaccard"] = _prefix_jaccard_sql()
    # hash64 key-encoding is bit-identical by construction (verify stage
    # rescans true strings) — the SAME oracle checks that claim
    sqls["prefix_jaccard_hash64"] = _prefix_jaccard_sql()
    sqls["neardup_clusters"] = _neardup_clusters_sql()
    sqls["gopher_filter"] = _gopher_filter_sql()
    sqls["repetition_filter"] = _repetition_filter_sql()
    sqls["doc_word_tokens"] = (
        "SELECT doc_id, len(list_filter(regexp_split_to_array(lower(text), "
        "'[^a-z0-9]+'), t -> t <> '')) AS n_word_tokens FROM documents"
    )
    sqls["doc_sample"] = """SELECT doc_id, lang FROM documents
WHERE ('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT <
  CASE lang WHEN 'de' THEN 3221225472 WHEN 'en' THEN 1073741824
            WHEN 'fr' THEN 3221225472 ELSE 2147483648 END"""
    sqls["corpus_clean"] = _corpus_clean_sql()
    sqls["incremental_neardups"] = _incremental_neardups_sql()
    # one-sided sidecar join: exact, so the verified pairs are identical
    sqls["incremental_sidecar"] = _incremental_neardups_sql()
    sqls["vocab_topk"] = _vocab_topk_sql()
    sqls["doc_rarity"] = _doc_rarity_sql()
    sqls["eff_diameter"] = _eff_diameter_sql()
    sqls["assortativity"] = _assortativity_sql()
    sqls["avg_neighbor_degree"] = _avg_neighbor_degree_sql()
    sqls["butterflies"] = _butterflies_sql()
    sqls["bigram_fluency"] = _bigram_fluency_sql()
    sqls["vocab_hll"] = _vocab_hll_sql()
    sqls["cms_counts"] = _cms_counts_sql()
    sqls["densest"] = _densest_sql()
    sqls["community_graph"] = _community_graph_sql()
    sqls["four_cliques"] = _four_cliques_sql()
    sqls["eigencentrality"] = _eigencentrality_sql()
    sqls["two_hop_reach"] = _two_hop_reach_sql()
    sqls["trussness"] = _trussness_sql()
    sqls["node2vec_walks"] = _node2vec_sql()
    sqls["simrank"] = _simrank_sql()
    sqls["winnow_fp"] = _winnow_fp_sql()
    sqls["winnow_pairs"] = _winnow_pairs_sql()
    sqls["pic"] = _pic_sql()
    sqls["s_core"] = _s_core_sql()
    sqls["mnn_pairs"] = _mnn_pairs_sql()
    sqls["diameter_lb"] = _diameter_lb_sql()
    sqls["neighbor_jaccard"] = _neighbor_jaccard_sql()
    sqls["weighted_walks"] = _weighted_walks_sql()
    sqls["sweep_cut"] = _sweep_cut_sql()
    sqls["local_cluster"] = _local_cluster_sql()
    sqls["redirects"] = _redirects_sql()
    sqls["langid"] = _langid_sql()
    sqls["fastrp"] = _fastrp_sql()
    sqls["louvain"] = _louvain_sql()
    sqls["inverted_index"] = _inverted_index_sql()
    sqls["phrase_search"] = _phrase_search_sql()
    sqls["cdc_chunks"] = _cdc_chunks_sql()
    sqls["robustness"] = _robustness_sql()
    sqls["topic_hits"] = _topic_hits_sql()
    sqls["chunk_dedup"] = _chunk_dedup_sql()
    sqls["louvain_weighted"] = _louvain_sql(weighted=True)
    sqls["readability"] = _readability_sql()
    sqls["rank_delta"] = _rank_delta_sql()
    sqls["landmarks"] = _landmarks_sql()
    sqls["landmark_est"] = _landmark_est_sql()
    sqls["path_rollup"] = _path_rollup_sql()
    sqls["mirror_hosts"] = _mirror_hosts_sql()
    sqls["quality_keep"] = _quality_keep_sql()
    sqls["bloom_decon"] = _bloom_decon_sql()
    sqls["wtf"] = _wtf_sql()
    sqls["weighted_triangles"] = _weighted_triangles_sql()
    sqls["kcenter"] = _kcenter_sql()
    sqls["greedy_modularity"] = _greedy_modularity_sql()
    sqls["hyperball"] = _hyperball_sql()
    sqls["pack_sequences"] = _pack_sequences_sql()
    sqls["mix_budget"] = _mix_budget_sql()
    sqls["textrank"] = _textrank_sql()
    sqls["quantize"] = _quantize_sql()
    sqls["transitivity"] = _transitivity_sql()
    sqls["anchor_terms"] = _anchor_terms_sql()
    sqls["reciprocity"] = _reciprocity_sql()
    sqls["spam_mass"] = _spam_mass_sql()
    sqls["local_clustering"] = _local_clustering_sql()
    sqls["degree_hist"] = _degree_hist_sql()
    sqls["containment"] = _containment_sql()
    sqls["dup_spans"] = _dup_spans_sql()
    sqls["dup_span_removal"] = _dup_span_removal_sql()
    sqls["k_core"] = _kcore_sql()
    sqls["coreness"] = _coreness_sql()
    sqls["host_graph"] = _host_graph_sql()
    sqls["trustrank"] = _trustrank_sql()
    sqls["cocitation"] = _cocitation_sql()
    sqls["bib_coupling"] = _bib_coupling_sql()
    sqls["decontaminate"] = _decontaminate_sql()
    sqls["modularity"] = _modularity_sql()
    sqls["pii_scrub"] = _pii_scrub_sql()
    sqls["tf_cosine"] = _tf_cosine_sql()
    sqls["tf_cosine_capped"] = _tf_cosine_sql(max_df=TFCOS_MAX_DF,
                                              min_cos=TFCOS_MIN_CAPPED)
    sqls["url_canonical"] = _url_canonical_sql()
    sqls["scc_dag"] = _scc_dag_sql()
    sqls["weighted_sample"] = _weighted_sample_sql()
    sqls["host_cap"] = _host_cap_sql()
    sqls["boilerplate"] = _boilerplate_sql()
    sqls["edge_embeddedness"] = _edge_embeddedness_sql()
    sqls["rich_club"] = _rich_club_sql()
    sqls["sessionize"] = _sessionize_sql()
    sqls["vertex_features"] = _vertex_features_sql()
    sqls["component_sizes"] = _component_sizes_sql()
    sqls["paragraph_dedup"] = _paragraph_dedup_sql()
    sqls["degree_delta"] = _degree_delta_sql()
    sqls["pagerank_incremental"] = _pagerank_incremental_sql()
    sqls["cc_incremental"] = sqls["connected_components"]
    sqls["mst"] = _mst_sql()
    sqls["adamic_adar"] = _adamic_adar_sql()
    sqls["coloring"] = _coloring_sql()
    sqls["dsir"] = _dsir_sql()
    sqls["sssp_delta"] = sqls["sssp"]
    sqls["tfidf"] = _tfidf_sql()
    return sqls


def _mcl_sql(iters: int = MCL_ITERS, threshold: float = MCL_THRESHOLD,
             select_k: int = MCL_SELECT_K, recover_num: int = MCL_RECOVER_NUM,
             recover_pct: float = MCL_RECOVER_PCT) -> str:
    """DuckDB twin of algorithms.mcl.mcl at inflation=2.0, fixed
    iterations: symmetrize+loops -> col-stochastic; per iteration
    expand (self-join), inflate (val*val — exact), prune w/ recovery
    (MCLPruneRecoverySelect semantics), top-k cap, re-normalize;
    clusters = transitive closure of the attractor pattern. Recovery
    rule per ParFriends.h:208-222: kept mass < recover_pct * mass AND
    post-prune nnz < recover_num (ADVICE r2 fix)."""
    ctes = [
        f"edges AS MATERIALIZED ({EDGES})",
        """sym AS (
          SELECT src, dst, val FROM edges
          UNION ALL SELECT dst, src, val FROM edges
          UNION ALL
          SELECT id, id, 1.0 FROM (
            SELECT DISTINCT id FROM (
              SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges))
        )""",
        "g0 AS (SELECT src, dst, sum(val) AS val FROM sym GROUP BY src, dst)",
        """a0 AS MATERIALIZED (
          SELECT src, dst, val / (sum(val) OVER (PARTITION BY dst)) AS val
          FROM g0)""",
    ]
    for k in range(1, iters + 1):
        p = f"a{k-1}"
        ctes.append(
            f"""e{k} AS (
          SELECT a.src, b.dst, sum(a.val * b.val) AS val
          FROM {p} a JOIN {p} b ON a.dst = b.src GROUP BY a.src, b.dst)"""
        )
        ctes.append(
            f"""p{k} AS (
          SELECT src, dst, v2,
                 row_number() OVER (PARTITION BY dst ORDER BY v2 DESC, src ASC) AS rk,
                 sum(v2) OVER (PARTITION BY dst) AS mass,
                 sum(CASE WHEN v2 >= {threshold} THEN v2 ELSE 0 END)
                     OVER (PARTITION BY dst) AS km,
                 sum(CASE WHEN v2 >= {threshold} THEN 1 ELSE 0 END)
                     OVER (PARTITION BY dst) AS kn
          FROM (SELECT src, dst, val * val AS v2 FROM e{k}))"""
        )
        ctes.append(
            f"""s{k} AS (
          SELECT src, dst, val FROM (
            SELECT src, dst, v2 AS val,
                   row_number() OVER (PARTITION BY dst ORDER BY v2 DESC, src ASC) AS rk2
            FROM p{k}
            WHERE (NOT (km < {recover_pct} * mass AND kn < {recover_num})
                   AND v2 >= {threshold})
               OR ((km < {recover_pct} * mass AND kn < {recover_num})
                   AND rk <= {recover_num}))
          WHERE rk2 <= {select_k})"""
        )
        ctes.append(
            f"""a{k} AS MATERIALIZED (
          SELECT src, dst, val / (sum(val) OVER (PARTITION BY dst)) AS val
          FROM s{k})"""
        )
    final = f"a{iters}"
    return f"""WITH RECURSIVE {','.join(ctes)},
        psym AS (SELECT src, dst FROM {final} UNION SELECT dst, src FROM {final}),
        pverts AS (SELECT DISTINCT src AS id FROM psym),
        reach(id, r) AS (
          SELECT id, id FROM pverts
          UNION
          SELECT re.id, s.dst FROM reach re JOIN psym s ON s.src = re.r
        )
        SELECT id, min(r) AS cluster FROM reach GROUP BY id"""


def _rcm_sql(depth: int = RCM_DEPTH, root: int = 0) -> str:
    """DuckDB twin of algorithms.ordering.rcm_ordering(root=0): BFS
    levels, then per level a rank over (min parent position, degree,
    id), cumulative offsets, reversed at the end."""
    # NOTE: inside WITH RECURSIVE, DuckDB gives bare UNION in ANY cte
    # recursive (non-deduplicating) semantics — dedup must be explicit
    # here because the degree counts depend on it.
    ctes = [
        f"edges AS MATERIALIZED ({EDGES})",
        """sym AS MATERIALIZED (
          SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges))""",
        "deg AS MATERIALIZED (SELECT src AS id, count(*) AS d FROM sym GROUP BY src)",
        f"""reach(id, lvl) AS (
          SELECT CAST({root} AS BIGINT), 0
          UNION
          SELECT s.dst, r.lvl + 1 FROM reach r JOIN sym s ON s.src = r.id
          WHERE r.lvl < {depth})""",
        "lv AS MATERIALIZED (SELECT id, min(lvl) AS lvl FROM reach GROUP BY id)",
        f"p0 AS (SELECT CAST({root} AS BIGINT) AS id, CAST(0 AS BIGINT) AS pos)",
    ]
    for k in range(1, depth + 1):
        ctes.append(
            f"""r{k} AS MATERIALIZED (
          SELECT c.id,
                 row_number() OVER (ORDER BY c.ppos, deg.d, c.id) - 1
                   + (SELECT count(*) FROM p{k-1}) AS pos
          FROM (
            SELECT e.dst AS id, min(p.pos) AS ppos
            FROM sym e
            JOIN lv ps ON ps.id = e.src AND ps.lvl = {k - 1}
            JOIN lv cs ON cs.id = e.dst AND cs.lvl = {k}
            JOIN p{k-1} p ON p.id = e.src
            GROUP BY e.dst) c
          JOIN deg ON deg.id = c.id)"""
        )
        ctes.append(
            f"p{k} AS (SELECT id, pos FROM p{k-1} UNION ALL SELECT id, pos FROM r{k})"
        )
    return (
        "WITH RECURSIVE " + ",\n".join(ctes)
        + f"""
        SELECT (SELECT count(*) FROM p{depth}) - 1 - pos AS pos, id
        FROM p{depth}"""
    )


def _min_degree_sql(rounds: int = MD_ROUNDS, seed: int = 42) -> str:
    """DuckDB twin of algorithms.ordering.min_degree_ordering(rounds=k):
    per round, candidates at the global minimum external degree, Luby
    md5-priority independent winners, positions by id within the round,
    clique fill among each winner's neighbors; after k rounds the
    still-active vertices append in (degree, id) order. A round on an
    exhausted graph is a no-op on both sides."""
    ctes = [
        f"edges AS MATERIALIZED ({EDGES})",
        """sym0 AS MATERIALIZED (
          SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges)
          WHERE src <> dst)""",
        "v0 AS MATERIALIZED (SELECT DISTINCT src AS id FROM sym0)",
        "ap0 AS (SELECT CAST(NULL AS BIGINT) AS pos, CAST(NULL AS BIGINT) AS id WHERE FALSE)",
    ]
    for k in range(rounds):
        ctes.append(
            f"""deg{k} AS MATERIALIZED (
          SELECT v.id, count(s.dst) AS d
          FROM v{k} v LEFT JOIN sym{k} s ON s.src = v.id
          GROUP BY v.id)"""
        )
        ctes.append(
            f"""cand{k} AS MATERIALIZED (
          SELECT id, md5('{seed}:{k}:' || CAST(id AS VARCHAR)) AS p
          FROM deg{k} WHERE d = (SELECT min(d) FROM deg{k}))"""
        )
        ctes.append(
            f"""nm{k} AS (
          SELECT e.dst AS id, min(cs.p) AS np
          FROM sym{k} e
          JOIN cand{k} cs ON cs.id = e.src
          JOIN cand{k} cd ON cd.id = e.dst
          GROUP BY e.dst)"""
        )
        ctes.append(
            f"""win{k} AS MATERIALIZED (
          SELECT c.id FROM cand{k} c LEFT JOIN nm{k} n ON n.id = c.id
          WHERE n.np IS NULL OR c.p < n.np)"""
        )
        ctes.append(
            f"""ap{k+1} AS MATERIALIZED (
          SELECT pos, id FROM ap{k}
          UNION ALL
          SELECT row_number() OVER (ORDER BY id) - 1
                 + (SELECT count(*) FROM ap{k}) AS pos, id
          FROM win{k})"""
        )
        ctes.append(
            f"""nb{k} AS MATERIALIZED (
          SELECT w.id AS v, s.dst AS a
          FROM sym{k} s JOIN win{k} w ON w.id = s.src)"""
        )
        ctes.append(
            f"""sym{k+1} AS MATERIALIZED (
          SELECT DISTINCT src, dst FROM (
            SELECT s.src, s.dst FROM sym{k} s
            WHERE s.src NOT IN (SELECT id FROM win{k})
              AND s.dst NOT IN (SELECT id FROM win{k})
            UNION ALL
            SELECT x.a AS src, y.a AS dst
            FROM nb{k} x JOIN nb{k} y ON x.v = y.v WHERE x.a <> y.a))"""
        )
        ctes.append(
            f"""v{k+1} AS MATERIALIZED (
          SELECT id FROM v{k} WHERE id NOT IN (SELECT id FROM win{k}))"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f""",
        rem AS (
          SELECT v.id, count(s.dst) AS d
          FROM v{rounds} v LEFT JOIN sym{rounds} s ON s.src = v.id
          GROUP BY v.id)
        SELECT pos, id FROM ap{rounds}
        UNION ALL
        SELECT row_number() OVER (ORDER BY d, id) - 1
               + (SELECT count(*) FROM ap{rounds}) AS pos, id
        FROM rem"""
    )


def _auction_sql(rounds: int = AUCTION_ROUNDS, eps: float = AUCTION_EPS) -> str:
    """DuckDB twin of algorithms.matching.auction_matching(max_rounds=k):
    per round, unmatched bidders' best/second-best profits (single-
    object bidders take second = best - 9999999, the relative form of
    auction.cpp:40's default), bid price+best-second+eps on the best
    object (ties by object id), each object accepts the highest bid
    (ties by bidder id), price rises to the bid, previous owner is
    revoked. Arithmetic written in the identical order as the Spark
    Columns so double results are bit-equal; output is (src, dst) only.
    Rounds past convergence are no-ops."""
    ctes = [
        f"edges AS MATERIALIZED ({EDGES})",
        "w AS MATERIALIZED (SELECT src, dst, max(val) AS w FROM edges GROUP BY src, dst)",
        "price0 AS (SELECT DISTINCT dst, CAST(0.0 AS DOUBLE) AS price FROM w)",
        "m0 AS (SELECT CAST(NULL AS BIGINT) AS src, CAST(NULL AS BIGINT) AS dst WHERE FALSE)",
    ]
    for k in range(rounds):
        ctes.append(
            f"""prof{k} AS (
          SELECT e.src, e.dst, p.price, e.w - p.price AS profit,
                 row_number() OVER (PARTITION BY e.src
                                    ORDER BY e.w - p.price DESC, e.dst) AS rn
          FROM w e JOIN price{k} p ON p.dst = e.dst
          WHERE e.src NOT IN (SELECT src FROM m{k} WHERE src IS NOT NULL))"""
        )
        ctes.append(
            f"""p2_{k} AS (
          SELECT src, max(profit) AS p2 FROM prof{k} WHERE rn > 1 GROUP BY src)"""
        )
        ctes.append(
            f"""bid{k} AS (
          SELECT b.src, b.dst,
                 b.price + b.profit
                   - coalesce(p2.p2, b.profit - 9999999.0) + {eps!r} AS bid
          FROM prof{k} b LEFT JOIN p2_{k} p2 ON p2.src = b.src
          WHERE b.rn = 1)"""
        )
        ctes.append(
            f"""win{k} AS MATERIALIZED (
          SELECT src, dst, bid FROM (
            SELECT src, dst, bid,
                   row_number() OVER (PARTITION BY dst
                                      ORDER BY bid DESC, src) AS wr
            FROM bid{k}) WHERE wr = 1)"""
        )
        ctes.append(
            f"""price{k+1} AS MATERIALIZED (
          SELECT p.dst, coalesce(x.bid, p.price) AS price
          FROM price{k} p LEFT JOIN win{k} x ON x.dst = p.dst)"""
        )
        ctes.append(
            f"""m{k+1} AS MATERIALIZED (
          SELECT src, dst FROM m{k}
          WHERE dst NOT IN (SELECT dst FROM win{k})
          UNION ALL SELECT src, dst FROM win{k})"""
        )
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT src, dst FROM m{rounds}")


def _mis_sql(rounds: int = MIS_ROUNDS, seed: int = 42,
             edges_sql: str | None = None) -> str:
    """DuckDB twin of algorithms.mis.maximal_independent_set: unrolled
    Luby rounds with the same md5("seed:round:id") priorities; a round
    past convergence has an empty candidate set and is a no-op.
    ``edges_sql`` overrides the edge CTE (the filtered_mis twin passes
    the semantically filtered graph, FilteredMIS.cpp analogue)."""
    ctes = [
        f"edges AS MATERIALIZED ({edges_sql or EDGES})",
        # loop-free neighbor view (self-loops ignored, mirroring mis.py);
        # cand0 keeps loop-only vertices — they are isolated in sym and
        # win round 0
        "sym AS MATERIALIZED (SELECT src, dst FROM "
        "(SELECT src, dst FROM edges UNION SELECT dst, src FROM edges) WHERE src <> dst)",
        "cand0 AS (SELECT DISTINCT id FROM "
        "(SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges))",
    ]
    wins = []
    for k in range(rounds):
        ctes.append(
            f"pri{k} AS (SELECT id, md5('{seed}:{k}:' || CAST(id AS VARCHAR)) AS p "
            f"FROM cand{k})"
        )
        ctes.append(
            f"""nm{k} AS (
          SELECT e.dst AS id, min(ps.p) AS np
          FROM sym e
          JOIN pri{k} ps ON ps.id = e.src
          JOIN pri{k} pd ON pd.id = e.dst
          GROUP BY e.dst)"""
        )
        ctes.append(
            f"""win{k} AS MATERIALIZED (
          SELECT p.id FROM pri{k} p LEFT JOIN nm{k} n ON n.id = p.id
          WHERE n.np IS NULL OR p.p < n.np)"""
        )
        wins.append(f"SELECT id FROM win{k}")
        if k < rounds - 1:
            ctes.append(
                f"""cand{k+1} AS MATERIALIZED (
          SELECT id FROM cand{k}
          WHERE id NOT IN (SELECT id FROM win{k})
            AND id NOT IN (SELECT e.dst FROM sym e
                           JOIN win{k} w ON w.id = e.src))"""
            )
    return "WITH " + ",\n".join(ctes) + "\n" + " UNION ALL ".join(wins)


def _maximal_matching_ctes(rounds: int = BPM_ROUNDS) -> tuple[list, str]:
    """CTE chain for the unrolled greedy maximal matching (shared by
    the maximal oracle and the maximum-matching oracle's init stage).
    Returns (ctes, final_cte_name); assumes an ``edges`` CTE exists."""
    ctes = [
        """live1 AS (
          SELECT src, dst,
                 md5(CAST(src AS VARCHAR) || ':' || CAST(dst AS VARCHAR)) AS h
          FROM (SELECT DISTINCT src, dst FROM edges))""",
    ]
    for k in range(1, rounds + 1):
        ctes.append(
            f"""g{k} AS MATERIALIZED (
          SELECT arg_min(src, h) AS src, dst FROM (
            SELECT src, arg_min(dst, h) AS dst, min(h) AS h
            FROM live{k} GROUP BY src)
          GROUP BY dst)"""
        )
        ctes.append(
            f"m{k} AS ({'SELECT src, dst FROM g1' if k == 1 else f'SELECT src, dst FROM m{k-1} UNION ALL SELECT src, dst FROM g{k}'})"
        )
        if k < rounds:
            ctes.append(
                f"""live{k+1} AS MATERIALIZED (
          SELECT src, dst, h FROM live{k}
          WHERE src NOT IN (SELECT src FROM g{k})
            AND dst NOT IN (SELECT dst FROM g{k}))"""
            )
    return ctes, f"m{rounds}"


def _bipartite_matching_sql(rounds: int = BPM_ROUNDS) -> str:
    """DuckDB twin of algorithms.matching.bipartite_maximal_matching:
    unrolled propose (arg-min-priority dst per live src) / grant
    (arg-min-priority src per proposed dst) / commit rounds, with the
    same md5 edge priorities. Extra rounds past convergence are empty
    no-ops, so any bound >= the actual round count is exact."""
    ctes, final = _maximal_matching_ctes(rounds)
    ctes = [f"edges AS MATERIALIZED ({EDGES})"] + ctes
    return "WITH " + ",\n".join(ctes) + f"\nSELECT src, dst FROM {final}"


def _maximum_matching_ctes(phases: int = MAXM_PHASES, depth: int = MAXM_DEPTH,
                           init_rounds: int = BPM_ROUNDS) -> tuple[list, str]:
    """DuckDB twin of algorithms.matching.bipartite_maximum_matching:
    the unrolled greedy init, then ``phases`` unrolled augmenting
    phases. Per phase p (matching mm{p-1}):

      roots: unmatched rows; alternating BFS levels t=1,3,..,depth —
      d{p}_{t} = columns first reached (parent = min adjacent frontier
      row, root via arg_min), frontier f{p}_{t+1} = their matched rows;
      endpoints = reached FREE columns; chosen = per root the min
      (lvl, dst); walk-back CTEs re-trace parents, collecting add
      (parent edges) / remove (matched edges) sets; mm{p} applies the
      flip. Phases/levels past convergence are empty no-ops, so the
      unroll bound only needs to be >= the converged counts
      (engine runs the SAME bounded phase/depth parameters).
    Returns (ctes, final_matching_cte); needs no pre-existing CTEs."""
    ctes, init_final = _maximal_matching_ctes(init_rounds)
    ctes = [f"edges AS MATERIALIZED ({EDGES})",
            "ed AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges)"] + ctes
    ctes.append(f"mm0 AS MATERIALIZED (SELECT src, dst FROM {init_final})")
    n_walk = (depth + 1) // 2
    for p in range(1, phases + 1):
        prev = f"mm{p-1}"
        ctes.append(
            f"""f{p}_0 AS (
          SELECT src AS id, src AS root FROM (SELECT DISTINCT src FROM ed)
          WHERE src NOT IN (SELECT src FROM {prev}))""")
        vis_terms = []
        d_names = []
        for t in range(1, depth + 1, 2):
            not_vis = (f"AND e.dst NOT IN (SELECT dst FROM vis{p}_{t-2})"
                       if vis_terms else "")
            ctes.append(
                f"""d{p}_{t} AS MATERIALIZED (
          SELECT e.dst, min(f.id) AS psrc, arg_min(f.root, f.id) AS root,
                 {t} AS lvl
          FROM ed e JOIN f{p}_{t-1} f ON f.id = e.src
          WHERE TRUE {not_vis}
          GROUP BY e.dst)""")
            d_names.append(f"d{p}_{t}")
            vis_terms.append(f"SELECT dst FROM d{p}_{t}")
            ctes.append(f"vis{p}_{t} AS ({' UNION ALL '.join(vis_terms)})")
            if t + 2 <= depth:
                ctes.append(
                    f"""f{p}_{t+1} AS MATERIALIZED (
          SELECT m.src AS id, d.root
          FROM d{p}_{t} d JOIN {prev} m ON m.dst = d.dst)""")
        ctes.append(
            f"""pd{p} AS ({' UNION ALL '.join(f'SELECT dst, psrc, root, lvl FROM {d}' for d in d_names)})""")
        ctes.append(
            f"""chosen{p} AS MATERIALIZED (
          SELECT root, dst, lvl FROM (
            SELECT root, dst, lvl,
                   row_number() OVER (PARTITION BY root ORDER BY lvl, dst) AS rn
            FROM pd{p} WHERE dst NOT IN (SELECT dst FROM {prev}))
          WHERE rn = 1)""")
        add_terms, rem_terms = [], []
        ctes.append(f"w{p}_0 AS (SELECT root, dst FROM chosen{p})")
        for j in range(n_walk):
            ctes.append(
                f"""wp{p}_{j} AS MATERIALIZED (
          SELECT w.root, w.dst, p.psrc, p.lvl
          FROM w{p}_{j} w JOIN pd{p} p ON p.dst = w.dst)""")
            add_terms.append(f"SELECT psrc AS src, dst FROM wp{p}_{j}")
            ctes.append(
                f"""bk{p}_{j} AS MATERIALIZED (
          SELECT s.root, s.psrc, m.dst AS mdst
          FROM wp{p}_{j} s JOIN {prev} m ON m.src = s.psrc
          WHERE s.lvl > 1)""")
            rem_terms.append(f"SELECT psrc AS src, mdst AS dst FROM bk{p}_{j}")
            if j + 1 < n_walk:
                ctes.append(
                    f"w{p}_{j+1} AS (SELECT root, mdst AS dst FROM bk{p}_{j})")
        ctes.append(f"adds{p} AS ({' UNION ALL '.join(add_terms)})")
        ctes.append(f"rems{p} AS ({' UNION ALL '.join(rem_terms)})")
        ctes.append(
            f"""mm{p} AS MATERIALIZED (
          SELECT src, dst FROM {prev} m
          WHERE NOT EXISTS (SELECT 1 FROM rems{p} r
                            WHERE r.src = m.src AND r.dst = m.dst)
          UNION ALL SELECT src, dst FROM adds{p})""")
    return ctes, f"mm{phases}"


def _maximum_matching_sql(phases: int = MAXM_PHASES,
                          depth: int = MAXM_DEPTH) -> str:
    ctes, final = _maximum_matching_ctes(phases, depth)
    return "WITH " + ",\n".join(ctes) + f"\nSELECT src, dst FROM {final}"


def _awpm_sql(rounds: int = 4, phases: int = MAXM_PHASES,
              depth: int = MAXM_DEPTH) -> str:
    """DuckDB twin of algorithms.matching.approx_weight_perfect_matching
    at a FIXED round count: maximum-cardinality unroll, then ``rounds``
    unrolled locally-dominant 2-flip rounds. Every round is fully
    deterministic (gain desc / partner-id asc tie-breaks; events-graph
    weights are integer counts, so gains compare exactly in IEEE)."""
    ctes, mm_final = _maximum_matching_ctes(phases, depth)
    ctes.append("wt AS MATERIALIZED (SELECT src, dst, max(val) AS w "
                "FROM edges GROUP BY src, dst)")
    ctes.append(
        f"""a0 AS MATERIALIZED (
          SELECT m.src, m.dst, wt.w FROM {mm_final} m
          JOIN wt ON wt.src = m.src AND wt.dst = m.dst)""")
    for r in range(1, rounds + 1):
        p = f"a{r-1}"
        ctes.append(
            f"""cand{r} AS MATERIALIZED (
          SELECT mi.i, mi.mi, mi.wi, ej.j, ej.mj, ej.wj,
                 ei.w_imj, er.w_jmi,
                 ei.w_imj + er.w_jmi - mi.wi - ej.wj AS gain
          FROM (SELECT src AS i, dst AS mj, w AS w_imj FROM wt) ei
          JOIN (SELECT src AS i, dst AS mi, w AS wi FROM {p}) mi
            ON mi.i = ei.i
          JOIN (SELECT src AS j, dst AS mj, w AS wj FROM {p}) ej
            ON ej.mj = ei.mj
          JOIN (SELECT src AS j, dst AS mi, w AS w_jmi FROM wt) er
            ON er.j = ej.j AND er.mi = mi.mi
          WHERE mi.i <> ej.j
            AND ei.w_imj + er.w_jmi - mi.wi - ej.wj > 1e-12)""")
        ctes.append(
            f"""bi{r} AS (SELECT i, j FROM (
          SELECT i, j, row_number() OVER (
            PARTITION BY i ORDER BY gain DESC, j) AS rn FROM cand{r})
          WHERE rn = 1)""")
        ctes.append(
            f"""bj{r} AS (SELECT i, j FROM (
          SELECT i, j, row_number() OVER (
            PARTITION BY j ORDER BY gain DESC, i) AS rn FROM cand{r})
          WHERE rn = 1)""")
        ctes.append(
            f"""sw{r} AS MATERIALIZED (
          SELECT c.* FROM cand{r} c
          JOIN bi{r} ON bi{r}.i = c.i AND bi{r}.j = c.j
          JOIN bj{r} ON bj{r}.i = c.i AND bj{r}.j = c.j
          WHERE c.i < c.j)""")
        ctes.append(
            f"""a{r} AS MATERIALIZED (
          SELECT src, dst, w FROM {p} m
          WHERE NOT EXISTS (SELECT 1 FROM sw{r} s
                            WHERE (s.i = m.src AND s.mi = m.dst)
                               OR (s.j = m.src AND s.mj = m.dst))
          UNION ALL SELECT i, mj, w_imj FROM sw{r}
          UNION ALL SELECT j, mi, w_jmi FROM sw{r})""")
    return "WITH " + ",\n".join(ctes) + f"\nSELECT src, dst FROM a{rounds}"


def _betweenness_sql(n_roots: int = BC_ROOTS, depth: int = BC_DEPTH) -> str:
    """DuckDB twin of the batched Brandes pass: unrolled level-
    synchronous BFS with path counting (sigma), then the dependency
    recurrence delta[v] = sum_{w in succ(v)} sigma_v/sigma_w *
    (1 + delta_w) evaluated from the deepest level up. Node levels
    partition per root, so each delta is fully determined one level
    above — no iteration needed once unrolled."""
    ctes = [
        f"edges AS MATERIALIZED ({EDGES})",
        "verts AS MATERIALIZED (SELECT DISTINCT id FROM "
        "(SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges))",
        "psym AS MATERIALIZED (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges)",
        f"""l0 AS (
          SELECT gs AS root, gs AS id, 1.0 AS sigma
          FROM (SELECT unnest(generate_series(0, {n_roots - 1})) AS gs))""",
        "cum0 AS (SELECT root, id FROM l0)",
    ]
    for k in range(1, depth + 1):
        ctes.append(
            f"""l{k} AS MATERIALIZED (
          SELECT w.root, s.dst AS id, sum(w.sigma) AS sigma
          FROM l{k-1} w JOIN psym s ON s.src = w.id
          WHERE NOT EXISTS (
            SELECT 1 FROM cum{k-1} c WHERE c.root = w.root AND c.id = s.dst)
          GROUP BY w.root, s.dst)"""
        )
        ctes.append(
            f"cum{k} AS MATERIALIZED (SELECT root, id FROM cum{k-1} "
            f"UNION ALL SELECT root, id FROM l{k})"
        )
    # backward: delta at the deepest unrolled level is 0 by construction
    ctes.append(f"d{depth} AS (SELECT root, id, sigma, 0.0 AS delta FROM l{depth})")
    for k in range(depth - 1, 0, -1):
        ctes.append(
            f"""d{k} AS MATERIALIZED (
          SELECT p.root, p.id, p.sigma,
                 coalesce(sum(p.sigma / wd.sigma * (1 + wd.delta)), 0.0) AS delta
          FROM l{k} p
          LEFT JOIN psym e ON e.src = p.id
          LEFT JOIN d{k+1} wd ON wd.root = p.root AND wd.id = e.dst
          GROUP BY p.root, p.id, p.sigma)"""
        )
    acc = " UNION ALL ".join(
        f"SELECT root, id, delta FROM d{k}" for k in range(1, depth + 1))
    return f"""WITH {','.join(ctes)},
        acc AS ({acc}),
        bcv AS (SELECT id, sum(delta) AS bc FROM acc WHERE id <> root GROUP BY id)
        SELECT v.id, floor((coalesce(b.bc, 0.0) / 2.0) * 1e6 + 0.5) / 1e6 AS bc
        FROM verts v LEFT JOIN bcv b ON b.id = v.id"""


def _simhash_sql(bits: int = 32, max_hamming: int = 3) -> str:
    """DuckDB twin of functions.dedup.simhash_near_dups: token hash =
    first 15 hex digits of md5 as a 60-bit int; bit b of that value is
    bit (b%4) of the hex nibble at char position 15 - b//4."""
    slice_bits = bits // 4
    mask = (1 << slice_bits) - 1
    return f"""WITH toks AS (
          SELECT doc_id AS id,
                 unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                    x -> x <> '')) AS t
          FROM documents),
        th AS (SELECT id, md5(t) AS m FROM toks),
        perbit AS (
          SELECT id, b,
                 sum(CASE WHEN ((strpos('0123456789abcdef', substr(m, CAST(15 - b // 4 AS INT), 1)) - 1)
                                >> CAST(b % 4 AS INT)) & 1 = 1
                          THEN 1 ELSE -1 END) AS tot
          FROM th, (SELECT unnest(generate_series(0, {bits - 1})) AS b)
          GROUP BY id, b),
        sh AS (
          SELECT id, sum(CASE WHEN tot > 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INT))
                              ELSE 0 END) AS simhash
          FROM perbit GROUP BY id),
        bands AS (
          SELECT id, simhash, s.band,
                 (simhash >> CAST(s.band * {slice_bits} AS INT)) & {mask} AS key
          FROM sh, (SELECT unnest(generate_series(0, 3)) AS band) s),
        cand AS (
          SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                 a.simhash AS sa, b.simhash AS sb
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.key = b.key AND a.id < b.id)
        SELECT id_a, id_b, bit_count(xor(sa, sb)) AS hamming
        FROM cand WHERE bit_count(xor(sa, sb)) <= {max_hamming}"""


def _lsh_bucket_terms(seed: int, n_planes: int, dim: int, vec: str = "e") -> str:
    """SQL bucket expression embedding the SAME seeded hyperplanes the
    engine uses (similarity.lsh_planes — pure function of the seed)."""
    from combblas_spark.functions.similarity import lsh_planes

    planes = lsh_planes(seed, n_planes, dim)
    return " + ".join(
        f"(CASE WHEN list_dot_product({vec}, {list(map(float, planes[p]))}) > 0 "
        f"THEN {1 << p} ELSE 0 END)"
        for p in range(n_planes)
    )


def _lsh_pairs_ctes(n_tables: int, n_planes: int, seed: int, dim: int,
                    cap: int | None, src: str = "v") -> str:
    """Shared CTE chain: (tbl, bucket) assignments per table -> optional
    md5-ordered per-bucket cap -> distinct candidate pairs (id_a < id_b).
    Mirrors similarity.lsh_candidate_pairs exactly."""
    tabs = ",\n".join(
        f"tb{t} AS (SELECT id, {t} AS tbl, "
        f"{_lsh_bucket_terms(seed + t, n_planes, dim)} AS bucket FROM {src})"
        for t in range(n_tables)
    )
    union = " UNION ALL ".join(f"SELECT * FROM tb{t}" for t in range(n_tables))
    capped = (
        f"""capped AS (
          SELECT id, tbl, bucket FROM tb
          QUALIFY row_number() OVER (
            PARTITION BY tbl, bucket
            ORDER BY md5(CAST(id AS VARCHAR)), id) <= {cap})"""
        if cap is not None
        else "capped AS (SELECT id, tbl, bucket FROM tb)"
    )
    return f"""{tabs},
        tb AS ({union}),
        {capped},
        pairs AS (
          SELECT DISTINCT a.id AS id_a, c.id AS id_b
          FROM capped a JOIN capped c
            ON a.tbl = c.tbl AND a.bucket = c.bucket AND a.id < c.id)"""


def _lsh_topk_sql(k: int = 3, n_tables: int = 4, n_planes: int = 6,
                  seed: int = 42, dim: int = 64, cap: int | None = 16) -> str:
    """DuckDB twin of functions.similarity.lsh_topk (multi-table)."""
    return f"""WITH v AS (
          SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        {_lsh_pairs_ctes(n_tables, n_planes, seed, dim, cap)},
        directed AS (
          SELECT id_a AS query_id, id_b AS neighbor_id FROM pairs
          UNION ALL
          SELECT id_b, id_a FROM pairs)
        SELECT query_id, neighbor_id, floor((cos) * 1e6 + 0.5) / 1e6 AS cos FROM (
          SELECT d.query_id, d.neighbor_id,
                 list_dot_product(q.e, c.e)
                   / (sqrt(list_dot_product(q.e, q.e))
                      * sqrt(list_dot_product(c.e, c.e))) AS cos
          FROM directed d
          JOIN v q ON q.id = d.query_id
          JOIN v c ON c.id = d.neighbor_id)
        QUALIFY row_number() OVER (
          PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) <= {k}"""


def _duck_cos(a: str, b: str) -> str:
    return (f"list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
            f" * sqrt(list_dot_product({b}, {b})))")


def _ivf_quantizer_ctes(nc: int, iters: int) -> list[str]:
    """Shared DuckDB unroll of similarity.ivf_centroids_and_assignments
    (md5-sampled init, ``iters`` Lloyd iterations with 6dp-rounded
    assignment cosine + 6dp-rounded mean updates, empty cells keep the
    previous centroid): emits emb / cent{0..iters} and the FINAL
    assignment CTE ``af(id, cid)``. Used by _ivf_topk_sql and
    _semdedup_sql."""
    ctes = [
        """emb AS MATERIALIZED (
          SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)""",
        f"""cent0 AS MATERIALIZED (
          SELECT rn - 1 AS cid, list_transform(e, x -> floor((x) * 1e6 + 0.5) / 1e6) AS cv
          FROM (SELECT id, e, row_number() OVER (
                  ORDER BY md5(CAST(id AS VARCHAR)), id) AS rn FROM emb)
          WHERE rn <= {nc})""",
        """expl AS MATERIALIZED (
          SELECT id, generate_subscripts(e, 1) AS pos, unnest(e) AS x FROM emb)""",
    ]
    assign = (
        "SELECT id, cid FROM ("
        "  SELECT v.id, c.cid, row_number() OVER ("
        f"    PARTITION BY v.id ORDER BY floor(({_duck_cos('v.e', 'c.cv')}) * 1e6 + 0.5) / 1e6 DESC,"
        "     c.cid) AS rn"
        "  FROM emb v, cent{t} c) WHERE rn = 1"
    )
    for t in range(iters):
        ctes.append(f"a{t} AS MATERIALIZED ({assign.format(t=t)})")
        ctes.append(
            f"""comp{t} AS (
          SELECT a.cid, u.pos, floor((avg(u.x)) * 1e6 + 0.5) / 1e6 AS m
          FROM a{t} a JOIN expl u ON u.id = a.id
          GROUP BY a.cid, u.pos)"""
        )
        ctes.append(
            f"newc{t} AS (SELECT cid, list(m ORDER BY pos) AS nv FROM comp{t} GROUP BY cid)"
        )
        ctes.append(
            f"""cent{t+1} AS MATERIALIZED (
          SELECT c.cid, coalesce(n.nv, c.cv) AS cv
          FROM cent{t} c LEFT JOIN newc{t} n ON n.cid = c.cid)"""
        )
    ctes.append(f"af AS MATERIALIZED ({assign.format(t=iters)})")
    return ctes


def _ivf_topk_sql(k: int = IVF_K, nc: int = IVF_NC, iters: int = IVF_ITERS,
                  nprobe: int = IVF_NPROBE, cap: int = IVF_CAP) -> str:
    """DuckDB twin of functions.similarity.ivf_topk: md5-sampled init,
    ``iters`` unrolled Lloyd iterations (assignment on 6dp-rounded
    cosine, ties by cid; centroid update = per-component mean rounded
    6dp; empty cells keep the previous centroid), final assignment vs
    the final quantizer, per-list md5 cap, nprobe probes, exact cosine
    within probed lists, top-k."""
    _cos = _duck_cos
    ctes = _ivf_quantizer_ctes(nc, iters)
    ctes.append(
        f"""lists AS (
          SELECT id, cid FROM af
          QUALIFY row_number() OVER (
            PARTITION BY cid ORDER BY md5(CAST(id AS VARCHAR)), id) <= {cap})"""
    )
    ctes.append(
        f"""probes AS (
          SELECT id AS query_id, cid FROM (
            SELECT v.id, c.cid, row_number() OVER (
              PARTITION BY v.id ORDER BY floor(({_cos('v.e', 'c.cv')}) * 1e6 + 0.5) / 1e6 DESC,
              c.cid) AS rn
            FROM emb v, cent{iters} c) WHERE rn <= {nprobe})"""
    )
    ctes.append(
        """cands AS (
          SELECT DISTINCT p.query_id, l.id AS neighbor_id
          FROM probes p JOIN lists l ON l.cid = p.cid
          WHERE l.id <> p.query_id)"""
    )
    return ("WITH " + ",\n".join(ctes) + f"""
        SELECT query_id, neighbor_id, floor((cos) * 1e6 + 0.5) / 1e6 AS cos FROM (
          SELECT d.query_id, d.neighbor_id, {_cos('q.e', 'c.e')} AS cos
          FROM cands d
          JOIN emb q ON q.id = d.query_id
          JOIN emb c ON c.id = d.neighbor_id)
        QUALIFY row_number() OVER (
          PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) <= {k}""")


def _semdedup_sql(threshold: float = SEMDEDUP_T, nc: int = IVF_NC,
                  iters: int = IVF_ITERS) -> str:
    """DuckDB twin of q_semdedup: the shared quantizer unroll
    (_ivf_quantizer_ctes) then the in-cluster keep-lowest-id rule on
    6dp-rounded cosine."""
    ctes = _ivf_quantizer_ctes(nc, iters)
    ctes.append(
        "m AS (SELECT e.id, e.e, a.cid FROM emb e JOIN af a ON a.id = e.id)")
    ctes.append(
        f"""dups AS (
          SELECT DISTINCT b.id FROM m a JOIN m b ON a.cid = b.cid AND a.id < b.id
          WHERE floor(({_duck_cos('a.e', 'b.e')}) * 1e6 + 0.5) / 1e6 >= {threshold})"""
    )
    return ("WITH " + ",\n".join(ctes) + """
        SELECT a.id, a.cid, (d.id IS NULL) AS kept
        FROM af a LEFT JOIN dups d ON d.id = a.id""")


def _ppr_batch_sql(iters: int = PR_ITERS, alpha: float = ALPHA,
                   nseeds: int = PPR_SEEDS) -> str:
    """DuckDB twin of q_ppr_batch: one namespaced single-seed
    personalized-PageRank chain per seed (seed b = the b-th smallest
    vertex id with id % 7 == 0), UNION ALL of the final ranks. The
    EXISTS guard drops chains whose seed doesn't exist at small scales
    (sf0.001 has only 3 ids matching the rule) — the Spark side adapts
    by collecting the same rule-derived list."""
    ctes = [
        f"edges AS MATERIALIZED ({EDGES})",
        "verts AS MATERIALIZED (SELECT DISTINCT id FROM "
        "(SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges))",
        "outdeg AS MATERIALIZED (SELECT src AS id, count(*) AS deg "
        "FROM edges GROUP BY src)",
        "srcs AS MATERIALIZED (SELECT DISTINCT src FROM edges)",
        "seedlist AS MATERIALIZED (SELECT id, row_number() OVER (ORDER BY id) "
        f"AS rn FROM verts WHERE id % 7 = 0 QUALIFY rn <= {nseeds})",
    ]
    for b in range(1, nseeds + 1):
        p = f"s{b}"
        ctes.append(
            f"{p}tp AS MATERIALIZED (SELECT v.id, CASE WHEN v.id = "
            f"(SELECT id FROM seedlist WHERE rn = {b}) THEN 1.0 ELSE 0.0 END "
            f"AS tp FROM verts v)")
        ctes.append(f"{p}r0 AS MATERIALIZED (SELECT id, tp AS pr FROM {p}tp)")
        # every rank CTE is MATERIALIZED: r{k} references r{k-1} twice
        # (dangling sum + inflow join); left inlined, DuckDB re-expands
        # the whole chain per reference -> exponential replay (measured
        # 217 s for 4 chains x 10 iters on 15 vertices; 0.2 s materialized)
        for k in range(1, iters + 1):
            prev = f"{p}r{k-1}"
            ctes.append(
                f"{p}d{k} AS MATERIALIZED (SELECT coalesce(sum(pr), 0.0) AS dm FROM {prev} "
                f"WHERE id NOT IN (SELECT src FROM srcs))")
            ctes.append(
                f"""{p}r{k} AS MATERIALIZED (
  SELECT t.id,
         (1.0 - {alpha}) * t.tp + {alpha} * (coalesce(inf.s, 0.0) + {p}d{k}.dm * t.tp) AS pr
  FROM {p}tp t CROSS JOIN {p}d{k}
  LEFT JOIN (
    SELECT e.dst AS id, sum((1.0 / o.deg) * r.pr) AS s
    FROM edges e JOIN {prev} r ON e.src = r.id JOIN outdeg o ON o.id = e.src
    GROUP BY e.dst
  ) inf ON inf.id = t.id
)""")
    selects = [
        f"SELECT id, (SELECT id FROM seedlist WHERE rn = {b}) AS seed, "
        f"floor((pr) * 1e6 + 0.5) / 1e6 AS \"rank\" FROM s{b}r{iters} "
        f"WHERE EXISTS (SELECT 1 FROM seedlist WHERE rn = {b})"
        for b in range(1, nseeds + 1)
    ]
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


def _media_features_sql(n: int = 200, seed: int = 42) -> str:
    """DuckDB twin of q_media_features (metadata columns of the stubbed
    decode): payload = sha256(seed:i) bytes repeated (1 + i%4) times,
    dims from md5 of the payload HEX (hex of concatenated bytes == the
    hex strings concatenated, so the payload never needs blob ops),
    n_frames = 1 for images else 1 + payload_len % 32."""
    return f"""WITH ids AS (SELECT unnest(generate_series(0, {n - 1})) AS i),
        m AS (
          SELECT i AS media_id,
                 CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                            ELSE 'video' END AS kind,
                 md5(repeat(sha256('{seed}:' || CAST(i AS VARCHAR)),
                            1 + i % 4)) AS hx,
                 32 * (1 + i % 4) AS plen
          FROM ids)
        SELECT media_id, kind,
               CAST(16 + (('0x' || substr(hx, 1, 2))::INT % 64) AS INT) AS width,
               CAST(16 + (('0x' || substr(hx, 3, 2))::INT % 64) AS INT) AS height,
               CAST(CASE WHEN kind = 'image' THEN 1
                         ELSE 1 + plen % 32 END AS INT) AS n_frames
        FROM m"""


def _embedding_neardups_lsh_sql(threshold: float = 0.2, n_tables: int = 4,
                                n_planes: int = 6, seed: int = 42,
                                dim: int = 64, max_id: int = 400) -> str:
    """DuckDB twin of embedding_near_dups(use_lsh=True)."""
    return f"""WITH v AS (
          SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings WHERE vec_id < {max_id}),
        {_lsh_pairs_ctes(n_tables, n_planes, seed, dim, None)}
        SELECT id_a, id_b, cos FROM (
          SELECT p.id_a, p.id_b,
                 floor((list_dot_product(a.e, b.e)
                       / (sqrt(list_dot_product(a.e, a.e))
                          * sqrt(list_dot_product(b.e, b.e)))) * 1e6 + 0.5) / 1e6 AS cos
          FROM pairs p JOIN v a ON a.id = p.id_a JOIN v b ON b.id = p.id_b)
        WHERE cos >= {threshold}"""


# ------------------------------------------- round-4 continuation-3 additions

COCIT_MIN_WEIGHT = 2
COUPLING_MAX_INDEG = 20   # super-cited-target suppression (hub indegs
                          # in the RMAT-300 page graph reach 92)
DECON_K = 3               # decontamination word-shingle width
DECON_MIN_OVERLAP = 2


def _page_edges(spark) -> DataFrame:
    """(src, dst) URL-string page link graph from the seeded pages
    fixture — the natural co-citation substrate (the events graph is
    degree-uniform at gate scale, so its co-citation is all-or-nothing;
    the RMAT page graph has the hub skew the operators exist for)."""
    from combblas_spark.sources.pages import extract_link_edges, generate_pages

    pages = generate_pages(spark, n_pages=PAGES_N)
    return extract_link_edges(pages).select(
        F.col("src_url").alias("src"), F.col("dst_url").alias("dst"))


def q_cocitation(spark, sf):
    """Co-citation similarity (Small 1973): page pairs cited together
    by >= 2 distinct pages — the off-diagonal upper triangle of A^T A
    on the boolean pattern, min-weight pruned after the partial+final
    aggregate. Out-degree is bounded by the fixture (4 links/page), so
    no citer cap is needed here; the cap path is exercised by
    bib_coupling and the unit tests."""
    from combblas_spark.algorithms.linkanalysis import cocitation

    return cocitation(_page_edges(spark), min_weight=COCIT_MIN_WEIGHT)


def q_bib_coupling(spark, sf):
    """Bibliographic coupling (Kessler 1963): page pairs citing >= 2
    common targets, super-cited targets (distinct indeg > 20)
    suppressed BEFORE the quadratic pair expansion — the off-diagonal
    upper triangle of A A^T with pre-join degree capping."""
    from combblas_spark.algorithms.linkanalysis import bibliographic_coupling

    return bibliographic_coupling(_page_edges(spark),
                                  min_weight=COCIT_MIN_WEIGHT,
                                  max_degree=COUPLING_MAX_INDEG)


def _page_edge_set(n_pages: int = PAGES_N, n_sites: int = 10,
                   out_links: int = 4, seed: int = 42) -> set:
    """Distinct (src_url, dst_url) page links re-derived from the
    seeded RMAT rule in numpy — independent of the Spark pipeline under
    test (same independence argument as _host_graph_sql)."""
    import numpy as np

    from combblas_spark.sources.pages import _url
    from combblas_spark.sources.rmat import rmat_pandas

    scale = max(1, (n_pages - 1).bit_length())
    eids = np.arange(n_pages * out_links, dtype=np.int64)
    _, dsts = rmat_pandas(eids, scale, seed)
    dsts = (dsts % n_pages).reshape(n_pages, out_links)
    edges = set()
    for i in range(n_pages):
        for j in dsts[i]:
            j = int(j)
            if j != i:  # generator drops self page-links
                edges.add((_url(i, n_sites), _url(j, n_sites)))
    return edges


def _pair_counts_values_sql(key_idx: int, item_idx: int,
                            min_weight: int, max_degree) -> str:
    """Expected co-citation / coupling output as a VALUES literal from
    the numpy-derived page edge set (URL-string vertex identities;
    id_a < id_b is byte-order on ASCII URLs in both engines)."""
    from collections import Counter, defaultdict

    groups: dict = defaultdict(set)
    for e in _page_edge_set():
        groups[e[key_idx]].add(e[item_idx])
    cnt: Counter = Counter()
    for items in groups.values():
        if max_degree is not None and len(items) > max_degree:
            continue
        s = sorted(items)
        for x in range(len(s)):
            for y in range(x + 1, len(s)):
                cnt[(s[x], s[y])] += 1
    rows = ", ".join(
        f"('{a}','{b}',{c})"
        for (a, b), c in sorted(cnt.items()) if c >= min_weight
    )
    return (
        "SELECT id_a, id_b, CAST(weight AS BIGINT) AS weight "
        f"FROM (VALUES {rows}) AS t(id_a, id_b, weight)"
    )


def _cocitation_sql() -> str:
    return _pair_counts_values_sql(0, 1, COCIT_MIN_WEIGHT, None)


def _bib_coupling_sql() -> str:
    return _pair_counts_values_sql(1, 0, COCIT_MIN_WEIGHT, COUPLING_MAX_INDEG)


def q_neighbor_jaccard(spark, sf):
    """Structural-equivalence Jaccard over shared out-links of the page
    graph (coupling counts normalized by the union of out-neighbor
    sets): one integer division — bit-portable. Same hub cap as
    bib_coupling (super-cited targets suppressed pre-join)."""
    from combblas_spark.algorithms.linkanalysis import neighbor_jaccard

    return neighbor_jaccard(_page_edges(spark),
                            min_common=COCIT_MIN_WEIGHT,
                            max_degree=COUPLING_MAX_INDEG,
                            direction="out")


def _neighbor_jaccard_sql() -> str:
    """Twin of q_neighbor_jaccard: pair/degree INTEGERS from the
    independent numpy derivation of the page edge set (same
    independence argument as _pair_counts_values_sql); the one division
    and its 6dp rounding are left to the engine so both sides run the
    identical float op."""
    from collections import Counter, defaultdict

    groups: dict = defaultdict(set)
    outdeg: Counter = Counter()
    for src, dst in _page_edge_set():
        groups[dst].add(src)
        outdeg[src] += 1  # _page_edge_set is distinct pairs already
    cnt: Counter = Counter()
    for items in groups.values():
        if len(items) > COUPLING_MAX_INDEG:
            continue
        s = sorted(items)
        for x in range(len(s)):
            for y in range(x + 1, len(s)):
                cnt[(s[x], s[y])] += 1
    rows = ", ".join(
        f"('{a}','{b}',{c},{outdeg[a]},{outdeg[b]})"
        for (a, b), c in sorted(cnt.items()) if c >= COCIT_MIN_WEIGHT
    )
    return (
        "SELECT id_a, id_b, CAST(common AS BIGINT) AS common, "
        "floor((common * 1.0 / (da + db - common)) * 1e6 + 0.5) / 1e6 AS jaccard "
        f"FROM (VALUES {rows}) AS t(id_a, id_b, common, da, db)"
    )


BLOOM_WORDS = 8
BLOOM_K = 3


def q_bloom_decon(spark, sf):
    """Bloom-filter decontamination fast path: a 504-bit filter over
    the benchmark slice's fingerprints (doc_id % 17 == 0), probed by
    every doc — bloom_hit (no false negatives, documented FP rate)
    next to the exact membership flag. At scale the filter broadcasts
    as 8 longs; the exact join runs only on bloom hits."""
    from combblas_spark.functions.sketch import bloom_build, bloom_contains
    from combblas_spark.functions.text import fingerprint

    docs = _docs(spark, sf)
    fps = docs.select(F.col("doc_id").alias("id"),
                      fingerprint(F.col("text")).alias("fp"))
    bench = fps.where(F.col("id") % 17 == 0).select(F.col("fp").alias("v"))
    bloom = bloom_build(bench, m_words=BLOOM_WORDS, k=BLOOM_K)
    probed = bloom_contains(fps, "fp", bloom, m_words=BLOOM_WORDS, k=BLOOM_K)
    exact = bench.select(F.col("v").alias("fp")).distinct() \
        .withColumn("exact_hit", F.lit(True))
    return (
        probed.join(exact, "fp", "left")
        .select("id", "bloom_hit",
                F.coalesce("exact_hit", F.lit(False)).alias("exact_hit"))
    )


def _bloom_decon_sql(m_words: int = BLOOM_WORDS, k: int = BLOOM_K) -> str:
    """Twin of q_bloom_decon: same md5 bit positions, same bit_or
    words, same probe bool_and."""
    m_bits = m_words * 63
    return f"""WITH fps AS (
  SELECT doc_id AS id,
         md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
  FROM documents),
bench AS (SELECT fp FROM fps WHERE id % 17 = 0),
bpos AS (
  SELECT (('0x' || substr(md5(j || ':' || fp), 1, 8))::BIGINT % {m_bits})
           AS pos
  FROM bench, unnest(generate_series(0, {k - 1})) t(j)),
bloom AS (
  SELECT pos // 63 AS word_idx,
         bit_or((1::BIGINT) << CAST(pos % 63 AS INT)) AS bits
  FROM bpos GROUP BY pos // 63),
probe AS (
  SELECT f.id, f.fp,
         (('0x' || substr(md5(j || ':' || f.fp), 1, 8))::BIGINT % {m_bits})
           AS pos
  FROM fps f, unnest(generate_series(0, {k - 1})) t(j)),
hits AS (
  SELECT p.id, p.fp,
         min(CASE WHEN (coalesce(b.bits, 0) &
               ((1::BIGINT) << CAST(p.pos % 63 AS INT))) <> 0
             THEN 1 ELSE 0 END) AS allhit
  FROM probe p LEFT JOIN bloom b ON b.word_idx = p.pos // 63
  GROUP BY p.id, p.fp)
SELECT h.id, h.allhit = 1 AS bloom_hit,
       (e.fp IS NOT NULL) AS exact_hit
FROM hits h LEFT JOIN (SELECT DISTINCT fp FROM bench) e ON e.fp = h.fp"""


def q_decontaminate(spark, sf):
    """Benchmark decontamination: corpus docs (doc_id % 17 != 0)
    sharing >= 2 distinct word-3-grams with the held-out benchmark
    slice (doc_id % 17 == 0) are flagged. The benchmark collapses to
    its distinct shingle set before the join (broadcast-sized next to
    any real corpus) — never a corpus self-join."""
    from combblas_spark.functions.dedup import decontaminate

    docs = _docs(spark, sf)
    bench = docs.where(F.col("doc_id") % 17 == 0)
    corpus = docs.where(F.col("doc_id") % 17 != 0)
    return decontaminate(corpus, bench, shingle_k=DECON_K,
                         min_overlap=DECON_MIN_OVERLAP)


def _decontaminate_sql() -> str:
    """Twin of q_decontaminate: same shd shingle construction as
    _PREFIX_BASE (distinct word-3-grams per doc)."""
    return f"""WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
shd AS (
  SELECT DISTINCT doc_id AS id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
  FROM words, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS t(i)
  WHERE len(w) >= 3
),
bsh AS (SELECT DISTINCT sh FROM shd WHERE id % 17 = 0),
hits AS (
  SELECT s.id, count(*) AS n_hits
  FROM shd s JOIN bsh USING (sh)
  WHERE s.id % 17 <> 0
  GROUP BY s.id
)
SELECT d.doc_id AS id, coalesce(h.n_hits, 0) AS n_hits,
       coalesce(h.n_hits, 0) >= {DECON_MIN_OVERLAP} AS contaminated
FROM documents d LEFT JOIN hits h ON h.id = d.doc_id
WHERE d.doc_id % 17 <> 0"""


GREEDY_MOD_ROUNDS = 2


def q_greedy_modularity(spark, sf):
    """Synchronous greedy-modularity moves (one Louvain local-move
    phase, 2 sweeps) on the thinned events graph — gain scores are
    integer moments combined with identical IEEE double ops, so winner
    selection is bit-portable."""
    from combblas_spark.algorithms.labelprop import greedy_modularity

    return greedy_modularity(_thin_edges(events_graph(spark, sf)),
                             n_rounds=GREEDY_MOD_ROUNDS)


def q_community_graph(spark, sf):
    """Louvain aggregation phase: contract the greedy-modularity
    communities of the thinned events graph into a super-vertex graph —
    (c_a, c_b, weight) with internal-edge diagonal rows (the multi-level
    coarsening step; Galerkin R A R^T on the 0/1 membership)."""
    from combblas_spark.algorithms.labelprop import (
        community_graph, greedy_modularity)

    g = _thin_edges(events_graph(spark, sf))
    return community_graph(g, greedy_modularity(g, n_rounds=GREEDY_MOD_ROUNDS))


def _community_graph_sql(rounds: int = GREEDY_MOD_ROUNDS) -> str:
    """Twin of q_community_graph: the greedy-modularity CTE chain, then
    the contraction groupBy over the src<dst half of sym."""
    ctes = _greedy_modularity_ctes(rounds)
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT least(la.c, lb.c) AS c_a, greatest(la.c, lb.c) AS c_b,
       count(*) AS weight
FROM (SELECT src, dst FROM sym WHERE src < dst) lo
JOIN lab{rounds} la ON la.id = lo.src
JOIN lab{rounds} lb ON lb.id = lo.dst
GROUP BY 1, 2""")


def _greedy_modularity_sql(rounds: int = GREEDY_MOD_ROUNDS) -> str:
    ctes = _greedy_modularity_ctes(rounds)
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT id, c AS community FROM lab{rounds}")


def _greedy_modularity_ctes(rounds: int = GREEDY_MOD_ROUNDS) -> list[str]:
    """Unrolled synchronous greedy-modularity sweeps as a CTE chain —
    same k_{i,C}/Sigma_tot moments, same (2m*k - deg*(st - own_deg))
    double composition, same (score DESC, cc ASC) winner order and
    strict-improvement move rule. Shared by _greedy_modularity_sql and
    _community_graph_sql so the unroll rule lives in ONE place."""
    score = ("CAST(2 * mm.m AS DOUBLE) * CAST({k} AS DOUBLE)"
             " - CAST(d.deg AS DOUBLE) * CAST({st} AS DOUBLE)")
    ctes = [
        f"edges AS (SELECT * FROM ({EDGES}) WHERE {_THIN_PRED})",
        "fwd AS (SELECT src, dst FROM edges WHERE src <> dst)",
        "sym AS MATERIALIZED (SELECT DISTINCT src, dst FROM "
        "(SELECT src, dst FROM fwd UNION ALL SELECT dst, src FROM fwd))",
        "mm AS (SELECT count(*) // 2 AS m FROM sym)",
        "deg AS (SELECT src AS id, count(*) AS deg FROM sym GROUP BY src)",
        "lab0 AS (SELECT DISTINCT src AS id, src AS c FROM sym)",
    ]
    for r in range(rounds):
        cand_score = score.format(
            k="kin.k",
            st="t.st - CASE WHEN kin.cc = l.c THEN d.deg ELSE 0 END")
        stay_score = score.format(k="coalesce(k.k, 0)", st="t.st - d.deg")
        ctes += [
            f"kin{r} AS MATERIALIZED (SELECT s.src AS id, l.c AS cc, count(*) AS k"
            f" FROM sym s JOIN lab{r} l ON l.id = s.dst GROUP BY s.src, l.c)",
            f"tot{r} AS (SELECT l.c AS cc, sum(d.deg) AS st"
            f" FROM lab{r} l JOIN deg d ON d.id = l.id GROUP BY l.c)",
            f"cand{r} AS (SELECT kin.id, kin.cc, {cand_score} AS score"
            f" FROM kin{r} kin JOIN tot{r} t ON t.cc = kin.cc"
            f" JOIN deg d ON d.id = kin.id JOIN lab{r} l ON l.id = kin.id, mm)",
            f"win{r} AS (SELECT id, cc AS wc, score AS ws FROM"
            f" (SELECT id, cc, score, row_number() OVER"
            f" (PARTITION BY id ORDER BY score DESC, cc ASC) AS rn"
            f" FROM cand{r}) WHERE rn = 1)",
            f"stay{r} AS (SELECT l.id, {stay_score} AS ss"
            f" FROM lab{r} l JOIN deg d ON d.id = l.id"
            f" JOIN tot{r} t ON t.cc = l.c"
            f" LEFT JOIN kin{r} k ON k.id = l.id AND k.cc = l.c, mm)",
            f"lab{r + 1} AS MATERIALIZED (SELECT l.id,"
            f" CASE WHEN w.ws > s.ss THEN w.wc ELSE l.c END AS c"
            f" FROM lab{r} l LEFT JOIN stay{r} s ON s.id = l.id"
            f" LEFT JOIN win{r} w ON w.id = l.id)",
        ]
    return ctes


LOUVAIN_LEVELS = 2


def q_louvain(spark, sf):
    """Multi-level Louvain (2 levels x 2 sweeps) on the thinned events
    graph: local moves, weighted contraction (inter-community weights +
    internal self-loops), level-2 moves over whole communities, labels
    composed. Integer moments -> bit-portable winner selection."""
    from combblas_spark.algorithms.labelprop import louvain

    return louvain(_thin_edges(events_graph(spark, sf)),
                   n_levels=LOUVAIN_LEVELS, n_rounds=GREEDY_MOD_ROUNDS)


def q_louvain_weighted(spark, sf):
    """Weighted multi-level Louvain on the thinned events MULTIGRAPH:
    level-1 weights are the parallel-edge multiplicities (val), so
    heavily-repeated links pull harder than single links."""
    from combblas_spark.algorithms.labelprop import louvain

    return louvain(_thin_edges(events_graph(spark, sf)),
                   n_levels=LOUVAIN_LEVELS, n_rounds=GREEDY_MOD_ROUNDS,
                   weighted=True)


def _louvain_sql(levels: int = LOUVAIN_LEVELS,
                 rounds: int = GREEDY_MOD_ROUNDS,
                 weighted: bool = False) -> str:
    """Twin of q_louvain / q_louvain_weighted: the weighted local-phase
    chain unrolled per level with the SAME score composition as
    _greedy_modularity_ctes, plus the contraction CTEs (symmetric
    inter-community sum(w), /2 internal weight + prior loops) and the
    final label composition. ``weighted`` switches ONLY the level-1
    construction: undirected weight = summed val over both directions
    (the multigraph multiplicity) instead of 1 per distinct pair."""
    score = ("CAST(2 * mm.m AS DOUBLE) * CAST({k} AS DOUBLE)"
             " - CAST(d.deg AS DOUBLE) * CAST({st} AS DOUBLE)")
    if weighted:
        sym1 = (
            "und AS (SELECT least(src, dst) AS a, greatest(src, dst) AS b,"
            " CAST(sum(val) AS BIGINT) AS w FROM edges WHERE src <> dst"
            " GROUP BY a, b),"
            " sym1 AS MATERIALIZED (SELECT a AS src, b AS dst, w FROM und"
            " UNION ALL SELECT b, a, w FROM und)")
    else:
        sym1 = (
            "fwd AS (SELECT src, dst FROM edges WHERE src <> dst),"
            " sym1 AS MATERIALIZED (SELECT src, dst, 1::BIGINT AS w FROM"
            " (SELECT DISTINCT src, dst FROM"
            " (SELECT src, dst FROM fwd UNION ALL SELECT dst, src FROM fwd)))")
    ctes = [
        f"edges AS (SELECT * FROM ({EDGES}) WHERE {_THIN_PRED})",
        sym1,
        # 2m is GLOBAL (contraction preserves total weight): level-1 sum
        "mm AS (SELECT CAST(sum(w) / 2 AS BIGINT) AS m FROM sym1)",
        "lp1 AS (SELECT DISTINCT src AS id, 0::BIGINT AS lw FROM sym1)",
    ]
    for L in range(1, levels + 1):
        ctes += [
            f"deg{L} AS MATERIALIZED (SELECT s.src AS id,"
            f" CAST(sum(s.w) + 2 * coalesce(p.lw, 0) AS BIGINT) AS deg"
            f" FROM sym{L} s LEFT JOIN lp{L} p ON p.id = s.src"
            f" GROUP BY s.src, p.lw)",
            f"lab{L}_0 AS (SELECT DISTINCT src AS id, src AS c FROM sym{L})",
        ]
        for r in range(rounds):
            cand_score = score.format(
                k="kin.k",
                st="t.st - CASE WHEN kin.cc = l.c THEN d.deg ELSE 0 END")
            stay_score = score.format(k="coalesce(k.k, 0)", st="t.st - d.deg")
            ctes += [
                f"kin{L}_{r} AS MATERIALIZED (SELECT s.src AS id, l.c AS cc,"
                f" CAST(sum(s.w) AS BIGINT) AS k FROM sym{L} s"
                f" JOIN lab{L}_{r} l ON l.id = s.dst GROUP BY s.src, l.c)",
                f"tot{L}_{r} AS (SELECT l.c AS cc, sum(d.deg) AS st"
                f" FROM lab{L}_{r} l JOIN deg{L} d ON d.id = l.id GROUP BY l.c)",
                f"cand{L}_{r} AS (SELECT kin.id, kin.cc, {cand_score} AS score"
                f" FROM kin{L}_{r} kin JOIN tot{L}_{r} t ON t.cc = kin.cc"
                f" JOIN deg{L} d ON d.id = kin.id"
                f" JOIN lab{L}_{r} l ON l.id = kin.id, mm)",
                f"win{L}_{r} AS (SELECT id, cc AS wc, score AS ws FROM"
                f" (SELECT id, cc, score, row_number() OVER"
                f" (PARTITION BY id ORDER BY score DESC, cc ASC) AS rn"
                f" FROM cand{L}_{r}) WHERE rn = 1)",
                f"stay{L}_{r} AS (SELECT l.id, {stay_score} AS ss"
                f" FROM lab{L}_{r} l JOIN deg{L} d ON d.id = l.id"
                f" JOIN tot{L}_{r} t ON t.cc = l.c"
                f" LEFT JOIN kin{L}_{r} k ON k.id = l.id AND k.cc = l.c, mm)",
                f"lab{L}_{r + 1} AS MATERIALIZED (SELECT l.id,"
                f" CASE WHEN w.ws > s.ss THEN w.wc ELSE l.c END AS c"
                f" FROM lab{L}_{r} l LEFT JOIN stay{L}_{r} s ON s.id = l.id"
                f" LEFT JOIN win{L}_{r} w ON w.id = l.id)",
            ]
        if L < levels:
            ctes += [
                f"con{L} AS MATERIALIZED (SELECT la.c AS ca, lb.c AS cb, s.w"
                f" FROM sym{L} s JOIN lab{L}_{rounds} la ON la.id = s.src"
                f" JOIN lab{L}_{rounds} lb ON lb.id = s.dst)",
                f"sym{L + 1} AS MATERIALIZED (SELECT ca AS src, cb AS dst,"
                f" CAST(sum(w) AS BIGINT) AS w FROM con{L}"
                f" WHERE ca <> cb GROUP BY ca, cb)",
                f"lp{L + 1} AS (SELECT coalesce(i.id, o.id) AS id,"
                f" CAST(coalesce(i.iw, 0) + coalesce(o.olw, 0) AS BIGINT) AS lw"
                f" FROM (SELECT ca AS id, CAST(sum(w) / 2 AS BIGINT) AS iw"
                f"       FROM con{L} WHERE ca = cb GROUP BY ca) i"
                f" FULL OUTER JOIN"
                # LEFT + coalesce-to-own-id mirrors _contract_weighted
                # (review r5: an all-internal community is absent from
                # sym/labels; inner-joining would drop its self-loop)
                f" (SELECT coalesce(l.c, p.id) AS id, sum(p.lw) AS olw"
                f"  FROM lp{L} p LEFT JOIN lab{L}_{rounds} l ON l.id = p.id"
                f"  GROUP BY coalesce(l.c, p.id)) o"
                f" ON o.id = i.id)",
            ]
    # label composition: lift each vertex's level-1 label through the
    # higher levels, keeping the current label where a level dropped it
    sel, frm = "m.c", f"lab1_{rounds} m"
    for L in range(2, levels + 1):
        frm += f" LEFT JOIN lab{L}_{rounds} l{L} ON l{L}.id = {sel}"
        sel = f"coalesce(l{L}.c, {sel})"
    final = f"SELECT m.id, {sel} AS community FROM {frm}"
    return "WITH " + ",\n".join(ctes) + "\n" + final


def q_modularity(spark, sf):
    """Newman modularity Q of the 2-round label-propagation partition
    on the undirected events graph — ONE row with the rounded score
    plus the exact integer moments (m, intra_edges, deg_sq_sum) it is
    assembled from."""
    from combblas_spark.algorithms.labelprop import modularity

    g = events_graph(spark, sf)
    labels = label_propagation(g, n_rounds=LP_ROUNDS)
    return modularity(g, labels)


def _modularity_sql(rounds: int = LP_ROUNDS) -> str:
    """Twin of q_modularity: the shared unrolled-labelprop CTE chain,
    then Q = intra/m - deg_sq/(4*m*m) with the same double-expression
    shape (left-assoc 4.0*m*m) as the Spark Columns."""
    ctes = _labelprop_ctes(rounds)
    ctes.append(f"lab AS (SELECT id, label FROM l{rounds})")
    ctes.append("mm AS (SELECT CAST(count(*) / 2 AS BIGINT) AS m FROM sym)")
    ctes.append(
        """intra AS (
  SELECT CAST(count(*) / 2 AS BIGINT) AS intra_edges
  FROM sym s JOIN lab a ON a.id = s.src JOIN lab b ON b.id = s.dst
  WHERE a.label IS NOT NULL AND a.label = b.label)"""
    )
    ctes.append(
        """degsq AS (
  SELECT CAST(coalesce(sum(d * d), 0) AS BIGINT) AS deg_sq_sum
  FROM (SELECT a.label, count(*) AS d
        FROM sym s JOIN lab a ON a.id = s.src
        WHERE a.label IS NOT NULL GROUP BY a.label))"""
    )
    return (
        "WITH " + ",\n".join(ctes)
        + """
SELECT CASE WHEN m > 0 THEN floor((
         CAST(intra_edges AS DOUBLE) / m
         - CAST(deg_sq_sum AS DOUBLE) / (4.0 * m * m)) * 1e6 + 0.5) / 1e6 END AS modularity,
       m, intra_edges, deg_sq_sum
FROM mm CROSS JOIN intra CROSS JOIN degsq"""
    )


# ------------------------------------------- round-4 continuation-4 additions

def _pii_docs(spark, sf):
    """Documents with deterministically injected PII (the fixture text
    is clean): id-keyed suffixes exercise every pattern class plus the
    staged-order case (an email whose host LOOKS like a dotted quad
    must count once, as an email). Same rule inlined in the oracle."""
    d = _docs(spark, sf)
    i = F.col("doc_id")
    return d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(i % 5 == 0,
                   F.concat(F.lit(" mail u"), i, F.lit("@ex.org ok")))
             .otherwise(F.lit("")),
            F.when(i % 7 == 0,
                   F.concat(F.lit(" ip 10."), i % 200, F.lit(".0.1 up")))
             .otherwise(F.lit("")),
            F.when(i % 11 == 0, F.lit(" id 123-45-6789 tail"))
             .otherwise(F.lit("")),
            F.when(i % 13 == 0, F.lit(" call 555-867-5309 now"))
             .otherwise(F.lit("")),
            F.when(i % 17 == 0, F.lit(" via x9@1.2.3.4q.com end"))
             .otherwise(F.lit("")),
        ).alias("text"),
    )


def q_pii_scrub(spark, sf):
    """PII detection + redaction (C4/Dolma-style scrub): per-doc counts
    of emails / IPv4 / SSN-shaped / phone-shaped matches and the
    placeholder-redacted text. Single codegen projection, no shuffle —
    the 100 TB cost is exactly one corpus scan."""
    from combblas_spark.functions.pii import pii_scrub

    return pii_scrub(_pii_docs(spark, sf))


def _pii_scrub_sql() -> str:
    from combblas_spark.functions.pii import PII_PATTERNS

    inject = """t0 AS (
  SELECT doc_id, text
    || CASE WHEN doc_id % 5 = 0 THEN ' mail u' || CAST(doc_id AS VARCHAR) || '@ex.org ok' ELSE '' END
    || CASE WHEN doc_id % 7 = 0 THEN ' ip 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.1 up' ELSE '' END
    || CASE WHEN doc_id % 11 = 0 THEN ' id 123-45-6789 tail' ELSE '' END
    || CASE WHEN doc_id % 13 = 0 THEN ' call 555-867-5309 now' ELSE '' END
    || CASE WHEN doc_id % 17 = 0 THEN ' via x9@1.2.3.4q.com end' ELSE '' END
    AS t
  FROM documents)"""
    ctes = [inject]
    kept = []
    for n, (name, pat, rep) in enumerate(PII_PATTERNS, 1):
        cols = ", ".join(f"n_{k}" for k in kept)
        cols = cols + ", " if cols else ""
        ctes.append(
            f"s{n} AS (SELECT doc_id, {cols}"
            f"len(regexp_extract_all(t, '{pat}')) AS n_{name}, "
            f"regexp_replace(t, '{pat}', '{rep}', 'g') AS t FROM s{n-1})"
            .replace("FROM s0", "FROM t0")
        )
        kept.append(name)
    total = " + ".join(f"n_{k}" for k in kept)
    final = ", ".join(f"n_{k}" for k in kept)
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT doc_id AS id, {final}, {total} AS n_pii, t AS clean_text"
        f" FROM s{len(PII_PATTERNS)}"
    )


TFCOS_MIN = 0.75
TFCOS_MIN_CAPPED = 0.3   # the cap strips high-df tokens, so cosines drop
TFCOS_MAX_DF = 40        # tokens in more docs than this are hubs: pruned


def q_tf_cosine(spark, sf):
    """Sparse TF-vector cosine similarity join (inverted-index
    term-at-a-time, the A^T A shape on the doc x token matrix) over the
    doc_id % 5 = 0 slice — integer dot/norm moments make the rounded
    cosine bit-portable. The df hub-cap path (token-space stopword
    suppression) is exercised by the unit tests; the fixture vocabulary
    is too dense for a meaningful cap here."""
    from combblas_spark.functions.similarity import tf_cosine_pairs

    docs = _docs(spark, sf).where(F.col("doc_id") % 5 == 0)
    return tf_cosine_pairs(docs, min_cos=TFCOS_MIN)


def q_tf_cosine_capped(spark, sf):
    """The df hub-cap path of tf_cosine (VERDICT r4 #7): tokens in more
    than TFCOS_MAX_DF docs are dropped BEFORE the inverted-index
    self-join — the 100-TB stopword suppression (one df=10^6 token
    alone contributes 5*10^11 pairs). Norms are over kept tokens only,
    so cos stays a true cosine in the pruned space; the cap changes
    both the pair set and the scores, and the SQL twin bakes in the
    identical cap."""
    from combblas_spark.functions.similarity import tf_cosine_pairs

    docs = _docs(spark, sf).where(F.col("doc_id") % 5 == 0)
    return tf_cosine_pairs(docs, min_cos=TFCOS_MIN_CAPPED,
                           max_df=TFCOS_MAX_DF)


def _tf_cosine_sql(max_df: int | None = None,
                   min_cos: float = TFCOS_MIN) -> str:
    df_filter = ""
    if max_df is not None:
        df_filter = f"""
tfdf AS (SELECT tok FROM tf GROUP BY tok HAVING count(*) <= {max_df}),
tfk AS (SELECT tf.* FROM tf JOIN tfdf USING (tok)),"""
    src = "tfk" if max_df is not None else "tf"
    return f"""WITH tf AS (
  SELECT doc_id AS id, tok, count(*) AS tf
  FROM (SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS tok
        FROM documents WHERE doc_id % 5 = 0)
  GROUP BY doc_id, tok),{df_filter}
norms AS (SELECT id, sum(tf*tf) AS n2 FROM {src} GROUP BY id),
dots AS (SELECT a.id AS id_a, b.id AS id_b, CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
         FROM {src} a JOIN {src} b ON a.tok = b.tok AND a.id < b.id
         GROUP BY a.id, b.id)
SELECT id_a, id_b, dot,
       floor((CAST(dot AS DOUBLE) / sqrt(CAST(na.n2 * nb.n2 AS DOUBLE))) * 1e6 + 0.5) / 1e6 AS cos
FROM dots JOIN norms na ON na.id = dots.id_a JOIN norms nb ON nb.id = dots.id_b
WHERE floor((CAST(dot AS DOUBLE) / sqrt(CAST(na.n2 * nb.n2 AS DOUBLE))) * 1e6 + 0.5) / 1e6 >= {min_cos}"""


def q_url_canonical(spark, sf):
    """URL canonicalization + duplicate grouping over deterministically
    messed-up spellings of the page-fixture URL rule: variant i%6 adds
    a fragment / utm param / explicit :443 / uppercased scheme+host /
    trailing slash (or nothing). Returns the per-URL canonical mapping
    PLUS the group stats columns joined back on — one projection + one
    hash aggregate, no Python."""
    from combblas_spark.functions.urls import canonicalize_url, url_dup_groups

    i = F.col("id")
    b = i % 50  # 6 page_ids share each base -> real variant groups
    base = F.concat(F.lit("https://site"), b % 10, F.lit(".example/p/"), b)
    raw = spark.range(PAGES_N).select(
        i.alias("page_id"),
        F.when(i % 6 == 1, F.concat(base, F.lit("#sec2")))
         .when(i % 6 == 2, F.concat(base, F.lit("?utm_source=feed")))
         .when(i % 6 == 3, F.concat(
             F.lit("https://site"), b % 10, F.lit(".example:443/p/"), b))
         .when(i % 6 == 4, F.concat(
             F.lit("HTTPS://Site"), b % 10, F.lit(".Example/p/"), b))
         .when(i % 6 == 5, F.concat(base, F.lit("/")))
         .otherwise(base).alias("url"),
    )
    groups = url_dup_groups(raw)
    return (
        raw.select("page_id", "url", canonicalize_url(F.col("url")).alias("canonical_url"))
        .join(groups, "canonical_url")
        .select("page_id", "url", "canonical_url", "n_variants", "rep_url")
    )


def _url_canonical_sql() -> str:
    """Independent DuckDB twin: same raw-variant rule from range(), the
    canonical rule expressed directly (the fixture variants never stack
    transformations, so each CASE arm maps straight to its base form)."""
    return f"""WITH raw AS (
  SELECT i AS page_id,
    CASE i % 6
      WHEN 1 THEN 'https://site' || (i % 50 % 10) || '.example/p/' || (i % 50) || '#sec2'
      WHEN 2 THEN 'https://site' || (i % 50 % 10) || '.example/p/' || (i % 50) || '?utm_source=feed'
      WHEN 3 THEN 'https://site' || (i % 50 % 10) || '.example:443/p/' || (i % 50)
      WHEN 4 THEN 'HTTPS://Site' || (i % 50 % 10) || '.Example/p/' || (i % 50)
      WHEN 5 THEN 'https://site' || (i % 50 % 10) || '.example/p/' || (i % 50) || '/'
      ELSE 'https://site' || (i % 50 % 10) || '.example/p/' || (i % 50)
    END AS url,
    'https://site' || (i % 50 % 10) || '.example/p/' || (i % 50) AS canonical_url
  FROM range({PAGES_N}) t(i)),
groups AS (
  SELECT canonical_url, count(DISTINCT url) AS n_variants, min(url) AS rep_url
  FROM raw GROUP BY canonical_url)
SELECT page_id, url, r.canonical_url, n_variants, rep_url
FROM raw r JOIN groups g ON g.canonical_url = r.canonical_url"""


SCC_DAG_MOD, SCC_DAG_KEEP = 100, 5


def q_scc_dag(spark, sf):
    """Condensation-DAG layering of the thinned events graph: collapse
    SCCs (Galerkin R A R^T on the 0/1 membership), then longest-path
    topological levels via the (max,+1) Bellman recurrence — per-SCC
    rows (scc, level, n_members); isolated components sit at level 0."""
    from combblas_spark.algorithms.scc import (
        condensation, condensation_levels, strongly_connected_components)

    g = events_graph(spark, sf)
    h = F.conv(F.substring(F.md5(F.concat_ws(":", F.col("src"), F.col("dst"))), 1, 8), 16, 10).cast("long")
    g = g.filter(h % SCC_DAG_MOD < SCC_DAG_KEEP)  # harsher thin than _thin_edges: the 20% graph is one giant SCC (level structure would be trivial)
    scc = strongly_connected_components(g)
    lev = condensation_levels(condensation(g, scc))
    sizes = scc.groupBy("scc").agg(F.count(F.lit(1)).alias("n_members"))
    return (
        sizes.join(lev, "scc", "left")
        .select("scc", F.coalesce("level", F.lit(0)).alias("level"),
                "n_members")
    )


def _scc_dag_pred() -> str:
    return (
        "('0x' || substr(md5(CAST(src AS VARCHAR) || ':' || CAST(dst AS VARCHAR)), 1, 8))::BIGINT"
        f" % {SCC_DAG_MOD} < {SCC_DAG_KEEP}"
    )


def _scc_dag_sql() -> str:
    """Twin: same closure-derived SCC labels as _scc_sql, condensation
    edges, then levels = max path depth per node over the recursive
    (node, depth) closure of the DAG (terminates: depth < #components;
    UNION dedups the pair space)."""
    return f"""WITH RECURSIVE edges AS (SELECT * FROM ({EDGES}) WHERE {_scc_dag_pred()}),
verts AS (SELECT DISTINCT id FROM (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)),
de AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
reach(a, b) AS (
  SELECT src AS a, dst AS b FROM de
  UNION
  SELECT r.a, e.dst AS b FROM reach r JOIN de e ON e.src = r.b
),
mutual AS (SELECT r1.a AS id, r1.b AS other FROM reach r1
           JOIN reach r2 ON r2.a = r1.b AND r2.b = r1.a),
lab AS (SELECT v.id, least(v.id, coalesce(min(m.other), v.id)) AS scc
        FROM verts v LEFT JOIN mutual m ON m.id = v.id GROUP BY v.id),
cde AS (SELECT DISTINCT la.scc AS s, lb.scc AS t
        FROM de JOIN lab la ON la.id = de.src JOIN lab lb ON lb.id = de.dst
        WHERE la.scc <> lb.scc),
paths(n, d) AS (
  SELECT scc AS n, 0 AS d FROM (SELECT DISTINCT scc FROM lab)
  UNION
  SELECT c.t, p.d + 1 FROM paths p JOIN cde c ON c.s = p.n
),
lv AS (SELECT n AS scc, max(d) AS level FROM paths GROUP BY n),
sizes AS (SELECT scc, count(*) AS n_members FROM lab GROUP BY scc)
SELECT s.scc, coalesce(l.level, 0) AS level, n_members
FROM sizes s LEFT JOIN lv l ON l.scc = s.scc"""


WSAMPLE_DIV = 80.0   # weight = n_tokens / 80, clamped to [0,1]
HOSTCAP_K = 10
HOSTCAP_GROUPS = 7


def q_weighted_sample(spark, sf):
    """Quality-proportional importance sampling (DCLM/FineWeb-style
    resampling): each document keeps with probability n_tokens/80
    (clamped), decided by a deterministic md5 counter hash — stable
    under corpus growth, identical across engines, and still a pure
    scan-level filter."""
    from combblas_spark.functions.sampling import weighted_sample
    from combblas_spark.functions.text import token_count

    d = _docs(spark, sf)
    w = token_count(F.col("text")) / WSAMPLE_DIV
    return weighted_sample(d, w, key_col="doc_id").select(
        "doc_id", _p6(F.least(F.greatest(w, F.lit(0.0)), F.lit(1.0)))
        .alias("weight"))


def _weighted_sample_sql() -> str:
    return f"""SELECT doc_id,
  floor((least(greatest(CAST(len(string_split(text, ' ')) AS DOUBLE) / {WSAMPLE_DIV}, 0.0), 1.0)) * 1e6 + 0.5) / 1e6 AS weight
FROM documents
WHERE CAST(('0x' || substr(md5('wsample:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS DOUBLE)
  < least(greatest(CAST(len(string_split(text, ' ')) AS DOUBLE) / {WSAMPLE_DIV}, 0.0), 1.0) * 4294967296.0"""


def q_path_rollup(spark, sf):
    """URL path-hierarchy rollup over deterministic 3-level site URLs:
    page counts per (host, path-prefix) subtree up to depth 3."""
    from combblas_spark.functions.urls import path_rollup

    i = F.col("id")
    raw = spark.range(PAGES_N).select(
        F.concat(F.lit("https://site"), i % 10, F.lit(".example/sec"),
                 i % 3, F.lit("/sub"), i % 7, F.lit("/page"), i).alias("url"))
    return path_rollup(raw, max_depth=3)


def _path_rollup_sql(n: int = PAGES_N) -> str:
    """Twin of q_path_rollup: same URL synthesis, same prefix fan-out
    (generate_series over segment counts) + groupBy."""
    return f"""WITH raw AS (
  SELECT 'https://site' || (i % 10) || '.example/sec' || (i % 3)
         || '/sub' || (i % 7) || '/page' || i AS url
  FROM range(0, {n}) t(i)),
parts AS (
  SELECT lower(regexp_extract(url,
           '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS host,
         list_filter(string_split(regexp_extract(url,
           '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(/[^?#]*)', 1), '/'),
           x -> x <> '') AS segs
  FROM raw),
pref AS (
  SELECT host, CAST(d AS BIGINT) AS depth,
         array_to_string(segs[1:CAST(d AS INT)], '/') AS prefix
  FROM (SELECT * FROM parts WHERE len(segs) >= 1),
       unnest(generate_series(1, least(len(segs), 3))) AS s(d))
SELECT host, depth, prefix, count(*) AS n_pages
FROM pref GROUP BY host, depth, prefix"""


def q_mirror_hosts(spark, sf):
    """Mirror-site detection over a deterministic 6-host fixture where
    content key i%55 recurs across hosts (gcd(55,6)=1 -> cross-host
    repeats): host pairs sharing >=2 identical page fingerprints."""
    from combblas_spark.functions.urls import mirror_hosts

    i = F.col("id")
    pages = spark.range(PAGES_N).select(
        F.concat(F.lit("https://site"), i % 6, F.lit(".example/p/"), i)
         .alias("url"),
        F.concat(F.lit("shared content block "), i % 55).alias("text"),
    )
    return mirror_hosts(pages, min_shared=2)


def _mirror_hosts_sql(n: int = PAGES_N, min_shared: int = 2,
                      max_df: int = 16) -> str:
    """Twin of q_mirror_hosts: same fixture, same fingerprint rule
    (md5 of normalized text), same df-capped pair join."""
    return f"""WITH pages AS (
  SELECT 'https://site' || (i % 6) || '.example/p/' || i AS url,
         'shared content block ' || (i % 55) AS text
  FROM range(0, {n}) t(i)),
hf AS (SELECT DISTINCT
         lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1))
           AS host,
         md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
       FROM pages),
nh AS (SELECT host, count(*) AS n FROM hf GROUP BY host),
rare AS (SELECT fp FROM (SELECT fp, count(*) AS df FROM hf GROUP BY fp)
         WHERE df <= {max_df}),
keyed AS (SELECT h.host, h.fp FROM hf h JOIN rare r ON r.fp = h.fp),
pairs AS (
  SELECT a.host AS host_a, b.host AS host_b, count(*)::BIGINT AS shared
  FROM keyed a JOIN keyed b ON b.fp = a.fp AND a.host < b.host
  GROUP BY a.host, b.host HAVING count(*) >= {min_shared})
SELECT p.host_a, p.host_b, p.shared,
       floor((CAST(p.shared AS DOUBLE) / CAST(least(na.n, nb.n) AS DOUBLE)) * 1e6 + 0.5) / 1e6
         AS frac
FROM pairs p JOIN nh na ON na.host = p.host_a
JOIN nh nb ON nb.host = p.host_b"""


def q_host_cap(spark, sf):
    """Per-host quota (C4-style head-domain suppression): at most
    {HOSTCAP_K} docs per synthetic host bucket, survivors = the k
    smallest by (md5 hash, id) so the subset is uniform-at-random yet
    partition-invariant and replayable."""
    from combblas_spark.functions.sampling import per_group_cap

    d = _docs(spark, sf).select(
        "doc_id",
        F.concat(F.lit("host"), F.col("doc_id") % HOSTCAP_GROUPS).alias("host"))
    return per_group_cap(d, "host", HOSTCAP_K, key_col="doc_id")


def _host_cap_sql() -> str:
    return f"""SELECT doc_id, 'host' || CAST(doc_id % {HOSTCAP_GROUPS} AS VARCHAR) AS host
FROM documents
QUALIFY row_number() OVER (
  PARTITION BY doc_id % {HOSTCAP_GROUPS}
  ORDER BY ('0x' || substr(md5('cap:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT, doc_id
) <= {HOSTCAP_K}"""


BOILER_MIN_DOCS = 3


def q_boilerplate(spark, sf):
    """Site-level boilerplate line removal (CCNet/RefinedWeb line
    dedup): synthetic per-host nav/footer lines wrapped around each
    fixture text must be stripped (they repeat across >= 3 docs of the
    host) while the body line survives unless the body itself repeats
    within the host. One explode + one hash agg + one anti-join; no
    corpus self-join."""
    from combblas_spark.functions.text import remove_boilerplate_lines

    d = _docs(spark, sf).select(
        "doc_id",
        F.concat(F.lit("host"), F.col("doc_id") % HOSTCAP_GROUPS).alias("host"),
        F.concat(
            F.lit("nav home about\n"),
            F.col("text"),
            F.lit("\ncopyright host"), F.col("doc_id") % HOSTCAP_GROUPS,
        ).alias("text"),
    )
    return remove_boilerplate_lines(d, group_col="host",
                                    min_docs=BOILER_MIN_DOCS)


def _boilerplate_sql() -> str:
    return f"""WITH d AS (
  SELECT doc_id AS id, doc_id % {HOSTCAP_GROUPS} AS g,
         'nav home about' || chr(10) || text || chr(10)
           || 'copyright host' || CAST(doc_id % {HOSTCAP_GROUPS} AS VARCHAR) AS t
  FROM documents),
lines AS (
  SELECT id, g, i AS pos, l[i] AS line
  FROM (SELECT id, g, string_split(t, chr(10)) AS l FROM d),
       unnest(generate_series(1, len(l))) AS u(i)),
boiler AS (
  SELECT g, line FROM lines GROUP BY g, line
  HAVING count(DISTINCT id) >= {BOILER_MIN_DOCS}),
kept AS (
  SELECT l.* FROM lines l ANTI JOIN boiler b ON b.g = l.g AND b.line = l.line),
rebuilt AS (
  SELECT id, string_agg(line, chr(10) ORDER BY pos) AS clean_text,
         count(*) AS nkept
  FROM kept GROUP BY id),
totals AS (SELECT id, count(*) AS ntot FROM lines GROUP BY id)
SELECT t.id, coalesce(r.clean_text, '') AS clean_text,
       t.ntot - coalesce(r.nkept, 0) AS n_removed
FROM totals t LEFT JOIN rebuilt r ON r.id = t.id"""


RICH_K = 24

_EMB_BASE = f"""edges AS (SELECT * FROM ({{edges}}) WHERE {{pred}}),
sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
L AS (SELECT src, dst FROM sym WHERE src < dst),
deg AS (SELECT id, count(*) AS d
        FROM (SELECT src AS id FROM L UNION ALL SELECT dst FROM L)
        GROUP BY id)"""


def q_edge_embeddedness(spark, sf):
    """Per-edge embeddedness on the thinned events graph: common
    neighbors (triangles through the edge), endpoint degrees, and the
    neighborhood Jaccard — integer moments + one rounded ratio."""
    from combblas_spark.algorithms.linkanalysis import edge_embeddedness

    return edge_embeddedness(_thin_edges(events_graph(spark, sf)))


def _edge_embeddedness_sql() -> str:
    base = _EMB_BASE.format(edges=EDGES, pred=_THIN_PRED)
    return f"""WITH {base},
cmn AS (
  SELECT e.src AS u, e.dst AS v, count(*) AS n_common
  FROM L e JOIN sym a ON a.src = e.src JOIN sym b ON b.src = e.dst AND b.dst = a.dst
  GROUP BY e.src, e.dst)
SELECT e.src AS u, e.dst AS v, coalesce(c.n_common, 0) AS n_common,
       du.d AS deg_u, dv.d AS deg_v,
       floor((CAST(coalesce(c.n_common, 0) AS DOUBLE)
             / (du.d + dv.d - coalesce(c.n_common, 0))) * 1e6 + 0.5) / 1e6 AS jaccard
FROM L e
LEFT JOIN cmn c ON c.u = e.src AND c.v = e.dst
JOIN deg du ON du.id = e.src
JOIN deg dv ON dv.id = e.dst"""


def q_rich_club(spark, sf):
    """Rich-club coefficient at k={RICH_K} (the ~p80 degree of the
    thinned graph): edge density among the high-degree club — one row
    of integer moments + the rounded phi."""
    from combblas_spark.algorithms.linkanalysis import rich_club

    return rich_club(_thin_edges(events_graph(spark, sf)), k=RICH_K)


def _rich_club_sql() -> str:
    base = _EMB_BASE.format(edges=EDGES, pred=_THIN_PRED)
    return f"""WITH {base},
rich AS (SELECT id FROM deg WHERE d > {RICH_K}),
er AS (SELECT count(*) AS e_rich FROM L
       WHERE src IN (SELECT id FROM rich) AND dst IN (SELECT id FROM rich)),
nr AS (SELECT count(*) AS n_rich FROM rich)
SELECT {RICH_K} AS k, n_rich, e_rich,
       floor((CASE WHEN n_rich >= 2
         THEN 2.0 * e_rich / (CAST(n_rich AS DOUBLE) * (n_rich - 1)) END) * 1e6 + 0.5) / 1e6 AS phi
FROM nr CROSS JOIN er"""


SESSION_GAP_S = 600


def q_sessionize(spark, sf):
    """Gap-based sessionization of the events stream (batch twin of
    session_window): per-user sessions split at >10-minute gaps, one
    shuffle on the user key + one reused per-partition sort for both
    windows. Gap math in integer microseconds — engine-exact."""
    from combblas_spark.functions.sessions import sessionize

    ev = spark.read.parquet(f"{sf}/events.parquet")
    return sessionize(ev, gap_seconds=SESSION_GAP_S)


def _sessionize_sql() -> str:
    gap_us = SESSION_GAP_S * 1_000_000
    return f"""WITH f AS (
  SELECT user_id, epoch_us(ts) AS us, event_id AS eid, value AS val,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {gap_us}
              THEN 1 ELSE 0 END AS new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
s AS (SELECT *, sum(new) OVER (PARTITION BY user_id ORDER BY us, eid
                               ROWS UNBOUNDED PRECEDING) AS sid FROM f)
SELECT user_id, min(us) AS session_start_us, count(*) AS n_events,
       min(eid) AS min_event_id, max(us) - min(us) AS duration_us,
       floor((sum(val)) * 1e6 + 0.5) / 1e6 AS sum_value
FROM s GROUP BY user_id, sid"""


# ------------------------------------------------------------------ round 4b
# per-vertex feature extraction, component structure, paragraph dedup,
# snapshot drift (algorithms/features.py, functions/text.py, graph.py)

def q_vertex_features(spark, sf):
    """Graph-feature-table capstone (algorithms/features.py): one wide
    row per vertex of the thinned events graph — directed degrees,
    undirected degree, triangles, wedges, local clustering, coreness,
    component id + size. Every constituent is an already-verified
    operator; this materializes their id-keyed join (the shape a GNN /
    spam-classifier training set consumes)."""
    from combblas_spark.algorithms.features import vertex_features

    return vertex_features(_thin_edges(events_graph(spark, sf)))


def _vertex_features_sql(iters: int = CORENESS_ITERS) -> str:
    ctes = [
        f"edges AS MATERIALIZED (SELECT * FROM ({EDGES}) WHERE {_THIN_PRED})",
        "de AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst)",
        """verts AS (SELECT DISTINCT id FROM
           (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges))""",
        "sym AS MATERIALIZED (SELECT src, dst FROM "
        "(SELECT src, dst FROM de UNION SELECT dst, src FROM de) WHERE src <> dst)",
        "outd AS (SELECT src AS id, count(*) AS out_deg FROM de GROUP BY src)",
        "ind AS (SELECT dst AS id, count(*) AS in_deg FROM de GROUP BY dst)",
        "L AS (SELECT src, dst FROM sym WHERE src < dst)",
        """ud AS (SELECT id, count(*) AS deg FROM
           (SELECT src AS id FROM L UNION ALL SELECT dst FROM L) GROUP BY id)""",
        """tri3 AS (SELECT ab.src AS a, ab.dst AS b, bc.dst AS c
           FROM L ab JOIN L bc ON ab.dst = bc.src
           JOIN L ac ON ac.src = ab.src AND ac.dst = bc.dst)""",
        """tv AS (SELECT id, count(*) AS tri FROM (
           SELECT a AS id FROM tri3
           UNION ALL SELECT b FROM tri3
           UNION ALL SELECT c FROM tri3) GROUP BY id)""",
        *_corechain_ctes(iters),
        """reach(id, r) AS (
           SELECT id, id FROM verts
           UNION
           SELECT re.id, s.dst FROM reach re JOIN sym s ON s.src = re.r)""",
        "comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id)",
        "cs AS (SELECT comp, count(*) AS comp_size FROM comp GROUP BY comp)",
    ]
    return (
        "WITH RECURSIVE " + ",\n".join(ctes)
        + f"""
SELECT v.id, coalesce(o.out_deg, 0) AS out_deg, coalesce(i.in_deg, 0) AS in_deg,
       coalesce(u.deg, 0) AS deg, coalesce(t.tri, 0) AS tri,
       CAST(coalesce(u.deg, 0) * (coalesce(u.deg, 0) - 1) / 2 AS BIGINT) AS wedges,
       CASE WHEN coalesce(u.deg, 0) > 1
            THEN floor((CAST(coalesce(t.tri, 0) AS DOUBLE)
                       / (u.deg * (u.deg - 1) / 2)) * 1e6 + 0.5) / 1e6 END AS local_cc,
       CAST(coalesce(k.core, 0) AS BIGINT) AS core, c.comp, cs.comp_size
FROM verts v
LEFT JOIN outd o ON o.id = v.id
LEFT JOIN ind i ON i.id = v.id
LEFT JOIN ud u ON u.id = v.id
LEFT JOIN tv t ON t.id = v.id
LEFT JOIN c{iters} k ON k.id = v.id
JOIN comp c ON c.id = v.id
JOIN cs ON cs.comp = c.comp"""
    )


CSIZE_MOD, CSIZE_KEEP = 100, 1  # undirected connectivity survives the 5%
                                # scc_dag thin at sf0.01 — 1% yields the
                                # giant + dust histogram worth testing


def q_component_sizes(spark, sf):
    """Connected-component size histogram on the 1%-thinned events
    graph (undirected connectivity is far more robust than strong
    connectivity — even the 5% scc_dag graph is one undirected
    component at sf0.01): (size, n_components) exact integers, the
    Broder-style crawl-structure summary (one giant + dust)."""
    from combblas_spark.algorithms.features import component_sizes

    g = events_graph(spark, sf)
    h = F.conv(F.substring(F.md5(F.concat_ws(":", F.col("src"), F.col("dst"))), 1, 8), 16, 10).cast("long")
    return component_sizes(g.filter(h % CSIZE_MOD < CSIZE_KEEP))


def _csize_pred() -> str:
    return (
        "('0x' || substr(md5(CAST(src AS VARCHAR) || ':' || CAST(dst AS VARCHAR)), 1, 8))::BIGINT"
        f" % {CSIZE_MOD} < {CSIZE_KEEP}"
    )


def _component_sizes_sql() -> str:
    return f"""WITH RECURSIVE edges AS (SELECT * FROM ({EDGES}) WHERE {_csize_pred()}),
verts AS (SELECT DISTINCT id FROM (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)),
sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
reach(id, r) AS (
  SELECT id, id FROM verts
  UNION
  SELECT re.id, s.dst FROM reach re JOIN sym s ON s.src = re.r),
comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
cs AS (SELECT comp, count(*) AS sz FROM comp GROUP BY comp)
SELECT sz AS size, count(*) AS n_components FROM cs GROUP BY sz"""


def q_paragraph_dedup(spark, sf):
    """Corpus-wide keep-first paragraph dedup (functions/text.py
    dedup_paragraphs — the Dolma paragraph pass): a syndicated intro
    shared by ALL docs and a quote block shared by each mod-7 class are
    wrapped around every fixture text; each must survive exactly once,
    at its smallest (doc_id, pos). One explode + one min-struct hash
    agg + one co-partitioned join; no window, no self-join."""
    from combblas_spark.functions.text import dedup_paragraphs

    d = _docs(spark, sf).select(
        "doc_id",
        F.concat(
            F.lit("breaking syndicated wire intro\n"),
            F.col("text"),
            F.lit("\nquote block "), F.col("doc_id") % 7,
        ).alias("text"),
    )
    return dedup_paragraphs(d)


def _paragraph_dedup_sql() -> str:
    return """WITH d AS (
  SELECT doc_id AS id,
         'breaking syndicated wire intro' || chr(10) || text || chr(10)
           || 'quote block ' || CAST(doc_id % 7 AS VARCHAR) AS t
  FROM documents),
paras AS (
  SELECT id, i AS pos, l[i] AS para
  FROM (SELECT id, string_split(t, chr(10)) AS l FROM d),
       unnest(generate_series(1, len(l))) AS u(i)),
kept AS (
  SELECT id, pos, para FROM (
    SELECT id, pos, para,
           row_number() OVER (PARTITION BY para ORDER BY id, pos) AS rn
    FROM paras) WHERE rn = 1),
rebuilt AS (
  SELECT id, string_agg(para, chr(10) ORDER BY pos) AS clean_text,
         count(*) AS nkept
  FROM kept GROUP BY id),
totals AS (SELECT id, count(*) AS ntot FROM paras GROUP BY id)
SELECT t.id, coalesce(r.clean_text, '') AS clean_text,
       t.ntot - coalesce(r.nkept, 0) AS n_removed
FROM totals t LEFT JOIN rebuilt r ON r.id = t.id"""


def q_degree_delta(spark, sf):
    """Crawl-snapshot degree drift: out-degrees of the events graph
    built from HALF the events (event_id parity = the deterministic
    'first crawl') vs the full graph, per vertex — the snapshot-diff
    primitive for monitoring link-graph growth between crawls. The
    vertex-id rule (nv from the FULL table) is shared so snapshot ids
    line up; both builds are the standard dedup-groupBy."""
    old = events_graph(spark, sf, pred=F.col("event_id") % 2 == 0)
    new = events_graph(spark, sf)
    do = old.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("deg_old"))
    dn = new.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("deg_new"))
    return dn.join(do, "id", "left").select(
        "id",
        F.coalesce("deg_old", F.lit(0)).alias("deg_old"),
        "deg_new",
        (F.col("deg_new") - F.coalesce("deg_old", F.lit(0))).alias("delta"),
    )


def _degree_delta_sql() -> str:
    old_e = events_graph_sql(with_val=False, pred="event_id % 2 = 0")
    new_e = events_graph_sql(with_val=False)
    return f"""WITH old_e AS ({old_e}), new_e AS ({new_e}),
do_ AS (SELECT src AS id, count(*) AS deg_old FROM old_e GROUP BY src),
dn AS (SELECT src AS id, count(*) AS deg_new FROM new_e GROUP BY src)
SELECT dn.id, coalesce(do_.deg_old, 0) AS deg_old, dn.deg_new,
       dn.deg_new - coalesce(do_.deg_old, 0) AS delta
FROM dn LEFT JOIN do_ ON do_.id = dn.id"""


PR_INC_OLD, PR_INC_NEW = 6, 3


def q_pagerank_incremental(spark, sf):
    """Incremental PageRank over a crawl delta (the snapshot companion
    of degree_delta, exercising pagerank's ``initial_ranks`` warm
    start): rank the parity-snapshot graph for 6 iterations, then
    warm-start the FULL graph from those ranks for only 3 more — the
    production crawl-refresh pattern where re-ranking from scratch at
    10^12 docs is the cost you're avoiding. New vertices seed
    uniformly; the seed renormalizes to sum 1 inside pagerank(). Fixed
    iteration counts keep the DuckDB oracle an exact two-chain
    unroll."""
    g_old = events_graph(spark, sf, pred=F.col("event_id") % 2 == 0)
    ranks_old = pagerank(g_old, alpha=ALPHA, n_iter=PR_INC_OLD)
    g_new = events_graph(spark, sf)
    r = pagerank(g_new, alpha=ALPHA, n_iter=PR_INC_NEW,
                 initial_ranks=ranks_old)
    return r.select("id", _p6("rank").alias("rank"))


def _pagerank_incremental_sql() -> str:
    old_e = events_graph_sql(with_val=False, pred="event_id % 2 = 0")
    ctes = (
        _pr_chain_ctes(PR_INC_OLD, ALPHA, old_e, prefix="o_")
        + _pr_chain_ctes(PR_INC_NEW, ALPHA, events_graph_sql(with_val=False),
                         prefix="n_", warm_from=f"o_r{PR_INC_OLD}")
    )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT id, floor((pr) * 1e6 + 0.5) / 1e6 AS \"rank\" FROM n_r{PR_INC_NEW}"
    )


RANK_DELTA_ITERS = 6


def q_rank_delta(spark, sf):
    """Trending pages: PageRank of the parity-snapshot crawl vs the
    full crawl, per-page rank movement (the 'what rose since the last
    crawl' query). Deltas are taken between ROUNDED ranks (the
    textrank lesson — full-precision ranks carry cross-engine
    summation-order ulps); pages new in this crawl count a 0.0 old
    rank."""
    g_old = events_graph(spark, sf, pred=F.col("event_id") % 2 == 0)
    r_old = pagerank(g_old, alpha=ALPHA, n_iter=RANK_DELTA_ITERS)
    g_new = events_graph(spark, sf)
    r_new = pagerank(g_new, alpha=ALPHA, n_iter=RANK_DELTA_ITERS)
    ro = _p6(F.coalesce("rank_old", F.lit(0.0)))
    rn = _p6("rank")
    return (
        r_new.join(r_old.select(F.col("id"),
                                F.col("rank").alias("rank_old")),
                   "id", "left")
        .select("id", ro.alias("rank_old"), rn.alias("rank_new"),
                _p6(rn - ro).alias("delta"))
    )


def _rank_delta_sql() -> str:
    """Twin of q_rank_delta: two namespaced _pr_chain_ctes unrolls +
    the same rounded-difference join."""
    old_e = events_graph_sql(with_val=False, pred="event_id % 2 = 0")
    ctes = (
        _pr_chain_ctes(RANK_DELTA_ITERS, ALPHA, old_e, prefix="o_")
        + _pr_chain_ctes(RANK_DELTA_ITERS, ALPHA,
                         events_graph_sql(with_val=False), prefix="n_")
    )
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT n.id, floor((coalesce(o.pr, 0.0::DOUBLE)) * 1e6 + 0.5) / 1e6 AS rank_old,
       floor((n.pr) * 1e6 + 0.5) / 1e6 AS rank_new,
       floor((floor((n.pr) * 1e6 + 0.5) / 1e6 - floor((coalesce(o.pr, 0.0::DOUBLE)) * 1e6 + 0.5) / 1e6) * 1e6 + 0.5) / 1e6
         AS delta
FROM n_r{RANK_DELTA_ITERS} n
LEFT JOIN o_r{RANK_DELTA_ITERS} o ON o.id = n.id"""
    )


def q_cc_incremental(spark, sf):
    """Incremental connected components over a grow-only crawl delta:
    FastSV warm-started (initial_labels=) from the parity-snapshot
    labeling. The result is EXACTLY the cold min-label components of
    the full graph (warm start changes convergence speed, never the
    fixpoint — components.py documents why grow-only deltas preserve
    the FastSV invariant), so the oracle is the standard recursive
    reach closure."""
    old = connected_components(
        events_graph(spark, sf, pred=F.col("event_id") % 2 == 0))
    g = events_graph(spark, sf)
    return connected_components(g, initial_labels=old).select("id", "comp")
