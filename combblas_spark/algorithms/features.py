"""Per-vertex graph feature extraction and component-size statistics.

The "graph feature table for ML" capstone: modern web/link pipelines
(spam classifiers, crawl prioritizers, GNN training sets) consume one
wide per-vertex feature row — degrees, triangle participation, local
clustering, coreness, component id and component size — rather than
calling six algorithms separately. ``vertex_features`` composes the
engine's existing operators into that table with ONE join chain, so
every constituent keeps its own verified scale shape (reference
parity: the constituent kernels are the CombBLAS primitives already
mapped in SURVEY §2 — Reduce for degrees, masked SpGEMM for triangles,
the h-index iteration for coreness (Lü et al. 2016), FastSV for
components; this module only materializes their join).

Portability contract (same as the other registry ops): every feature
except ``local_cc`` is an EXACT integer; ``local_cc`` is the one
rounded ratio (6dp) and is re-derivable from the integer moments
(tri, wedges) it rides next to.

Scale design (100 TB / 10^11-vertex graph):
- Each constituent is the already-audited plan (no new shuffles beyond
  its own); the final assembly is a chain of equi-joins on the dense
  vertex id — co-partitioned hash joins, no window, no collect.
- ``comp_size`` is a groupBy(comp) count joined back on comp: sizes of
  a power-law graph's components are few-distinct (one giant + dust),
  so the join broadcast-degenerates under AQE.
- The output is exactly the shape you'd write to a feature store:
  hash-partitioned by id, one row per vertex.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from combblas_spark.portable import pround

from combblas_spark.algorithms.components import connected_components
from combblas_spark.algorithms.kcore import core_numbers
from combblas_spark.algorithms.triangles import (lower_triangle, triangles_per_vertex,
                                                 undirected_degree)
from combblas_spark.graph import vertices


def component_sizes(edges: DataFrame) -> DataFrame:
    """Connected-component size histogram: (size, n_components) over
    the undirected view of ``edges`` — the Broder-style structure
    summary (one giant component + dust is THE diagnostic web-graph
    shape, and the first sanity check after any crawl ingest). Exact
    integers only.

    Scale: FastSV labels + two hash aggregates (comp -> size,
    size -> count); the histogram is tiny (distinct sizes grow
    ~log n), so everything after the label pass is cheap.
    """
    labels = connected_components(edges)
    return (
        labels.groupBy("comp").agg(F.count(F.lit(1)).alias("size"))
        .groupBy("size").agg(F.count(F.lit(1)).alias("n_components"))
    )


def vertex_features(edges: DataFrame) -> DataFrame:
    """One wide feature row per vertex of the directed graph:

      id, out_deg, in_deg   -- directed simple degrees (loops dropped,
                               parallel edges counted once)
      deg                   -- undirected simple degree
      tri                   -- triangles through the vertex
      wedges                -- deg*(deg-1)/2 (closed-wedge denominator)
      local_cc              -- round(tri/wedges, 6), NULL when wedges=0
      core                  -- coreness (h-index iteration fixpoint)
      comp                  -- component label (min member id)
      comp_size             -- size of that component

    The vertex set is every endpoint of ``edges`` — including a vertex
    whose only edges are self-loops (it gets a deg-0 row; loops count
    toward NO degree, the simple-graph convention shared by every
    constituent). All columns except local_cc are exact integers (see
    module docstring).
    """
    de = edges.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()
    out_deg = de.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("out_deg"))
    in_deg = de.groupBy(F.col("dst").alias("id")).agg(
        F.count(F.lit(1)).alias("in_deg"))
    # ONE canonical pattern (one dedup shuffle) shared by the undirected
    # degree and the triangle enumeration
    L = lower_triangle(edges).persist()
    und_deg = undirected_degree(L)
    tri = triangles_per_vertex(edges, lt=L).select("id", "tri")
    core = core_numbers(edges).select("id", "core")
    comp = connected_components(edges).select("id", "comp")
    csize = comp.groupBy("comp").agg(F.count(F.lit(1)).alias("comp_size"))
    wedges = (F.col("deg") * (F.col("deg") - 1) / 2).cast("long")
    out = (
        vertices(edges)
        .join(out_deg, "id", "left")
        .join(in_deg, "id", "left")
        .join(und_deg, "id", "left")
        .join(tri, "id", "left")
        .join(core, "id", "left")
        .join(comp, "id")
        .join(csize, "comp")
        .select(
            "id",
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
            F.coalesce("deg", F.lit(0)).alias("deg"),
            F.coalesce("tri", F.lit(0)).alias("tri"),
            F.coalesce(wedges, F.lit(0)).alias("wedges"),
            F.when(
                wedges > 0,
                pround(F.coalesce("tri", F.lit(0)).cast("double") / wedges),
            ).alias("local_cc"),
            F.coalesce("core", F.lit(0)).alias("core"),
            "comp",
            "comp_size",
        )
    )
    # materialize (it's a feature-table build, not a lazy view) so the
    # shared lower-triangle cache can be released before returning
    out = out.localCheckpoint(eager=True)
    L.unpersist()
    return out
