"""Sweep cut — the conductance profile over a score ordering.

The readout half of local graph clustering (Andersen, Chung & Lang,
FOCS 2006): given any per-vertex score (personalized PageRank, PIC
embedding, spam mass, ...), sort vertices by the DEGREE-NORMALIZED
score and evaluate every prefix S_t = {top t+1 vertices} as a cut:

    conductance(S_t) = cut(S_t) / min(vol(S_t), vol(G) - vol(S_t)),

where cut = edges crossing the prefix boundary and vol = sum of member
degrees. The minimum over t is the quality certificate the ACL theorem
is about; the full profile is the standard community-structure
diagnostic for a webgraph neighborhood.

Everything except the final division is INTEGER arithmetic:

- the order is (round(score,12)/deg) — a single IEEE division of
  identical inputs in both engines, so the sort keys are bit-equal;
  ties break on id (total order). 12dp, not the package's usual 6dp:
  the rounding only exists to absorb cross-engine summation-order ULPs
  (~1e-17 and below for probability-mass scores), and 6dp would ZERO
  typical personalized-PageRank mass on large graphs (most nonzero
  scores on a 10^7-vertex graph sit in 1e-7..1e-9), collapsing the ACL
  sweep order to plain id order (review r5);
- vol(t) is an inclusive prefix sum of integer degrees in that order;
- cut(t) uses the classic difference-array identity: an edge with
  prefix ranks ru < rv crosses the boundary for exactly t in
  [ru, rv), so cut(t) = prefixsum(starts - ends)(t) with one +1 at ru
  and one -1 at rv — integers again.

Scale shape: one zip_with_index (range-partitioned distributed sort —
no global window), two edge-to-rank equi-joins, per-rank hash aggs,
and ONE distributed prefix_sum over the fused (deg, starts-ends)
weights; the division is a narrow projection. Nothing is
vertex-quadratic and nothing single-partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from combblas_spark.portable import pround


def sweep_cut(
    edges: DataFrame,
    scores: DataFrame,
    score_col: str = "rank",
) -> DataFrame:
    """Returns (pos, id, deg, cut, vol, conductance): the sweep profile
    over the undirected simple graph underlying ``edges``, ordered by
    round(score,12)/deg descending (id tie-break). Rows cover
    0 <= pos <= n-2 (the full-set prefix has no complement); vertices
    missing from ``scores`` sweep last with score 0.

    Precondition: |score| < ~9.2e6. Scores are rounded at 12 decimals
    (``pround(.., 12)``), whose Spark/DuckDB agreement bound is
    |x| < 2^63 / 10^12; PageRank-style probability scores sit far
    inside it.
    """
    from combblas_spark.operators.indexing import prefix_sum, zip_with_index

    sym = (
        edges.select("src", "dst").where(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("u"),
                F.greatest("src", "dst").alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    dirs = sym.unionByName(
        sym.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = dirs.groupBy(F.col("u").alias("id")).agg(
        F.count(F.lit(1)).alias("deg"))
    sc = scores.select("id", pround(F.col(score_col), 12).alias("_sc"))
    keyed = (
        deg.join(sc, "id", "left")
        .select("id", "deg",
                (F.coalesce("_sc", F.lit(0.0)) / F.col("deg")).alias("_s"))
    )
    pos = zip_with_index(
        keyed, [F.col("_s").desc(), F.col("id").asc()], ["id", "deg"],
        pos_col="pos",
    ).localCheckpoint(eager=True)

    pu = pos.select(F.col("id").alias("u"), F.col("pos").alias("_pu"))
    pv = pos.select(F.col("id").alias("v"), F.col("pos").alias("_pv"))
    er = sym.join(pu, "u").join(pv, "v").select(
        F.least("_pu", "_pv").alias("ru"),
        F.greatest("_pu", "_pv").alias("rv"))
    starts = er.groupBy(F.col("ru").alias("pos")).agg(
        F.count(F.lit(1)).alias("_st"))
    ends = er.groupBy(F.col("rv").alias("pos")).agg(
        F.count(F.lit(1)).alias("_en"))
    frame = (
        pos.join(starts, "pos", "left").join(ends, "pos", "left")
        .select("pos", "id", "deg",
                (F.coalesce("_st", F.lit(0))
                 - F.coalesce("_en", F.lit(0))).alias("_d"))
    )
    # one fused scan: pack (deg, d) into a single long weight?  No —
    # two scans over the same order keep the arithmetic transparent;
    # each is the two-pass distributed prefix_sum, vertex-sized.
    cvol = prefix_sum(frame, [F.col("pos").asc()], "deg",
                      ["pos", "id", "deg", "_d"], start_col="_v0")
    ccut = prefix_sum(cvol, [F.col("pos").asc()], "_d",
                      ["pos", "id", "deg", "_d", "_v0"], start_col="_c0")
    total = cvol.agg(F.max(F.col("_v0") + F.col("deg")).alias("_tv"))
    out = (
        ccut.crossJoin(F.broadcast(total))
        .select(
            "pos", "id", "deg",
            (F.col("_c0") + F.col("_d")).alias("cut"),
            (F.col("_v0") + F.col("deg")).alias("vol"),
            F.col("_tv"),
        )
        .where(F.col("vol") < F.col("_tv"))
        .select(
            "pos", "id", "deg", "cut", "vol",
            pround(
                F.col("cut").cast("double")
                / F.least(F.col("vol"), F.col("_tv") - F.col("vol"))).alias("conductance"),
        )
    )
    return out
