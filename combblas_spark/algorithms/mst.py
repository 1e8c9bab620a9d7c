"""Minimum spanning forest — Boruvka rounds over the MinPlus semiring.

The GraphBLAS-family MSF algorithm next to FastSV (components.py): per
round every component picks its lightest incident cross edge (an SpMV
over a Min<(w,u,v)> semiring = one groupBy-min over both edge
orientations), the picked edges hook components into pointer
pseudo-trees, the unique 2-cycle at each tree's bottom is broken toward
the smaller component id, and pointer jumping contracts every tree to
its root (the Shiloach-Vishkin shortcut FastSV.h:336-374 also uses).
Components at least halve per round, so the loop is O(log V) rounds.

Determinism contract (what makes the DuckDB oracle exact): edge picks
minimize the TOTAL order (w, u, v) — u < v canonical — so equal-weight
ties resolve identically in any engine and any partitioning. Under a
total order the pointer graph's only cycles are 2-cycles (a longer
cycle would need strictly decreasing edges around a loop), which is
what makes the break rule complete.

Scale shape (100 TB): the per-round work is one edge×labels join +
one groupBy-min (map-side combinable, skew-absorbed exactly like the
reference's ReduceAssign, FastSV.h:68-130); pointer jumping runs over
the COMPONENT-level table, which shrinks geometrically — after round 1
it is ~V/2 rows, not E. No windows, no collects in the loop (the only
driver reads are empty-frontier checks, same as components.py).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from combblas_spark.graph import vertices
from combblas_spark.runtime.plans import observed_checkpoint, superstep_checkpoint


def boruvka_msf(
    edges: DataFrame,
    max_rounds: int = 30,
    max_jumps: int = 20,
) -> DataFrame:
    """Minimum spanning forest of the undirected weighted view of
    ``edges`` (src, dst, val). Returns the forest edge list
    (u, v, w) with u < v; for a connected graph this is the MST.

    Parallel (u, v) edges collapse to their minimum weight before the
    loop (only the lightest copy can ever be picked). Raises if cross
    edges remain after ``max_rounds`` — returning a partial forest
    would silently violate the spanning contract (same loud-failure
    rule as kcore/mis/matching).
    """
    spark = edges.sparkSession
    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))

    cedges = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
            F.col("val").cast("double").alias("w"),
        )
        .groupBy("u", "v")
        .agg(F.min("w").alias("w"))
        .repartition(shuffle_n, "u")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cedges.count()

    comp = (
        vertices(edges)
        .select("id", F.col("id").alias("c"))
        .localCheckpoint(eager=True)
    )
    chosen = []

    try:
        for r in range(max_rounds):
            # cross edges at component granularity
            ce = (
                cedges
                .join(comp.select(F.col("id").alias("u"), F.col("c").alias("cu")), "u")
                .join(comp.select(F.col("id").alias("v"), F.col("c").alias("cv")), "v")
                .filter(F.col("cu") != F.col("cv"))
            )
            ce, seen = observed_checkpoint(ce, r, [F.count(F.lit(1)).alias("n")])
            if seen["n"] == 0:
                break
            # each component's lightest incident edge under the (w, u, v)
            # total order — min over a struct orders fields lexicographically
            cand = ce.select(
                F.col("cu").alias("c"),
                F.struct("w", "u", "v", F.col("cv").alias("oc")).alias("s"),
            ).unionByName(
                ce.select(
                    F.col("cv").alias("c"),
                    F.struct("w", "u", "v", F.col("cu").alias("oc")).alias("s"),
                )
            )
            sel = (
                cand.groupBy("c")
                .agg(F.min("s").alias("s"))
                .select("c", "s.w", "s.u", "s.v", "s.oc")
                .localCheckpoint(eager=True)
            )
            # the same edge is picked by both endpoint components when it is
            # the minimum for both — keep one copy
            chosen.append(sel.select("u", "v", "w").dropDuplicates(["u", "v"]))

            # hook: p[c] = other component; break the per-tree 2-cycle
            # toward the smaller id (a.oc always appears in sel: it is an
            # endpoint of a cross edge, hence picked something itself)
            p = (
                sel.select("c", F.col("oc").alias("p"))
                .alias("a")
                .join(
                    sel.select(F.col("c").alias("p"), F.col("oc").alias("pp")).alias("b"),
                    "p",
                )
                .select(
                    "c",
                    F.when(
                        (F.col("pp") == F.col("c")) & (F.col("c") < F.col("p")),
                        F.col("c"),
                    ).otherwise(F.col("p")).alias("p"),
                )
                .localCheckpoint(eager=True)
            )
            # pointer jumping to roots (depth halves per jump); every p is
            # a c of sel, so the jump keeps every row and p is fixed once
            # no row's grandparent differs from its parent
            for j in range(max_jumps):
                p, seen = observed_checkpoint(
                    p.alias("a")
                    .join(p.select(F.col("c").alias("p"), F.col("p").alias("gp")).alias("b"), "p"),
                    j, [F.sum((F.col("p") != F.col("gp")).cast("long")).alias("moved")],
                    keep=["c", F.col("gp").alias("p")])
                if seen["moved"] == 0:
                    break
            else:
                raise RuntimeError(
                    f"boruvka_msf: pointer jumping did not reach roots in "
                    f"max_jumps={max_jumps} (round {r})")

            comp = superstep_checkpoint(
                comp.join(p.withColumnRenamed("c", "_oc"),
                          comp.c == F.col("_oc"), "left")
                .select("id", F.coalesce("p", "c").alias("c")),
                r,
            )
        else:
            # the loop never saw an empty cross-edge set — recheck against
            # the FINAL labels before declaring failure
            left = (
                cedges
                .join(comp.select(F.col("id").alias("u"), F.col("c").alias("cu")), "u")
                .join(comp.select(F.col("id").alias("v"), F.col("c").alias("cv")), "v")
                .filter(F.col("cu") != F.col("cv"))
            )
            if not left.isEmpty():  # pragma: no cover - loud-failure contract
                raise RuntimeError(
                    f"boruvka_msf: cross edges remain after max_rounds="
                    f"{max_rounds}; raise max_rounds")

    finally:
        # unpersist on the raise paths too (max_jumps / max_rounds) —
        # loud-failure tests run in a shared session
        cedges.unpersist()
    # the rounds' picks, unioned once; with no cross edge at all (a
    # loop-only input) the forest is empty
    return reduce(DataFrame.unionByName, chosen, cedges.limit(0))
