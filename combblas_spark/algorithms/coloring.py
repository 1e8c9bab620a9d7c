"""Greedy distributed graph coloring — Jones–Plassmann waves.

Fixed random priorities (seeded md5, the mis.py trick: deterministic,
partition-invariant, ANSI-SQL-replayable), then synchronous waves: a
still-uncolored vertex whose priority beats every uncolored neighbor's
takes the current wave number as its color. Each wave is an independent
set (two adjacent vertices cannot both be local maxima), and vertices
colored in different waves get different colors, so the result is a
proper coloring; wave count — and hence color count — is the longest
priority-decreasing path (O(log n) expected on bounded-degree graphs,
Jones & Plassmann 1993; measured on the thinned events graph: 32 waves
at sf0.01, 50 at sf0.1).

This is the wave-indexed JP variant (color = wave number) rather than
the minimum-excludant variant: it trades a few extra colors for a loop
body that is ONE join + ONE groupBy-max per wave — no per-vertex
neighbor-color-set gather — which is the shape that survives a 10^12
edge graph. The wave is mis.py's Luby round with max in place of min,
``operators.spmv.local_extrema``; each wave's winners are checkpointed
once and kept as a leaf, unioned once at return.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from combblas_spark.graph import simple_adjacency, vertices
from combblas_spark.operators.spmv import local_extrema
from combblas_spark.runtime.plans import observed_checkpoint


def jp_coloring(
    edges: DataFrame,
    seed: int = 42,
    max_rounds: int = 200,
) -> DataFrame:
    """Returns (id, color) — a proper coloring of the undirected view;
    colors are 0-based wave numbers. Isolated vertices get color 0.

    Raises when uncolored vertices remain after ``max_rounds`` (the
    loud-failure convention of mis/kcore: a partial coloring silently
    breaks the totality contract).
    """
    # self-loops are IGNORED (a vertex is not its own neighbor): left in,
    # a loop vertex would see its own priority as an uncolored-neighbor
    # max and could never win a wave — the run would falsely hit the
    # round cap. Loop-only vertices still get a color (wave 0).
    sym = simple_adjacency(edges, "src")

    # ONE fixed priority per vertex (not per round — that is what makes
    # this Jones-Plassmann rather than iterated Luby)
    uncolored, seen = observed_checkpoint(vertices(edges).select(
        "id",
        F.md5(F.concat_ws(":", F.lit(str(seed)), F.col("id").cast("string"))
              .cast("binary")).alias("p"),
    ), 0, [F.count(F.lit(1)).alias("n")])
    n_left = seen["n"]
    colored = []
    try:
        for wave in range(max_rounds):
            winners = (
                local_extrema(sym, uncolored, n_left, "max")
                .select("id", F.lit(wave).cast("int").alias("color"))
                .localCheckpoint(eager=True)
            )
            colored.append(winners)
            uncolored, seen = observed_checkpoint(
                uncolored.join(winners.select("id"), "id", "left_anti"), wave,
                [F.count(F.lit(1)).alias("n")])
            n_left = seen["n"]
            if n_left == 0:
                break
        else:  # pragma: no cover - loud failure
            raise RuntimeError(
                f"jp_coloring: uncolored vertices remain after "
                f"max_rounds={max_rounds}; raise max_rounds")
    finally:
        # unpersist on the raise path too — the loud-failure tests run in
        # a shared session and must not accumulate dead caches
        sym.unpersist()
    return reduce(DataFrame.unionByName, colored)
