"""Maximal independent set — Luby's algorithm (FilteredMIS parity,
Applications/FilteredMIS.cpp: the reference runs MIS through
semantically-filtered SpMV; here the per-round structure is the classic
Luby round, ``operators.spmv.local_extrema``).

Per round over the remaining candidate vertices:
  1. every candidate gets a deterministic pseudo-random priority
     (md5("seed:round:id") — seeded, partition-invariant, resume-
     stable, and ANSI-SQL-expressible so the driver oracle can replay
     the rounds exactly);
  2. a candidate enters the MIS iff its priority is a strict local
     minimum among its remaining neighbors (``local_extrema``: the
     min-neighbor-priority SpMV over the Select2ndMin semiring and the
     compare);
  3. winners and their neighbors leave the candidate set.
Each round's winners are checkpointed once and kept as a leaf; the
result is their union, built once at return.
Terminates in O(log n) rounds w.h.p.; the result is verified
independent AND maximal in tests (property check — the algorithm's
contract, mirroring the reference's Correctness() style checks).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from combblas_spark.graph import simple_adjacency, vertices
from combblas_spark.operators.spmv import local_extrema
from combblas_spark.runtime.plans import observed_checkpoint


def maximal_independent_set(
    edges: DataFrame,
    seed: int = 42,
    max_iter: int = 60,
) -> DataFrame:
    """Returns (id) — a maximal independent set of the undirected view.

    Isolated vertices (no edges) are always in the MIS. Self-loops are
    IGNORED (a vertex is not its own neighbor): left in, a loop vertex
    would see its own priority as a neighbor minimum, never win a
    round, and the run would falsely exhaust max_iter.
    """
    # src-partitioned: every round's sym-join on src reads the cache
    # without a shuffle
    sym = simple_adjacency(edges, "src")

    cand, seen = observed_checkpoint(vertices(edges), 0, [F.count(F.lit(1)).alias("n")])
    n_cand = seen["n"]
    won = []

    try:
        for it in range(max_iter):
            pri = cand.select("id", F.md5(F.concat_ws(
                ":", F.lit(str(seed)), F.lit(str(it)),
                F.col("id").cast("string")).cast("binary")).alias("p"))
            winners = local_extrema(sym, pri, n_cand).localCheckpoint(eager=True)
            won.append(winners)
            # remove winners and their neighbors from the candidate set.
            # No distinct: dead only feeds a left_anti join, whose result is
            # identical with duplicates on the right — the dedup would cost
            # an extra shuffle per round.
            dead = winners.unionByName(
                sym.join(winners.withColumnRenamed("id", "src"), "src")
                .select(F.col("dst").alias("id"))
            )
            cand, seen = observed_checkpoint(
                cand.join(dead, "id", "left_anti"), it, [F.count(F.lit(1)).alias("n")])
            n_cand = seen["n"]
            if n_cand == 0:
                break
        else:
            # returning would break the MAXIMALITY contract silently;
            # Luby needs O(log n) rounds w.h.p., so the cap means a fault
            raise RuntimeError(
                f"maximal_independent_set: candidates remain after "
                f"max_iter={max_iter} Luby rounds; raise max_iter")

    finally:
        # unpersist on the raise path too — loud-failure tests run in a
        # shared session and must not accumulate dead caches
        sym.unpersist()
    return reduce(DataFrame.unionByName, won)
