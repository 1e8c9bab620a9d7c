"""Bandwidth-reduction ordering — Reverse Cuthill-McKee
(Applications/Ordering/RCM.cpp).

The reference computes RCM with SpMV-based level expansion: vertices
are labeled level by level, each new vertex ordered by (order of its
first parent, degree) — RCM.cpp's getOrder/useDegree pipeline. That
queue discipline parallelizes cleanly level-synchronously: within
level l+1 the Cuthill-McKee position is a rank over
(min position among level-l neighbors, degree, id) — the id refines
the reference's adjacency-order tie-break deterministically. One
distributed sort per BFS level (the same superstep structure as BFS
itself), then the final positions are reversed.

Deterministic, partition-invariant (every rank is a _perm_by
distributed sort) and ANSI-SQL-expressible (driver oracle unrolls the
levels). Bandwidth reduction is asserted on the reference-bundled
bcsstk01 matrix in tests/test_mm.py (35 -> 27, matching a sequential
Cuthill-McKee oracle).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from combblas_spark.algorithms.bfs import bfs_levels
from combblas_spark.graph import simple_adjacency, symmetrize
from combblas_spark.operators.indexing import _perm_by
from combblas_spark.operators.spmv import local_extrema
from combblas_spark.runtime.plans import observed_checkpoint, superstep_checkpoint


def pseudo_peripheral_root(edges: DataFrame, rounds: int = 2) -> int:
    """George-Liu heuristic (RCM.cpp pseudoPeripheralVertex): start at a
    minimum-degree vertex, repeatedly jump to a min-degree vertex of the
    last BFS level. Driver loop of ``rounds`` BFS runs — an O(rounds)
    preprocessing step, not a superstep cost."""
    deg = symmetrize(edges).groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("d"))
    root = deg.orderBy(F.col("d").asc(), F.col("id").asc()).first()["id"]
    for _ in range(rounds):
        lv = bfs_levels(edges, root=int(root), directed=False)
        far = (
            lv.join(deg, "id")
            .orderBy(F.col("level").desc(), F.col("d").asc(), F.col("id").asc())
            .first()
        )
        if far["id"] == root:
            break
        root = far["id"]
    return int(root)


def rcm_ordering(edges: DataFrame, root: int | None = None) -> DataFrame:
    """Returns the permutation (pos, id): Reverse Cuthill-McKee
    positions for every vertex reachable from ``root`` (one connected
    component per pass, like the reference). root=None picks a
    pseudo-peripheral vertex.

    Relabeling a matrix with this permutation (subsref with ri=ci=perm)
    clusters nonzeros near the diagonal — the reference's use case:
    cheaper banded factorizations / better locality.
    """
    if root is None:
        root = pseudo_peripheral_root(edges)
    lv = bfs_levels(edges, root=int(root), directed=False)
    sym = symmetrize(edges).select("src", "dst")
    deg = sym.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("d"))

    level_sizes = {r["level"]: r["cnt"] for r in
                   lv.groupBy("level").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    depth = max(level_sizes)
    total = sum(level_sizes.values())

    # one leaf per level (a projection of zip_with_index's checkpoint);
    # the next level reads only the previous one
    prev = lv.filter(F.col("level") == 0).select("id", F.lit(0).cast("long").alias("pos"))
    levels = [prev]
    offset = 1
    for l in range(1, depth + 1):
        cur = lv.filter(F.col("level") == l).select("id")
        # first-parent position: min CM position among level-(l-1) neighbors
        ppos = (
            sym.join(cur.withColumnRenamed("id", "dst"), "dst", "left_semi")
            .join(prev.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("pos").alias("ppos"))
        )
        keyed = cur.join(ppos, "id").join(deg, "id")
        rank = _perm_by(
            keyed.select("id", "ppos", "d"),
            [F.col("ppos").asc(), F.col("d").asc(), F.col("id").asc()],
        )
        prev = rank.select("id", (F.col("pos") + F.lit(offset)).alias("pos"))
        levels.append(prev)
        offset += level_sizes[l]
    pos = reduce(DataFrame.unionByName, levels)

    # reverse: RCM = CM order flipped
    return pos.select((F.lit(total - 1) - F.col("pos")).alias("pos"), "id")


def min_degree_ordering(
    edges: DataFrame,
    seed: int = 42,
    rounds: int | None = None,
    max_rounds: int | None = None,
) -> DataFrame:
    """Fill-reducing minimum-degree ordering — distributed multiple
    elimination (Applications/Ordering/MD.cpp).

    The reference (MD.cpp:291-344) eliminates ONE globally-minimum-
    degree vertex per step (``degrees.MinElement()``), turns the
    eliminated vertex's neighborhood into a clique (the symbolic-fill
    update, computed there via reach-through-eliminated-vertices SpMV,
    MD.cpp:227-252), and repeats n times — inherently sequential.
    The classic parallelization is Liu's *multiple elimination*
    (Liu 1985, "Modification of the minimum-degree algorithm by
    multiple elimination"): per round, eliminate an INDEPENDENT SET of
    minimum-degree vertices simultaneously — independence makes the
    per-vertex clique updates non-interfering, so the round is exact
    with respect to each eliminated vertex's neighborhood.

    Per round over the active elimination graph:
      1. external degree per active vertex (groupBy count; isolated
         vertices count 0), checkpointed once, with the minimum degree
         and the active count read on that job;
      2. candidates = vertices at the GLOBAL minimum degree
         (MD.cpp:311's MinElement, widened to the whole tie set);
      3. winners = candidates whose md5("seed:round:id") priority is a
         strict local minimum among neighboring candidates (the Luby
         round ``operators.spmv.local_extrema``, as in mis.py) — a
         maximal independent subset of the min-degree tie set;
      4. winners take the next positions in (id) order (one leaf per
         round, unioned once at return); each winner's neighborhood
         becomes a clique (fill edges), winner-incident edges drop out.

    ``rounds=None`` runs to exhaustion (every vertex ordered — the
    full MD permutation). A fixed ``rounds=k`` runs exactly k rounds
    then appends the still-active vertices in (final-degree, id) order
    — the bounded, ANSI-SQL-unrollable form the driver oracle
    replays; rounds past exhaustion are no-ops on both sides.

    Returns (pos, id). Deterministic and partition-invariant: every
    rank is a distributed ``_perm_by`` sort, priorities are seeded
    md5. Fill-reduction quality is asserted on the reference-bundled
    bcsstk01 matrix in tests/test_mm.py against the natural and
    reverse orders.
    """
    sym = adj = simple_adjacency(edges, "src")
    deg_aggs = [F.count(F.lit(1)).alias("n"), F.min("d").alias("mindeg")]
    # (id, d): external degree of every active vertex, checkpointed once
    # a round with the active count and the minimum degree read on its job
    deg, seen = observed_checkpoint(
        sym.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("d")), 0, deg_aggs)

    ranks = []
    offset = 0
    if rounds is None:
        # every round eliminates >= 1 Luby winner, so |V| rounds exhaust
        # the graph (a fixed cap would cut a 500-clique to the degree-
        # order tail); max_rounds is an opt-in ceiling below |V|
        n_rounds = seen["n"] if max_rounds is None else min(seen["n"], max_rounds)
    else:
        n_rounds = rounds
    for k in range(n_rounds):
        if seen["n"] == 0:      # graph exhausted; further rounds no-op
            break
        cand = deg.filter(F.col("d") == F.lit(int(seen["mindeg"]))).select(
            "id",
            F.md5(F.concat_ws(
                ":", F.lit(str(seed)), F.lit(str(k)),
                F.col("id").cast("string")).cast("binary")).alias("p"),
        )
        # the tie set is at most the active vertex count
        winners, won = observed_checkpoint(
            local_extrema(sym, cand, seen["n"]), k, [F.count(F.lit(1)).alias("n")])
        ranked = _perm_by(winners, [F.col("id").asc()])
        ranks.append(ranked.select((F.col("pos") + F.lit(offset)).alias("pos"), "id"))
        offset += won["n"]

        # clique fill among each winner's neighbors (independence of the
        # winner set makes the per-winner updates non-interfering)
        nb = sym.join(winners.withColumnRenamed("id", "src"), "src").select(
            F.col("src").alias("v"), F.col("dst").alias("a"))
        fill = (
            nb.alias("x").join(nb.alias("y"), "v")
            .filter(F.col("x.a") != F.col("y.a"))
            .select(F.col("x.a").alias("src"), F.col("y.a").alias("dst"))
        )
        sym = superstep_checkpoint(
            sym.join(winners.withColumnRenamed("id", "src"), "src", "left_anti")
            .join(winners.withColumnRenamed("id", "dst"), "dst", "left_anti")
            .select("src", "dst")
            .unionByName(fill)
            .distinct(),
            k,
        )
        deg, seen = observed_checkpoint(
            deg.join(winners, "id", "left_anti").select("id")
            .join(sym.withColumnRenamed("src", "id"), "id", "left")
            .groupBy("id").agg(F.count("dst").alias("d")), k + 1, deg_aggs)
    adj.unpersist()

    # bounded form: deterministic tail over whatever is still active
    tail = _perm_by(deg, [F.col("d").asc(), F.col("id").asc()])
    ranks.append(tail.select((F.col("pos") + F.lit(offset)).alias("pos"), "id"))
    return reduce(DataFrame.unionByName, ranks)
