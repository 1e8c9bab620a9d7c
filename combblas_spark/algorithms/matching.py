"""Bipartite maximal matching — round-synchronous greedy proposals.

Reference: BPMaximalMatching.h:24 (MaximalMatching with GREEDY init;
the MPI code alternates SpMV-like "request" and "grant" phases over the
bipartite adjacency). Spark form, per round over the LIVE edge set
(both endpoints unmatched):

    propose : each live row proposes to the live neighbor minimizing a
              seeded md5 edge priority (one groupBy min_by)
    grant   : each column accepts the proposing row with the minimum
              edge priority (one groupBy min_by)
    commit  : accepted pairs join the matching; their endpoints leave
              the live set (two anti-joins)

The md5 edge priority is the Luby trick (same role as the random
priorities in mis.py): min-ID priorities would funnel every row's
proposal onto the few lowest column ids and serialize convergence,
while a hash priority spreads proposals uniformly, so the live set
shrinks geometrically — O(log n) rounds. It is also deterministic and
ANSI-SQL-expressible, so the final matching has an exact unrolled-SQL
twin (the same technique as the BFS/MCL oracles). Each round is
edge-sized work with map-side partial aggregation.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from combblas_spark.runtime.plans import observed_checkpoint, superstep_checkpoint


def bipartite_maximal_matching(
    edges: DataFrame,
    max_iter: int = 64,
) -> DataFrame:
    """Returns matched (src, dst) pairs: a valid MAXIMAL matching of the
    bipartite graph whose row side is ``src`` and column side ``dst``
    (ids live in separate namespaces; equal ids on the two sides are
    distinct vertices, as in the reference's rectangular SpParMat).
    """
    prio = F.md5(F.concat_ws(
        ":", F.col("src").cast("string"), F.col("dst").cast("string")).cast("binary"))
    live = (
        edges.select("src", "dst").distinct()
        .withColumn("h", prio)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_live = live.count()

    matched = []
    for it in range(max_iter):
        proposals = live.groupBy("src").agg(
            F.min_by("dst", F.col("h")).alias("dst"),
            F.min("h").alias("h"))
        grants, seen = observed_checkpoint(
            proposals.groupBy("dst").agg(F.min_by("src", F.col("h")).alias("src"))
            .select("src", "dst"), it, [F.count(F.lit(1)).alias("n")])
        matched.append(grants)
        if seen["n"] == 0:
            break
        nxt = (
            live.join(grants.select("src"), "src", "left_anti")
            .join(grants.select("dst"), "dst", "left_anti")
            .select("src", "dst", "h")
        )
        nxt, seen = observed_checkpoint(nxt, it, [F.count(F.lit(1)).alias("n")])
        live.unpersist()
        live, n_live = nxt, seen["n"]
        if n_live == 0:
            break
    else:
        # live edges remain: a valid matching but NOT maximal, the
        # function's contract. The hash priorities shrink the live set
        # geometrically w.h.p., so exhausting 64 rounds is pathological.
        raise RuntimeError(
            f"bipartite_maximal_matching: live edges remain after "
            f"max_iter={max_iter} rounds; raise max_iter")
    live.unpersist()
    return reduce(DataFrame.unionByName, matched)


def bipartite_maximum_matching(
    edges: DataFrame,
    max_phases: int | None = None,
    max_depth: int = 32,
) -> DataFrame:
    """MAXIMUM-cardinality bipartite matching — augmenting-path phases
    over the greedy maximal initializer.

    Reference: Applications/BipartiteMatchings/BPMaximumMatching.cpp
    (maximumMatching: maximal init + repeated SpMV-style augmenting-path
    sweeps) and auction.cpp. Spark form, per phase:

      forest  : level-synchronous alternating BFS from every unmatched
                row vertex at once (the reference's multi-source SpMV
                frontier). Odd steps traverse ANY edge row->col; even
                steps traverse the unique MATCHED edge col->row. Each
                column is visited once per phase and records
                (parent row, tree root) — parent = min adjacent frontier
                row, so the forest is deterministic. The BFS runs to
                frontier exhaustion (not first-endpoint-level stop:
                measured on RMAT-8, stopping early cut per-phase work
                but multiplied the PHASE count — every tree whose
                shortest path was longer got deferred — for a >2x
                net wall regression).
      select  : per tree root, ONE reached free column (min by
                (level, id)). Trees partition the visited vertices, so
                the selected augmenting paths are vertex-disjoint by
                construction — all flip in parallel.
      augment : walk each selected path back root-ward via the recorded
                parents (bounded by the BFS depth), adding the odd edges
                to the matching and removing the even ones: cardinality
                +1 per tree.

    A phase that reaches no free column proves the matching maximum
    (standard BFS certificate: no augmenting path exists), so extra
    phases are no-ops — which is what lets the driver oracle unroll a
    fixed phase count exactly. Every step is an edge- or
    frontier-sized join with map-side combine; nothing is quadratic.
    100-TB shape: phases <= row-side deficiency of the greedy init
    (small on real graphs), each phase O(diameter) supersteps.

    Returns matched (src, dst) pairs.
    """
    spark = edges.sparkSession
    e = edges.select("src", "dst").distinct().persist(StorageLevel.MEMORY_AND_DISK)
    e.count()

    matching = superstep_checkpoint(bipartite_maximal_matching(e), 0)
    _step = [0]

    def _ck(df):
        """(checkpointed df, its row count read on the same job)"""
        _step[0] += 1
        out, seen = observed_checkpoint(df, _step[0], [F.count(F.lit(1)).alias("n")])
        return out, seen["n"]

    phase = 0
    while max_phases is None or phase < max_phases:
        m_src = matching.select("src")
        m_dst = matching.select("dst")
        # roots: unmatched rows that have at least one edge
        roots = (
            e.select("src").distinct().join(m_src, "src", "left_anti")
            .select(F.col("src").alias("id"), F.col("src").alias("root"))
        )
        roots, n_roots = _ck(roots)
        if n_roots == 0:
            break

        # matched column -> its (unique) matched row, for even steps
        m_of_dst = matching.select("dst", F.col("src").alias("msrc"))
        m_of_src = matching.select("src", F.col("dst").alias("mdst"))

        frontier = roots  # (id=row, root)
        visited_d = spark.createDataFrame([], "dst long")
        parent_d = spark.createDataFrame([], "dst long, psrc long, root long, lvl int")
        endpoints = spark.createDataFrame([], "dst long, psrc long, root long, lvl int")
        n_free = 0
        for t in range(1, max_depth + 1, 2):
            # odd step: rows -> any adjacent unvisited column;
            # parent = min adjacent frontier row (deterministic forest)
            new_d = (
                e.join(frontier.withColumnRenamed("id", "src"), "src")
                .join(visited_d, "dst", "left_anti")
                .groupBy("dst")
                .agg(F.min("src").alias("psrc"), F.min_by("root", "src").alias("root"))
                .withColumn("lvl", F.lit(t))
            )
            new_d, n_new = _ck(new_d)
            if n_new == 0:
                break
            # unions of already-checkpointed leaves: shallow lineage,
            # no materialization needed (job-count matters — each eager
            # checkpoint is a Spark job, and phases run O(depth) levels)
            visited_d = visited_d.unionByName(new_d.select("dst"))
            parent_d = parent_d.unionByName(new_d)
            endpoints = endpoints.unionByName(new_d.join(m_dst, "dst", "left_anti"))
            # even step: matched columns -> their matched row (forced edge)
            frontier, n_front = _ck(
                new_d.join(m_of_dst, "dst")
                .select(F.col("msrc").alias("id"), "root")
            )
            # a matched column has exactly one matched row, so the
            # level's other columns are the free endpoints
            n_free += n_new - n_front
            if n_front == 0:
                break

        if n_free == 0:
            break  # BFS exhausted without a free column -> maximum

        # one endpoint per tree: min (lvl, dst)
        chosen = (
            endpoints.groupBy("root")
            .agg(F.min_by(F.struct("lvl", "dst", "psrc"), F.struct("lvl", "dst")).alias("c"))
            .select("root", F.col("c.dst").alias("dst"), F.col("c.lvl").alias("lvl"))
        )
        cur, _ = _ck(chosen)

        # walk back root-ward, flipping as we go; an empty step adds,
        # removes and continues nothing, so the walk ends there
        adds = spark.createDataFrame([], "src long, dst long")
        removes = spark.createDataFrame([], "src long, dst long")
        while True:
            step, n_step = _ck(cur.join(  # one job; adds/removes/cur derive
                parent_d.select("dst", "psrc", F.col("lvl").alias("_plvl")), "dst"))
            if n_step == 0:
                break
            adds = adds.unionByName(
                step.select(F.col("psrc").alias("src"), "dst"))
            back = (
                step.filter(F.col("_plvl") > 1)
                .join(m_of_src.withColumnRenamed("src", "psrc"), "psrc")
            )
            removes = removes.unionByName(
                back.select(F.col("psrc").alias("src"), F.col("mdst").alias("dst")))
            cur = back.select(
                "root", F.col("mdst").alias("dst"), (F.col("_plvl") - 2).alias("lvl"))

        matching, _ = _ck(
            matching.join(removes, ["src", "dst"], "left_anti")
            .unionByName(adds)
        )
        phase += 1

    e.unpersist()
    return matching


def approx_weight_perfect_matching(
    edges: DataFrame,
    max_rounds: int = 16,
    max_card_phases: int | None = None,
    metrics: list | None = None,
) -> DataFrame:
    """Approximate maximum-WEIGHT matching of maximum cardinality —
    the reference's AWPM / TwoThirdApprox
    (BipartiteMatchings/ApproxWeightPerfectMatching.h:794,
    ApproxWeightPerfectMatching.cpp:184): start from a maximum-
    cardinality matching, then repeatedly improve total weight with
    weight-augmenting 4-cycles ("2-flips": matched pairs (i,mi),(j,mj)
    swap to (i,mj),(j,mi) when both cross edges exist and gain > 0).
    A 4-cycle-local-optimum is a 2/3-approximation of the optimal
    perfect matching weight (Pettie & Sanders; the bound the reference
    names this routine after).

    Spark form, per round (all deterministic, hence SQL-unrollable):

      candidates : cross-edge join — for every edge (i, mj) between a
                   matched row i and a column matched to j != i, join
                   the reverse cross edge (j, mi); gain = w(i,mj) +
                   w(j,mi) - w(i,mi) - w(j,mj) > 0. Edge-sized joins on
                   matched keys, never all-pairs.
      dominant   : each swap involves exactly two matched edges; keep
                   swaps that are the arg-max gain (ties: partner id)
                   for BOTH sides — the locally-dominant set is
                   conflict-free by construction, so all its swaps
                   apply in parallel (same role as the reference's
                   phase-wise conflict resolution, .h:555-758).
      apply      : drop the two old matched edges, insert the two new.

    Rounds stop when no positive-gain dominant swap remains. Weight is
    monotone non-decreasing and cardinality is preserved exactly.
    Returns matched (src, dst) pairs (weights re-joinable from edges).
    """
    w = edges.groupBy("src", "dst").agg(F.max("val").alias("w")) \
        if "val" in edges.columns else \
        edges.select("src", "dst").distinct().withColumn("w", F.lit(1.0))
    w = w.persist(StorageLevel.MEMORY_AND_DISK)
    w.count()

    matching = bipartite_maximum_matching(
        w.select("src", "dst"), max_phases=max_card_phases)
    m = superstep_checkpoint(
        matching.join(w, ["src", "dst"]).select("src", "dst", "w"), 0)

    for rnd in range(max_rounds):
        mi = m.select(F.col("src").alias("i"), F.col("dst").alias("mi"),
                      F.col("w").alias("wi"))
        mj = m.select(F.col("src").alias("j"), F.col("dst").alias("mj"),
                      F.col("w").alias("wj"))
        # cross edge (i, mj) with i != j, plus reverse cross edge (j, mi)
        cand = (
            w.select(F.col("src").alias("i"), F.col("dst").alias("mj"),
                     F.col("w").alias("w_imj"))
            .join(mi, "i").join(mj, "mj")
            .filter(F.col("i") != F.col("j"))
            .join(
                w.select(F.col("src").alias("j"), F.col("dst").alias("mi"),
                         F.col("w").alias("w_jmi")),
                ["j", "mi"],
            )
            .withColumn("gain",
                        F.col("w_imj") + F.col("w_jmi")
                        - F.col("wi") - F.col("wj"))
            .filter(F.col("gain") > 1e-12)
        )
        # dominant: best swap per i AND per j (ties by partner id)
        best_i = cand.groupBy("i").agg(
            F.min_by(F.struct("j", "gain"), F.struct(-F.col("gain"), F.col("j"))).alias("b")
        ).select("i", F.col("b.j").alias("j"))
        best_j = cand.groupBy("j").agg(
            F.min_by(F.struct("i", "gain"), F.struct(-F.col("gain"), F.col("i"))).alias("b")
        ).select(F.col("b.i").alias("i"), "j")
        swaps = (
            cand.join(best_i, ["i", "j"], "left_semi")
            .join(best_j, ["i", "j"], "left_semi")
            .filter(F.col("i") < F.col("j"))  # each cycle once
        )
        swaps, stats = observed_checkpoint(
            swaps, 2 * rnd + 1, [F.count(F.lit(1)).alias("n"), F.sum("gain").alias("g")])
        n_swaps = stats["n"]
        if metrics is not None:
            metrics.append({"round": rnd, "swaps": n_swaps,
                            "gain": float(stats["g"])})
        if n_swaps == 0:
            break
        old = (
            swaps.select(F.col("i").alias("src"), F.col("mi").alias("dst"))
            .unionByName(swaps.select(F.col("j").alias("src"),
                                      F.col("mj").alias("dst")))
        )
        new = (
            swaps.select(F.col("i").alias("src"), F.col("mj").alias("dst"),
                         F.col("w_imj").alias("w"))
            .unionByName(swaps.select(F.col("j").alias("src"),
                                      F.col("mi").alias("dst"),
                                      F.col("w_jmi").alias("w")))
        )
        m = superstep_checkpoint(
            m.join(old, ["src", "dst"], "left_anti").unionByName(new),
            2 * rnd + 2)

    w.unpersist()
    return m.select("src", "dst")


AUCTION_NO_SECOND_GAP = 9999999.0  # magnitude of auction.cpp:40's
# secondMaxProfit default; applied RELATIVE to the best profit (second
# = best - gap) rather than as the reference's absolute floor, which
# breaks price monotonicity once prices exceed it (a single-object
# bidder inflates its object's price by ~1e7 per revoke cycle, after
# which best-profit < -9999999 makes every bid LOWER than the price).
# The relative form keeps bid >= price + eps always.


def auction_matching(
    edges: DataFrame,
    eps: float = 1e-3,
    max_rounds: int = 64,
) -> DataFrame:
    """Bertsekas auction for the maximum-weight ASSIGNMENT problem:
    every bidder is matched when structurally feasible, even where an
    unrestricted max-weight matching would leave a bidder out to keep
    a heavier edge (the reference's mateRow2Col contract). This is
    the reference's auction path (BipartiteMatchings/auction.cpp:338,
    whose SubMaxSR semiring SpMV computes each bidder's best and
    second-best profit, auction.cpp:60-105) completed into the full
    price-raising loop the demo stops short of.

    Per round (every step deterministic, hence SQL-unrollable):

      profit  : for each UNMATCHED bidder (row) and incident object
                (column), profit = w - price[obj] — the SubMaxSR
                ``multiply`` (auction.cpp:98-103).
      bid     : each bidder finds its best and second-best profit (the
                ``max2`` reduction, auction.cpp:59-77; ties by object
                id) and bids on the best object at
                price + best - second + eps; a bidder with a single
                incident object takes second = best - 9999999 (the
                reference's auction.cpp:40 default, made relative —
                see AUCTION_NO_SECOND_GAP) — an effectively
                unbeatable bid that still respects bid >= price + eps.
      assign  : each object accepts the highest bid (ties by bidder
                id — auction.cpp:399's Invert max), its price rises to
                the winning bid, the previous owner is unmatched
                (revokedBids, auction.cpp:414-421).

    One bid per bidder and one winner per object, so a round commits
    conflict-free in parallel: two groupBy aggregations and two joins,
    all edge-sized, shuffle keyed on src then dst — no all-pairs work
    at any scale. With eps > 0 the ε-complementary-slackness invariant
    holds, so the final matched weight is within n_matched * eps of
    the optimal assignment on the matched vertices (Bertsekas 1988) —
    asserted vs brute force in tests.

    Stops when no unmatched bidder remains (or ``max_rounds``, the
    bounded form the driver oracle unrolls; rounds past convergence
    are no-ops). Returns matched (src, dst).
    """
    w = edges.groupBy("src", "dst").agg(F.max("val").alias("w")) \
        if "val" in edges.columns else \
        edges.select("src", "dst").distinct().withColumn("w", F.lit(1.0))
    w = w.persist(StorageLevel.MEMORY_AND_DISK)
    w.count()

    spark = edges.sparkSession
    m = spark.createDataFrame([], "src long, dst long")
    price = (w.select("dst").distinct()
             .withColumn("price", F.lit(0.0)))
    price = superstep_checkpoint(price, 0)

    for rnd in range(max_rounds):
        # profits of unmatched bidders (SubMaxSR multiply)
        prof = (
            w.join(m.select("src"), "src", "left_anti")
            .join(price, "dst")
            .withColumn("profit", F.col("w") - F.col("price"))
        )
        # best + second-best profit per bidder (max2 reduction)
        best2 = prof.groupBy("src").agg(
            F.min_by(F.struct("dst", "profit", "price"),
                     F.struct(-F.col("profit"), F.col("dst"))).alias("b"),
        )
        second = (
            prof.join(
                best2.select("src", F.col("b.dst").alias("bdst")),
                "src")
            .filter(F.col("dst") != F.col("bdst"))
            .groupBy("src").agg(F.max("profit").alias("p2"))
        )
        bids = (
            best2.join(second, "src", "left")
            .select(
                "src",
                F.col("b.dst").alias("dst"),
                (F.col("b.price") + F.col("b.profit")
                 - F.coalesce(
                     F.col("p2"),
                     F.col("b.profit") - F.lit(AUCTION_NO_SECOND_GAP))
                 + F.lit(eps)).alias("bid"),
            )
        )
        # each object accepts the highest bid (Invert max)
        wins = bids.groupBy("dst").agg(
            F.min_by(F.struct("src", "bid"),
                     F.struct(-F.col("bid"), F.col("src"))).alias("b")
        ).select("dst", F.col("b.src").alias("src"), F.col("b.bid").alias("bid"))
        wins, seen = observed_checkpoint(wins, 2 * rnd + 1, [F.count(F.lit(1)).alias("n")])
        if seen["n"] == 0:
            break
        price = superstep_checkpoint(
            price.join(wins.select("dst", F.col("bid").alias("np")),
                       "dst", "left")
            .select("dst", F.coalesce("np", "price").alias("price")),
            2 * rnd + 2)
        # revoked: previous owners of re-auctioned objects drop out
        m = superstep_checkpoint(
            m.join(wins.select("dst"), "dst", "left_anti")
            .unionByName(wins.select("src", "dst")),
            2 * rnd + 2)

    w.unpersist()
    return m.select("src", "dst")
