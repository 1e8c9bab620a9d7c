"""ANF — approximate neighborhood function via Flajolet–Martin sketches.

The neighborhood function N(h) = |{(u,v) : dist(u,v) <= h}| is the
standard webgraph summary behind effective-diameter estimates (Palmer,
Gibbons & Faloutsos, "ANF: A Fast and Scalable Tool for Data Mining in
Massive Graphs", KDD 2002 — the same family as HyperANF/WebGraph). Not
in the reference (CombBLAS ships no distance-sketch kernel), but it is
the canonical link-graph analysis a Common-Crawl-scale user runs right
after PageRank/CC, and it is a pure semiring superstep: the OR-semiring
SpMV of SURVEY.md §2.2 with bitmask values.

Spark-first design (and why it scales to 10^12 vertices):
* state = K Flajolet–Martin bitmasks per vertex, packed into K LONG
  columns — 8*K bytes/vertex, vertex-sized, never wider.
* one hop = one join (frontier masks against the cached symmetric
  adjacency, partitioned by dst) + one ``bit_or`` aggregation. bit_or
  is associative/commutative/idempotent, so Spark's map-side partial
  aggregation absorbs in-degree skew exactly like the PlusTimes SpMV
  (hub pages combine locally before the exchange); with the adjacency
  pre-partitioned by dst the agg clustering is already satisfied —
  ZERO edge-sized exchange per hop in the broadcast regime (the same
  measured recipe as pagerank.py/labelprop.py).
* sketches merge by OR, so the result is partitioning- and
  order-invariant — bit-reproducible across cluster sizes (unlike
  sampled-BFS diameter estimators).
* per-hop summaries ride the checkpoint job
  (``runtime.plans.observed_checkpoint``) — no extra job, no driver
  collect of vertex data.

Determinism contract: bit j of vertex v's mask k is seeded from
md5("{seed}:{k}:{v}") — reproducible across engines, so the DuckDB
oracle (driver correctness gate) unrolls the identical recurrence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from combblas_spark.portable import pround, pround_py

from combblas_spark.graph import symmetrize_partitioned, vertices
from combblas_spark.operators.spmv import spmv_step
from combblas_spark.runtime.plans import (
    broadcastable,
    layout_vector,
    observed_checkpoint,
    superstep_checkpoint,
)

# Flajolet–Martin bias correction: E[2^R] = n / PHI_FM
PHI_FM = 0.77351


def _init_mask(j: int, seed: int, r_bits: int):
    """FM mask for sketch j: a single geometric bit 2^b, b = trailing
    zeros of a 32-bit md5-derived uniform, capped at r_bits-1.

    u & -u isolates the lowest set bit (already 2^b), so the cap is a
    plain ``least`` against 2^(r_bits-1) — no float log in the seed
    path, bit-identical in any engine with md5 + integer ops."""
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.lit(str(seed)), F.lit(str(j)), F.col("id").cast("string")
                    ).cast("binary")
                ),
                1,
                8,
            ),
            16,
            10,
        )
        .cast("long")
    )
    lowbit = u.bitwiseAND(-u)
    cap = F.lit(1 << (r_bits - 1)).cast("long")
    return F.when(lowbit == 0, cap).otherwise(F.least(lowbit, cap)).alias(f"m{j}")


def _lzb(col, r_bits: int):
    """Index of the lowest ZERO bit of a mask: (~m) & (m+1) is that bit
    as a power of two; log2 of an exact power of two is exact."""
    return F.log2((F.bitwise_not(col)).bitwiseAND(col + F.lit(1).cast("long"))).cast("int")


def _summary_aggs(k: int, r_bits: int):
    """(sum_lzb, sum_pop, est) aggregate expressions over the sketch
    state.

    sum_lzb is an exact integer (hash-stable anchor for the oracle);
    sum_pop is the total popcount over all masks — the masks only gain
    bits under OR, so sum_pop is STRICTLY increasing until the sketch
    fixpoint, making it the correct convergence observable (sum_lzb can
    stall while balls still grow — a delivered bit above a receiver's
    lowest zero changes the mask but not its lzb; review r5);
    est is the FM neighborhood estimate sum_v 2^(avg lzb) / PHI_FM."""
    lzbs = [_lzb(F.col(f"m{j}"), r_bits) for j in range(k)]
    tot = lzbs[0]
    for e in lzbs[1:]:
        tot = tot + e
    pops = [F.bit_count(F.col(f"m{j}")) for j in range(k)]
    ptot = pops[0]
    for p in pops[1:]:
        ptot = ptot + p
    sum_lzb = F.sum(tot.cast("long")).alias("sum_lzb")
    sum_pop = F.sum(ptot.cast("long")).alias("sum_pop")
    est = (F.sum(F.pow(F.lit(2.0), tot / F.lit(float(k)))) / F.lit(PHI_FM)).alias("est")
    return sum_lzb, sum_pop, est


def _summary(h: int, seen: dict) -> dict:
    """One hop's summary row from the observed ``_summary_aggs``."""
    return {"h": h, "sum_lzb": int(seen["sum_lzb"]),
            "sum_pop": int(seen["sum_pop"]), "est": float(seen["est"])}


def _or_hop(adj: DataFrame, state: DataFrame, mask_cols: list,
            extra_cols: list, can_broadcast: bool, n: int) -> DataFrame:
    """ONE OR-semiring superstep shared by anf_sketches /
    effective_diameter / hyperball_harmonic (review r5: the hop body
    was hand-copied three times and had drifted — hyperball lacked both
    regime gates): neighbor bit_or reduce against the dst-partitioned
    cached adjacency + left-join mask merge. ``extra_cols`` pass
    through untouched (hyperball's prev/acc accumulators); ``n`` is the
    vertex count."""
    # neighbor OR-reduce: HashPartitioning(dst) satisfies the agg
    # clustering -> map-side combine then zero exchange
    joined = spmv_step(
        adj, state.select("id", *mask_cols),
        [F.bit_or(c).alias(f"_n{j}") for j, c in enumerate(mask_cols)],
        state, n, can_broadcast)
    return joined.select(
        "id",
        *extra_cols,
        *[
            (F.col(c).bitwiseOR(F.coalesce(F.col(f"_n{j}"), F.lit(0).cast("long")))).alias(c)
            for j, c in enumerate(mask_cols)
        ],
    )


def anf_sketches(
    edges: DataFrame,
    hops: int = 3,
    k: int = 4,
    r_bits: int = 24,
    seed: int = 42,
    directed: bool = False,
    summaries: list | None = None,
) -> DataFrame:
    """Runs ``hops`` OR-semiring supersteps; returns the final sketch
    state (id, m0..m{k-1}). If ``summaries`` is given it is appended
    one dict per hop (h, sum_lzb, est) — observed on the checkpoint
    job itself (h=0 is the seed state: N(0) ~= n)."""
    spark = edges.sparkSession
    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if directed:
        adj = edges.select("src", "dst").distinct().repartition(shuffle_n, "dst")
    else:
        adj = symmetrize_partitioned(edges, "dst", shuffle_n).select("src", "dst")
    adj = adj.persist(StorageLevel.MEMORY_AND_DISK)
    adj.count()

    verts = vertices(edges).persist(StorageLevel.MEMORY_AND_DISK)
    n = verts.count()
    can_broadcast = broadcastable(n)

    state = verts.select("id", *[_init_mask(j, seed, r_bits) for j in range(k)])
    aggs = _summary_aggs(k, r_bits) if summaries is not None else ()
    state, seen = observed_checkpoint(layout_vector(state, n, shuffle_n), 0, aggs)
    if summaries is not None:
        summaries.append(_summary(0, seen))
    verts.unpersist()

    mask_cols = [f"m{j}" for j in range(k)]
    for h in range(1, hops + 1):
        state, seen = observed_checkpoint(
            _or_hop(adj, state, mask_cols, [], can_broadcast, n), h, aggs)
        if summaries is not None:
            summaries.append(_summary(h, seen))

    adj.unpersist()
    return state


def neighborhood_function(
    edges: DataFrame,
    hops: int = 3,
    k: int = 4,
    r_bits: int = 24,
    seed: int = 42,
    directed: bool = False,
) -> DataFrame:
    """Returns (h, sum_lzb, est): the estimated number of vertex pairs
    within distance h, for h = 0..hops. sum_lzb is the exact integer
    sum of lowest-zero-bit indexes (the oracle's bit-stable anchor);
    est rounds to 6dp for cross-engine comparison."""
    spark = edges.sparkSession
    summaries: list = []
    anf_sketches(
        edges, hops=hops, k=k, r_bits=r_bits, seed=seed, directed=directed,
        summaries=summaries,
    )
    out = spark.createDataFrame(
        [(s["h"], s["sum_lzb"], s["est"]) for s in summaries],
        "h INT, sum_lzb BIGINT, est DOUBLE",
    )
    return out.select("h", "sum_lzb", pround("est").alias("est"))


def effective_diameter(
    edges: DataFrame,
    q: float = 0.9,
    max_hops: int = 64,
    k: int = 16,
    r_bits: int = 24,
    seed: int = 42,
) -> dict:
    """Smallest h with N(h) >= q * N(infinity), interpolated like the
    WebGraph convention. Runs hops until the sketches reach their
    FIXPOINT, observed as total mask popcount (sum_pop) unchanged for a
    hop — masks only gain bits under OR, so equal popcount means no
    mask changed. (review r5: the old criterion, sum_lzb stable, is NOT
    a fixpoint test — a delivered bit strictly above a receiver's
    lowest zero changes the mask but not its lzb, so a hop could stall
    sum_lzb while balls were still growing and truncate N(infinity).)
    Each extra hop is one superstep."""
    summaries: list = []
    # run incrementally: hop until the mask popcount is stable
    spark = edges.sparkSession
    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    adj = symmetrize_partitioned(edges, "dst", shuffle_n).select("src", "dst")
    adj = adj.persist(StorageLevel.MEMORY_AND_DISK)
    adj.count()
    verts = vertices(edges).persist(StorageLevel.MEMORY_AND_DISK)
    n = verts.count()
    # same regime gate as anf_sketches: beyond the threshold the sketch
    # state (8*k bytes/vertex) no longer fits a broadcast — fall back to
    # a shuffle join against the dst-partitioned cached adjacency.
    can_broadcast = broadcastable(n)

    state = verts.select("id", *[_init_mask(j, seed, r_bits) for j in range(k)])
    aggs = _summary_aggs(k, r_bits)
    state, seen = observed_checkpoint(layout_vector(state, n, shuffle_n), 0, aggs)
    summaries.append(_summary(0, seen))
    verts.unpersist()

    mask_cols = [f"m{j}" for j in range(k)]
    for h in range(1, max_hops + 1):
        state, seen = observed_checkpoint(
            _or_hop(adj, state, mask_cols, [], can_broadcast, n), h, aggs)
        summaries.append(_summary(h, seen))
        if summaries[-1]["sum_pop"] == summaries[-2]["sum_pop"]:
            break
    adj.unpersist()

    n_inf = summaries[-1]["est"]
    target = q * n_inf
    eff = float(len(summaries) - 1)
    for i, s in enumerate(summaries):
        if s["est"] >= target:
            if i == 0:
                eff = 0.0
            else:
                prev, cur = summaries[i - 1]["est"], s["est"]
                frac = (target - prev) / (cur - prev) if cur > prev else 0.0
                eff = (i - 1) + frac
            break
    return {
        "effective_diameter": pround_py(eff, 3),
        "hops_run": len(summaries) - 1,
        "nf": summaries,
    }


def hyperball_harmonic(
    edges: DataFrame,
    hops: int = 3,
    k: int = 4,
    r_bits: int = 24,
    seed: int = 42,
    directed: bool = False,
) -> DataFrame:
    """HyperBall harmonic-centrality estimates (Boldi & Vigna, "In-Core
    Computation of Geometric Centralities with HyperBall", 2013): run
    the ANF sketch supersteps, and per vertex accumulate

        harmonic(v) ~= sum_{h=1..hops} (|B(v,h)| - |B(v,h-1)|) / h

    from the per-vertex Flajolet-Martin ball-size estimates. This is
    the centrality that replaces exact multi-root BFS closeness
    (closeness.py) at crawl scale: every vertex gets a score in
    ``hops`` supersteps total, instead of one BFS per root.

    Returns (id, harmonic_est) rounded 6dp. Ball estimates are
    monotone (masks only gain bits), so increments are >= 0.

    Bit-portability: the mask pipeline is the proven anf machinery
    (md5 seeds, OR-reduce, exact-power-of-two log2); the per-hop
    estimate pow(2, lzb_sum/k)/PHI_FM and the left-to-right increment
    fold are composed identically in the DuckDB twin (the same pow
    portability the eff_diameter oracle already exercises).

    Scale shape: identical to anf_sketches — one dst-clustered
    OR-reduce join per superstep, state = (id, k masks, 2 doubles);
    the accumulator rides the superstep, adding no extra job.
    """
    spark = edges.sparkSession
    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if directed:
        adj = edges.select("src", "dst").distinct().repartition(shuffle_n, "dst")
    else:
        adj = symmetrize_partitioned(edges, "dst", shuffle_n).select("src", "dst")
    adj = adj.persist(StorageLevel.MEMORY_AND_DISK)
    adj.count()

    mask_cols = [f"m{j}" for j in range(k)]

    def _est():
        lzbs = [_lzb(F.col(c), r_bits) for c in mask_cols]
        tot = lzbs[0]
        for e in lzbs[1:]:
            tot = tot + e
        return F.pow(F.lit(2.0), tot / F.lit(float(k))) / F.lit(PHI_FM)

    verts = vertices(edges).persist(StorageLevel.MEMORY_AND_DISK)
    n = verts.count()
    can_broadcast = broadcastable(n)

    state = (
        verts
        .select("id", *[_init_mask(j, seed, r_bits) for j in range(k)])
        .withColumn("prev", _est())
        .withColumn("acc", F.lit(0.0))
    )
    state = layout_vector(state, n, shuffle_n).localCheckpoint(eager=True)
    verts.unpersist()
    for h in range(1, hops + 1):
        merged = _or_hop(adj, state, mask_cols, ["prev", "acc"],
                         can_broadcast, n).withColumn("_e", _est())
        new_state = merged.select(
            "id", *mask_cols,
            F.col("_e").alias("prev"),
            (F.col("acc")
             + (F.col("_e") - F.col("prev")) / F.lit(float(h))).alias("acc"),
        )
        state = superstep_checkpoint(new_state, h)
    adj.unpersist()
    return state.select("id", pround("acc").alias("harmonic_est"))


def two_hop_reach(edges: DataFrame,
                  max_degree: int | None = None) -> DataFrame:
    """Exact 2-hop ball sizes: (id, reach1, reach2) for every vertex of
    the undirected simple graph, where reach1 = |{u != v : d(v,u) = 1}|
    (the degree) and reach2 = |{u != v : d(v,u) <= 2}|. The EXACT
    companion of the ANF sketch estimates at hop 2 — the pair
    (anf_sketches approximate, two_hop_reach exact) mirrors the
    reference's EstimateNNZ-vs-exact-reduce split, and reach2/reach1 is
    the classic neighborhood-expansion feature for spam/hub
    classification. Exact integers only.

    Scale shape: one self-equi-join on the wedge center (the same
    sum-of-degree-squares bound every exact 2-hop op pays — the ANF
    sketch is precisely the operator that REPLACES this beyond hop 2 or
    under heavier skew) + a distinct + one count agg. ``max_degree``
    drops wedge CENTERS above the cap before the join (the butterflies
    hub-cap pattern: a 10^6-degree center contributes 10^12 pairs and
    no locality signal); endpoints keep their full 1-hop sets, and the
    oracle applies the identical cap.
    """
    sym = (
        edges.select("src", "dst").where(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("a"),
                F.greatest("src", "dst").alias("b"))
        .distinct()
    )
    dirs = sym.unionByName(
        sym.select(F.col("b").alias("a"), F.col("a").alias("b")))
    centers = dirs
    if max_degree is not None:
        if max_degree < 1:
            raise ValueError(f"max_degree must be >= 1, got {max_degree}")
        ok = (
            dirs.groupBy("a").agg(F.count(F.lit(1)).alias("_d"))
            .where(F.col("_d") <= max_degree).select("a")
        )
        centers = dirs.join(ok, "a", "left_semi")
    hop2 = (
        centers.select(F.col("a").alias("_m"), F.col("b").alias("v"))
        .join(centers.select(F.col("a").alias("_m"), F.col("b").alias("u")),
              "_m")
        .where(F.col("v") != F.col("u"))
        .select("v", "u")
    )
    ball = dirs.select(F.col("a").alias("v"), F.col("b").alias("u")) \
        .unionByName(hop2).distinct()
    deg = dirs.groupBy(F.col("a").alias("id")).agg(
        F.count(F.lit(1)).alias("reach1"))
    r2 = ball.groupBy(F.col("v").alias("id")).agg(
        F.count(F.lit(1)).alias("reach2"))
    verts = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    return (
        verts.join(deg, "id", "left").join(r2, "id", "left")
        .select("id",
                F.coalesce("reach1", F.lit(0)).alias("reach1"),
                F.coalesce("reach2", F.lit(0)).alias("reach2"))
    )
