"""Deterministic random walks — the DeepWalk/node2vec corpus generator.

Not in the reference (CombBLAS has no sampling kernels); this is the
graph-side training-data op a webgraph user runs next: emit K walks of
length L per vertex as (start, walk, step, vertex) rows, the input
corpus for skip-gram graph embeddings (Perozzi et al. 2014).

Determinism: step t of walk (v, k) moves to the neighbor whose dense
per-source index equals  md5("v:k:t:seed") % outdeg(cur)  — a counter-
hash choice, the same seeded-PRNG-free trick as the RMAT generator
(sources/rmat.py), so any partitioning/retry produces the identical
corpus AND a DuckDB twin can unroll the exact recurrence.

Scale design: the adjacency is ranked ONCE (row_number per src over a
single shuffle), cached partitioned by src; each step is one join of
the walk-state vector against it on (cur == src AND idx == pick) — the
SpMSpV shape, state-sized traffic only. Walks that reach a sink vertex
terminate (inner join), exactly like the reference corpus generators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from combblas_spark.portable import pround

from combblas_spark.graph import vertices
from combblas_spark.runtime.plans import observed_checkpoint


def _pick(start, k, t: int, seed: int):
    """Counter-hash neighbor pick: first 8 md5 hex chars as a long
    (same Column idiom as the thin-sample predicate / ANF masks, and
    bit-identical to the DuckDB twin's ('0x'||substr(md5(..)))::BIGINT)."""
    key = F.concat_ws(
        ":", start.cast("string"), k.cast("string"),
        F.lit(str(t)), F.lit(str(seed)),
    )
    return F.conv(F.substring(F.md5(key.cast("binary")), 1, 8), 16, 10).cast("long")


def random_walks(
    edges: DataFrame,
    walk_length: int = 10,
    walks_per_vertex: int = 2,
    seed: int = 42,
) -> DataFrame:
    """Returns (start, walk, step, vertex): walk ``walk`` from vertex
    ``start`` visited ``vertex`` at ``step`` (0 = the start itself,
    up to ``walk_length``; shorter if a sink is reached)."""
    spark = edges.sparkSession
    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))

    # rank each source's neighbors once: idx in [0, outdeg) ordered by
    # dst (deterministic), outdeg alongside — one window over one shuffle
    w = Window.partitionBy("src").orderBy("dst")
    adj = (
        edges.select("src", "dst").dropDuplicates(["src", "dst"])
        .repartition(shuffle_n, "src")
        .select(
            "src", "dst",
            (F.row_number().over(w) - 1).alias("idx"),
            F.count(F.lit(1)).over(Window.partitionBy("src")).alias("deg"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    adj.count()

    ks = spark.range(walks_per_vertex).select(F.col("id").cast("long").alias("walk"))
    state = (
        vertices(edges).crossJoin(F.broadcast(ks))
        .select(F.col("id").alias("start"), "walk", F.col("id").alias("vertex"))
        .repartition(shuffle_n, "start", "walk")
        .localCheckpoint(eager=True)
    )
    out = state.select("start", "walk", F.lit(0).alias("step"), "vertex")

    for t in range(1, walk_length + 1):
        pick = _pick(F.col("start"), F.col("walk"), t, seed)
        state = (
            state.join(adj, [state["vertex"] == adj["src"]])
            .where(F.col("idx") == pick % F.col("deg"))
            .select("start", "walk", F.col("dst").alias("vertex"))
        )
        state, seen = observed_checkpoint(state, t, [F.count(F.lit(1)).alias("n")])
        if seen["n"] == 0:
            break
        out = out.unionByName(
            state.select("start", "walk", F.lit(t).alias("step"), "vertex"))

    out = out.localCheckpoint(eager=True)
    adj.unpersist()
    return out


def node2vec_walks(
    edges: DataFrame,
    walk_length: int = 6,
    walks_per_vertex: int = 1,
    w_return: int = 1,
    w_common: int = 4,
    w_far: int = 2,
    seed: int = 42,
) -> DataFrame:
    """Second-order (node2vec) biased walks — Grover & Leskovec 2016,
    with the search bias expressed as INTEGER weights so the whole
    recurrence stays bit-portable (no float sampling):

        step 1: uniform counter-hash pick (identical to random_walks);
        step t>=2 from ``cur`` with predecessor ``prev``: candidate
        neighbor d of cur gets weight
            w_return  if d == prev            (node2vec 1/p)
            w_common  if edge prev->d exists  (node2vec 1, BFS-ish)
            w_far     otherwise               (node2vec 1/q, DFS-ish)
        and the walk moves to the candidate whose cumulative-weight
        range [cum-w, cum) (candidates ordered by dst) contains
        md5("start:walk:t:seed") % total_weight.

    Defaults (1, 4, 2) encode p=4, q=2 scaled by 4 — q>1 keeps the
    walk near the predecessor (BFS-leaning), which Grover & Leskovec
    §3.1 associate with STRUCTURAL-EQUIVALENCE embeddings; for
    homophily/community embeddings the paper uses q<1 (DFS-leaning),
    e.g. w_return=2, w_common=2, w_far=4 for p=1, q=0.5 (review r5:
    an earlier revision mislabeled the default as homophily-leaning).
    Returns (start, walk, step, vertex), the same corpus schema as
    random_walks, so skipgram_pairs/ppmi compose.

    Determinism: the pick is the same counter-hash family as
    random_walks/_pick — partitioning- and retry-invariant, and a
    DuckDB twin unrolls the identical integer recurrence (the weights
    and cumulative sums are exact BIGINTs; no float enters until
    nothing is left to compute).

    Scale shape: the first-order adjacency is ranked once and cached
    by src (as in random_walks). Each biased step is one state-vector
    join against the src-partitioned adjacency (fan-out = outdeg(cur)),
    one LEFT join against the distinct edge set on (prev, dst) for the
    membership flag, and one per-(start,walk) window whose partition
    cardinality is outdeg(cur) — never global. A 10^6-degree hub makes
    that window 10^6 rows for walks sitting on it; that is inherent to
    second-order sampling (the alias-table trick costs O(sum deg(u)*
    deg(v)) precompute instead — strictly worse on webgraphs), and AQE
    splits the skewed shuffle partitions feeding it.
    """
    if walk_length < 1:
        raise ValueError(f"node2vec_walks: walk_length must be >= 1, got {walk_length}")
    for name, w in (("w_return", w_return), ("w_common", w_common), ("w_far", w_far)):
        if int(w) != w or w < 0:
            raise ValueError(f"node2vec_walks: {name} must be a non-negative int, got {w}")
    if w_return + w_common + w_far <= 0:
        raise ValueError("node2vec_walks: at least one weight must be positive")
    spark = edges.sparkSession
    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))

    wsp = Window.partitionBy("src").orderBy("dst")
    de = (
        edges.select("src", "dst").dropDuplicates(["src", "dst"])
        .repartition(shuffle_n, "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    adj = (
        de.select(
            "src", "dst",
            (F.row_number().over(wsp) - 1).alias("idx"),
            F.count(F.lit(1)).over(Window.partitionBy("src")).alias("deg"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    adj.count()

    ks = spark.range(walks_per_vertex).select(F.col("id").cast("long").alias("walk"))
    state = (
        vertices(edges).crossJoin(F.broadcast(ks))
        .select(F.col("id").alias("start"), "walk",
                F.col("id").alias("vertex"),
                F.lit(None).cast("long").alias("prev"))
        .repartition(shuffle_n, "start", "walk")
        .localCheckpoint(eager=True)
    )
    out = state.select("start", "walk", F.lit(0).alias("step"), "vertex")

    # step 1: no predecessor yet — uniform pick on the ranked adjacency
    pick1 = _pick(F.col("start"), F.col("walk"), 1, seed)
    state = (
        state.join(adj, [state["vertex"] == adj["src"]])
        .where(F.col("idx") == pick1 % F.col("deg"))
        .select("start", "walk", F.col("dst").alias("vertex"),
                adj["src"].alias("prev"))
    )
    state, seen = observed_checkpoint(state, 1, [F.count(F.lit(1)).alias("n")])
    if seen["n"]:
        out = out.unionByName(
            state.select("start", "walk", F.lit(1).alias("step"), "vertex"))

        mem = de.select(F.col("src").alias("prev"), "dst",
                        F.lit(1).alias("_m"))
        wcum = Window.partitionBy("start", "walk").orderBy("dst") \
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        wtot = Window.partitionBy("start", "walk")
        nbrs = adj.select(F.col("src").alias("_cur"), "dst")
        for t in range(2, walk_length + 1):
            cand = (
                state.withColumnRenamed("vertex", "_cur")
                .join(nbrs, "_cur")
                .join(mem, ["prev", "dst"], "left")
                .select(
                    "start", "walk", "_cur", "dst",
                    F.when(F.col("dst") == F.col("prev"), F.lit(w_return))
                    .when(F.col("_m").isNotNull(), F.lit(w_common))
                    .otherwise(F.lit(w_far)).cast("long").alias("_w"),
                )
            )
            pick = _pick(F.col("start"), F.col("walk"), t, seed)
            state = (
                cand.select(
                    "start", "walk", "_cur", "dst", "_w",
                    F.sum("_w").over(wcum).alias("_cum"),
                    F.sum("_w").over(wtot).alias("_tot"),
                )
                .where(F.col("_tot") > 0)
                .where((pick % F.col("_tot") >= F.col("_cum") - F.col("_w"))
                       & (pick % F.col("_tot") < F.col("_cum")))
                .select("start", "walk", F.col("dst").alias("vertex"),
                        F.col("_cur").alias("prev"))
            )
            state, seen = observed_checkpoint(state, t, [F.count(F.lit(1)).alias("n")])
            if seen["n"] == 0:
                break
            out = out.unionByName(
                state.select("start", "walk", F.lit(t).alias("step"), "vertex"))

    out = out.localCheckpoint(eager=True)
    adj.unpersist()
    de.unpersist()
    return out


def weighted_walks(
    edges: DataFrame,
    weight_col: str = "val",
    walk_length: int = 6,
    walks_per_vertex: int = 1,
    seed: int = 42,
) -> DataFrame:
    """First-order random walks with transition probability proportional
    to an INTEGER edge weight (parallel-edge multiplicity on a
    multigraph, or any integer strength column): the DeepWalk corpus
    generator for weighted link graphs. Same (start, walk, step,
    vertex) schema and counter-hash determinism as random_walks; the
    pick is the cumulative-range rule of node2vec_walks specialised to
    first order —

        r = md5("start:walk:t:seed") % strength(cur)
        move to the neighbor (dst-ordered) whose cumulative-weight
        range [cum - w, cum) contains r,

    which IS weight-proportional sampling, exactly, in BIGINT
    arithmetic (no float sampling; both engines unroll identically).

    Scale shape: weights are pre-aggregated per (src, dst) once
    (map-side combinable) and cached by src; each step is one
    state-vector join plus one per-(start,walk) window bounded by
    outdeg(cur) — the node2vec step minus the membership join.
    """
    if walk_length < 1:
        raise ValueError(f"weighted_walks: walk_length must be >= 1, got {walk_length}")
    spark = edges.sparkSession
    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))

    w = (F.col(weight_col).cast("long") if weight_col is not None
         else F.lit(1).cast("long"))
    adj = (
        edges.select("src", "dst", w.alias("w"))
        .groupBy("src", "dst").agg(F.sum("w").alias("w"))
        .where(F.col("w") > 0)
        .repartition(shuffle_n, "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    adj.count()

    ks = spark.range(walks_per_vertex).select(F.col("id").cast("long").alias("walk"))
    state = (
        vertices(edges).crossJoin(F.broadcast(ks))
        .select(F.col("id").alias("start"), "walk", F.col("id").alias("vertex"))
        .repartition(shuffle_n, "start", "walk")
        .localCheckpoint(eager=True)
    )
    out = state.select("start", "walk", F.lit(0).alias("step"), "vertex")

    wcum = Window.partitionBy("start", "walk").orderBy("dst") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wtot = Window.partitionBy("start", "walk")
    for t in range(1, walk_length + 1):
        pick = _pick(F.col("start"), F.col("walk"), t, seed)
        state = (
            state.withColumnRenamed("vertex", "_cur")
            .join(adj.select(F.col("src").alias("_cur"), "dst", "w"), "_cur")
            .select(
                "start", "walk", "dst", "w",
                F.sum("w").over(wcum).alias("_cum"),
                F.sum("w").over(wtot).alias("_tot"),
            )
            .where((pick % F.col("_tot") >= F.col("_cum") - F.col("w"))
                   & (pick % F.col("_tot") < F.col("_cum")))
            .select("start", "walk", F.col("dst").alias("vertex"))
        )
        state, seen = observed_checkpoint(state, t, [F.count(F.lit(1)).alias("n")])
        if seen["n"] == 0:
            break
        out = out.unionByName(
            state.select("start", "walk", F.lit(t).alias("step"), "vertex"))

    out = out.localCheckpoint(eager=True)
    adj.unpersist()
    return out


def skipgram_pairs(
    walks: DataFrame,
    window: int = 2,
) -> DataFrame:
    """(center, context, cnt) skip-gram co-occurrence pairs from a
    random_walks() corpus: vertices within ``window`` steps of each
    other on the same walk (both directions, center != context),
    aggregated to counts — the exact input of a word2vec-style
    embedding trainer.

    One self-equi-join on the walk key with a bounded step-band
    predicate (never a cross join: the planner turns the equi-key into
    the shuffle key and the band into a post-join filter), then one
    count agg — both map-side combinable. Walk rows are (n_vertices x
    walks x length), so at 10^12-vertex scale this stays
    corpus-sized, never all-pairs."""
    a = walks.select(F.col("start"), F.col("walk"),
                     F.col("step").alias("_s1"), F.col("vertex").alias("center"))
    b = walks.select(F.col("start"), F.col("walk"),
                     F.col("step").alias("_s2"), F.col("vertex").alias("context"))
    return (
        a.join(b, ["start", "walk"])
        .where((F.abs(F.col("_s1") - F.col("_s2")) <= window)
               & (F.col("_s1") != F.col("_s2"))
               & (F.col("center") != F.col("context")))
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def ppmi(pairs: DataFrame) -> DataFrame:
    """Positive PMI association scores over a (center, context, cnt)
    co-occurrence table (the skipgram_pairs output) — the classic
    count-based embedding prep (Levy & Goldberg 2014: SGNS implicitly
    factorizes the shifted-PMI matrix). Returns
    (center, context, cnt, ppmi_odds) where

        ppmi_odds = max(1, cnt(c,x) * T / (cnt(c) * cnt(x)))

    i.e. the PMI **odds ratio** e^pmi clamped at 1 (= PPMI's clamp at
    0), rounded 6dp. The ratio — not its log — is emitted for the same
    bit-portability reason doc_rarity/tfidf_top_terms use raw inverse
    frequencies: the formula is then integer aggregates + IEEE-exact
    double * and /, identical to the bit in the DuckDB twin, while
    ln() is libm-dependent. log-PMI is a monotone transform; rankings
    and the positive clamp are unchanged.

    Scale: two hash re-aggregations of the pair table (marginals per
    center / per context, map-side combinable), one broadcast 1-row
    total, two equi-joins back on center/context. Everything is
    pair-table-sized — never vocabulary-squared; hub-vertex skew lands
    in the joins where AQE's skew split applies, not in a window.
    """
    t = pairs.agg(F.sum("cnt").alias("_t"))
    cm = pairs.groupBy("center").agg(F.sum("cnt").alias("_cc"))
    xm = pairs.groupBy("context").agg(F.sum("cnt").alias("_cx"))
    ratio = (
        (F.col("cnt").cast("double") * F.col("_t").cast("double"))
        / (F.col("_cc").cast("double") * F.col("_cx").cast("double"))
    )
    return (
        pairs.join(cm, "center")
        .join(xm, "context")
        .crossJoin(F.broadcast(t))
        .select(
            "center", "context", "cnt",
            pround(F.greatest(ratio, F.lit(1.0))).alias("ppmi_odds"),
        )
    )
