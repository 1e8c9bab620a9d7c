"""FastRP graph embeddings — random-projection SpMV power stack.

FastRP (Chen, Sui, Perozzi & Skiena, WWW 2019) builds node embeddings
as a weighted sum of adjacency powers applied to a very sparse random
projection matrix:  U = sum_k  w_k * A^k R.  In CombBLAS terms this is
dense multi-vector SpMV iterated k times (the same primitive the
reference drives through SpParMat::SpMV over FullyDistVec blocks,
include/CombBLAS/ParFriends.h SpMV paths) — here each projection
dimension is one dense LONG column and a superstep is ONE
join+groupBy, all d dimensions riding the same shuffle.

Bit-portability design (the katz/eigencentrality trick, taken
further): the projection entries are drawn {-1, 0, +1} (density 1/2)
from the repo's counter-hash (md5 first-8-hex-chars, exactly the
walks.py twin rule) and the level weights are powers of two, so EVERY
intermediate — including the final embedding — is a BIGINT. Sums of
integers are associative: the result is bit-identical across engines,
partition counts, and execution orders, which is what lets the DuckDB
oracle check values exactly and the parallelism-invariance property
hold. The paper's D^-1 row normalization would introduce non-dyadic
rationals (1/3...); normalize at readout if cosine geometry is needed
(`l2_normalized=True` divides by the row norm once, rounded 6dp).

Magnitude bound: |e_j(v)| <= sum_k 2^{K-k} D^k for max in-degree D —
at K=3, D up to ~10^5 stays inside int64 with 400x headroom. At K>=5
on hub-heavy graphs, check the bound before running: Spark would wrap
silently where DuckDB raises (the engine/oracle divergence class
events_graph guards against with its mod-before-multiply rule).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from combblas_spark.portable import pround

from combblas_spark.graph import vertices
from combblas_spark.operators.spmv import spmv_step
from combblas_spark.runtime.plans import (
    broadcastable,
    layout_vector,
    superstep_checkpoint,
)


def projection_entry(idc: Column, j: int, seed: int) -> Column:
    """Deterministic very-sparse projection entry in {-1, 0, +1}.

    Counter-hash rule (walks.py:_pick twin): first 8 md5 hex chars of
    "id:j:seed" as a long, mod 4 — 0 -> +1, 1 -> -1, else 0. DuckDB
    twin: ('0x' || substr(md5(id || ':j:seed'), 1, 8))::BIGINT % 4.
    """
    key = F.concat_ws(":", idc.cast("string"), F.lit(str(j)), F.lit(str(seed)))
    h = F.conv(F.substring(F.md5(key.cast("binary")), 1, 8), 16, 10).cast("long") % 4
    return (
        F.when(h == 0, F.lit(1)).when(h == 1, F.lit(-1)).otherwise(F.lit(0))
    ).cast("long")


def fastrp(
    edges: DataFrame,
    d: int = 8,
    n_iter: int = 3,
    seed: int = 17,
    l2_normalized: bool = False,
    overflow_check: str = "strict",
) -> DataFrame:
    """FastRP embeddings over IN-link adjacency powers.

        x^0 = R   (counter-hash {-1,0,+1}, density 1/2)
        x^k(v) = sum_{u -> v} x^{k-1}(u)          (dense SpMV)
        e(v)   = sum_{k=1..K} 2^{K-k} * x^k(v)    (integer level mix)

    Returns (id, e0..e{d-1}) as BIGINT columns; with
    ``l2_normalized=True``, doubles e_j / ||e|| rounded 6dp instead
    (zero rows stay zero).

    Scale design: identical regime machinery to katz() — ONE
    dst-partitioned cached edge copy, the d-column x vector broadcast
    into the join while the vertex set fits, groupBy(dst) satisfied by
    the cache partitioning -> zero edge-sized exchange per superstep in
    the broadcast regime; the big-vector regime co-partitions the
    vertex-sized stitch joins. All d dimensions travel in the SAME
    superstep job — d never multiplies the row count, only the row
    width (the reason for d columns instead of an exploded (id, j)
    layout: same bytes, |E| rows instead of d|E|).
    """
    if d < 1:
        raise ValueError(f"fastrp: d must be >= 1, got {d}")
    if n_iter < 1:
        raise ValueError(f"fastrp: n_iter must be >= 1, got {n_iter}")
    spark = edges.sparkSession
    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))

    e = edges.select("src", "dst").repartition(shuffle_n, "dst") \
        .persist(StorageLevel.MEMORY_AND_DISK)
    e.count()
    # ADVICE r4 guard: |x^k(v)| <= D^k for max in-degree D (|x^0| <= 1),
    # so |e_j| <= sum_{k=1..K} 2^{K-k} D^k. Spark WRAPS int64 silently
    # where DuckDB raises (the events_graph divergence class), so raise
    # BEFORE running when the bound can exceed int64. One cheap agg job
    # over the already-cached edge set.
    # The bound is WORST-CASE (all projection signs aligned along every
    # path); real signed sums concentrate near sqrt-of-path-count scale,
    # so ``overflow_check="off"`` lets a caller who accepts the
    # adversarial-alignment risk run hub-heavy graphs (review r5: a max
    # in-degree of ~2.1M trips the strict D^3 bound at the default
    # n_iter=3). The strict default stays: the guard protects oracle
    # bit-exactness, and Spark wraps where DuckDB raises.
    if overflow_check not in ("strict", "off"):
        raise ValueError(
            f"fastrp: overflow_check must be 'strict' or 'off', "
            f"got {overflow_check!r}")
    if overflow_check == "strict":
        max_deg = (e.groupBy("dst").agg(F.count(F.lit(1)).alias("c"))
                   .agg(F.max("c").alias("m")).collect()[0]["m"]) or 0
        bound = sum((1 << (n_iter - 1 - it)) * (max_deg ** (it + 1))
                    for it in range(n_iter))
        if bound >= (1 << 63):
            raise ValueError(
                f"fastrp: int64 overflow risk — max in-degree {max_deg} at "
                f"n_iter={n_iter} bounds |e_j| by {bound} >= 2^63; lower "
                "n_iter, pre-thin hub in-edges, or pass "
                "overflow_check='off' to accept the worst-case-alignment "
                "risk (the actual signed sums are typically far smaller)")
    verts = vertices(edges).persist(StorageLevel.MEMORY_AND_DISK)
    n = verts.count()
    can_broadcast = broadcastable(n)

    xcols = [f"x{j}" for j in range(d)]
    acols = [f"e{j}" for j in range(d)]
    state = verts.select(
        "id",
        *[projection_entry(F.col("id"), j, seed).alias(x)
          for j, x in enumerate(xcols)],
        *[F.lit(0).cast("long").alias(a) for a in acols],
    )
    state = layout_vector(state, n, shuffle_n).localCheckpoint(eager=True)

    for it in range(n_iter):
        w = 1 << (n_iter - 1 - it)
        joined = spmv_step(
            e, state.select("id", *[F.col(x).alias("_" + x) for x in xcols]),
            [F.sum("_" + x).alias("i" + x) for x in xcols], state, n, can_broadcast)
        newx = {x: F.coalesce(F.col("i" + x), F.lit(0)).cast("long") for x in xcols}
        state = superstep_checkpoint(
            joined.select(
                "id",
                *[newx[x].alias(x) for x in xcols],
                *[(F.col(a) + F.lit(w) * newx[x]).alias(a)
                  for x, a in zip(xcols, acols)],
            ),
            it,
        )

    out = state.select("id", *acols)
    if l2_normalized:
        norm2 = None
        for a in acols:
            sq = (F.col(a) * F.col(a)).cast("double")
            norm2 = sq if norm2 is None else norm2 + sq
        nrm = F.sqrt(norm2)
        out = out.select(
            "id",
            *[pround(F.when(nrm > 0, F.col(a).cast("double") / nrm)
                      .otherwise(F.lit(0.0))).alias(a) for a in acols],
        )
    out = out.localCheckpoint(eager=True)
    verts.unpersist()
    e.unpersist()
    return out
