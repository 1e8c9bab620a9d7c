"""Graph (edge-table) construction and preparation.

The reference builds a matrix from a DistEdgeList by summing duplicates
and optionally removing loops (SpParMat ctor, SpParMat.h:85-86;
TopDownBFS.cpp:309-324), symmetrizes with A += A^T (CC.cpp:147-153), and
maps string vertex labels to dense ids (ReadGeneralizedTuples,
SpParMat.cpp:3895). Same semantics here over DataFrames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

# Knuth multiplicative hash constant — used by the deterministic
# events->edges derivation (kept SQL-expressible so the DuckDB oracle
# can reproduce it bit-for-bit).
HASH_C = 2654435761


def hashed_dst(event_id, nv: int):
    """THE canonical event->dst vertex rule, shared by events_graph and
    every streaming site (review r4: three hand-copied variants of this
    expression missed the overflow fix). Mod-before-multiply is
    mathematically identical to (event_id * HASH_C) % nv but never
    wraps int64 for nv < 3.03e9; larger vertex spaces raise."""
    nv = int(nv)
    if nv > 3_037_000_499:      # floor(sqrt(2^63)): (nv-1)^2 must fit int64
        raise ValueError(f"hashed_dst: vertex space {nv} too large for "
                         "overflow-free modular hashing")
    return ((F.col(event_id) if isinstance(event_id, str) else event_id)
            % F.lit(nv)) * F.lit(HASH_C % nv) % F.lit(nv)


def build_graph(
    raw_edges: DataFrame,
    drop_loops: bool = True,
    sum_duplicates: bool = True,
    symmetrize: bool = False,
) -> DataFrame:
    """Edge list -> canonical graph triples (src, dst, val:double).

    Mirrors the reference's matrix-construction pipeline:
    dedup-with-sum (SpParMat.h:85-86), RemoveLoops (TopDownBFS.cpp:324),
    Symmetricize A += A^T (CC.cpp:147-153).
    """
    e = raw_edges.select(
        F.col("src").cast("long"),
        F.col("dst").cast("long"),
        (F.col("val").cast("double") if "val" in raw_edges.columns else F.lit(1.0)).alias("val"),
    )
    if drop_loops:
        e = e.filter(F.col("src") != F.col("dst"))
    if symmetrize:
        e = e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "val"))
    if sum_duplicates or symmetrize:
        e = e.groupBy("src", "dst").agg(F.sum("val").alias("val"))
    return e


def symmetrize(edges: DataFrame) -> DataFrame:
    """A = max(A, A^T) on the boolean pattern — undirected view."""
    sym = edges.select("src", "dst").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return sym.distinct().withColumn("val", F.lit(1.0))


def symmetrize_partitioned(edges: DataFrame, key: str, num_partitions: int) -> DataFrame:
    """symmetrize() already partitioned by ``key`` — in ONE exchange.

    symmetrize().repartition(key) pays two edge-sized shuffles (the
    dedup's hash(src,dst) exchange, then the layout repartition).
    Partitioning by ``key`` FIRST lets the dedup aggregate run on top
    with no further exchange: HashPartitioning(key) co-locates every
    duplicate of (src,dst) because key is one of the two columns, and
    Catalyst accepts it for the (src,dst) clustering (subset rule).
    Output carries HashPartitioning(key, num_partitions) — exactly what
    the iterative loops cache. Plan-asserted in tests/test_operators.
    """
    sym = edges.select("src", "dst").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return (
        sym.repartition(num_partitions, key)
        .dropDuplicates(["src", "dst"])
        .withColumn("val", F.lit(1.0))
    )


def simple_adjacency(edges: DataFrame, key: str, directed: bool = False) -> DataFrame:
    """The distinct, loop-free (src, dst) pairs of ``edges``, symmetrized
    unless ``directed``, hash-partitioned by ``key`` in one exchange
    (``symmetrize_partitioned``; directed: the repartition comes first
    so the dedup rides it), persisted MEMORY_AND_DISK and counted.
    Self-loops are dropped: a self-loop never changes a BFS level, a
    path count, an SCC, a bow-tie region, a k-core or a colouring. The
    caller owns the unpersist."""
    shuffle_n = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if directed:
        adj = (edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
               .repartition(shuffle_n, key).dropDuplicates(["src", "dst"]))
    else:
        adj = (symmetrize_partitioned(edges, key, shuffle_n)
               .filter(F.col("src") != F.col("dst")).select("src", "dst"))
    adj = adj.persist(StorageLevel.MEMORY_AND_DISK)
    adj.count()
    return adj


def vertices(edges: DataFrame) -> DataFrame:
    """All vertex ids appearing as src or dst: (id)."""
    return (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )


def degrees(edges: DataFrame, dim: str = "out") -> DataFrame:
    """(id, val=degree); dim in {out,in} (Reduce(Row/Column) with plus,
    SpParMat.cpp:888; TopDownBFS.cpp:315)."""
    key = "src" if dim == "out" else "dst"
    return edges.groupBy(F.col(key).alias("id")).agg(F.count(F.lit(1)).cast("double").alias("val"))


def relabel_to_dense_ids(edges_by_label: DataFrame, label_cols=("src_url", "dst_url")) -> tuple[DataFrame, DataFrame]:
    """String-labeled edges -> dense int64 ids + the label dictionary.

    The analogue of ReadGeneralizedTuples' distributed label->id pass
    (SpParMat.cpp:3895). Ids are assigned by sorted label order so the
    mapping is deterministic and resume-stable. Returns
    (edges(src,dst), dict(id, label)).

    Scale design: distributed sort (range-partitioned exchange) +
    JVM-only zipWithIndex (per-partition counts -> contiguous global
    offsets; operators.indexing.zip_with_index) — the id of a label
    depends only on the sorted order, not on partition boundaries, so
    the mapping is identical at any parallelism, and NO ROW crosses a
    Python worker: at the 10^12-document design point this path
    dictionary-encodes every URL, so a per-row Python hop here was the
    engine's one true scale-killer (VERDICT r2). The physical plan is
    asserted Python-free in tests/test_ingestion.py.
    """
    from combblas_spark.operators.indexing import zip_with_index

    s, d = label_cols
    labels = (
        edges_by_label.select(F.col(s).alias("label"))
        .unionByName(edges_by_label.select(F.col(d).alias("label")))
        .distinct()
    )
    dict_df = zip_with_index(
        labels, [F.col("label").asc()], ["label"], pos_col="id")
    e = (
        edges_by_label
        .join(dict_df.select(F.col("label").alias(s), F.col("id").alias("src")), s)
        .join(dict_df.select(F.col("label").alias(d), F.col("id").alias("dst")), d)
        .select("src", "dst")
    )
    return e, dict_df


def events_graph(spark: SparkSession, sf_dir: str, pred=None) -> DataFrame:
    """Canonical deterministic link graph derived from the events table.

    Rule (exactly reproducible in ANSI SQL for the DuckDB oracle):
        src = user_id
        dst = ((event_id % nv) * (2654435761 % nv)) % nv,  nv = max(user_id)+1
        drop loops, sum duplicate edges into val (double).

    ``pred`` (a Column over the events schema) optionally restricts the
    event rows — the snapshot-subgraph hook (Python twin of
    events_graph_sql(pred=)); nv is ALWAYS computed over the full table
    so snapshot vertex ids line up across snapshots.

    The mod-before-multiply form is mathematically identical to
    (event_id * 2654435761) % nv but never overflows int64 for
    nv < 3.03e9 (review finding r4: the naive product wraps in Spark's
    non-ANSI mode for event_id >= ~3.5e9 while DuckDB raises — silent
    engine/oracle divergence and negative vertex ids). nv beyond that
    bound raises rather than risking wraparound.

    This is the sandbox stand-in for the Common-Crawl edge extraction
    (BASELINE.json input_hint) on driver-provided data: a deterministic
    function of a real table, giving a multigraph with duplicate edges
    (exercising the sum-duplicates build) over a dense vertex space.
    """
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    mx = events.agg(F.max("user_id")).collect()[0][0]
    if mx is None:
        raise ValueError(f"{sf_dir}/events.parquet is empty (or user_id "
                         "all-NULL); cannot derive a vertex space")
    nv = int(mx) + 1
    if pred is not None:
        events = events.where(pred)
    raw = events.select(
        F.col("user_id").alias("src"),
        hashed_dst("event_id", nv).alias("dst"),
    )
    return build_graph(raw, drop_loops=True, sum_duplicates=True)


def events_graph_sql(with_val: bool = True, pred: str = "") -> str:
    """The DuckDB-side twin of events_graph() as a CTE body.

    Returns SQL text for a derived table named nothing (caller wraps it
    in ``WITH edges AS (...)``). Kept in one place so every oracle uses
    the identical rule. ``pred`` optionally filters the EVENTS rows
    (e.g. "event_id % 2 = 0" for a snapshot subgraph); nv is always
    computed over the FULL table so snapshot vertex ids line up.
    """
    val = ", CAST(count(*) AS DOUBLE) AS val" if with_val else ""
    where = f"WHERE {pred}" if pred else ""
    return f"""
    SELECT src, dst{val}
    FROM (
      SELECT user_id AS src,
             ((event_id % nv) * ({HASH_C} % nv)) % nv AS dst
      FROM events, (SELECT max(user_id) + 1 AS nv FROM events) {where}
    ) WHERE src <> dst
    GROUP BY src, dst
    """
