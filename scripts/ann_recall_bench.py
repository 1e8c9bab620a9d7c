"""Measured experiment (VERDICT r3 #6): LSH / IVF ANN recall at scale.

The pytest recall assertions run at toy scale; this drives the SAME
candidate-generation machinery (lsh_table_assignments /
ivf_centroids_and_assignments from functions/similarity.py) at >= 1M
vectors and reports recall@k against EXACT ground truth, sweeping the
tuning knobs (n_tables, per_bucket_cap; nprobe) so the library defaults
are justified by numbers, not vibes.

Protocol: the corpus is synthetic-but-structured (1024 latent centers +
noise, fully deterministic from the row id — no RNG state, partition-
invariant). Ground truth for a SAMPLE of queries is computed exactly:
each corpus partition emits its local top-k per query via one numpy
matmul against the broadcast query block (mapInPandas), then a global
window top-k — the classic scalable exact-KNN-for-few-queries shape,
never an all-pairs product. Approximate paths are measured QUERY-
RESTRICTED: the corpus-side index (bucket assignments / inverted
lists) is built in full, candidates are generated only for the sampled
queries — per-query recall is identical to the all-pairs operator's,
at 1/5000th the candidate cost.

Usage: python scripts/ann_recall_bench.py [--n 1000000] [--dim 32]
       [--queries 200] [--k 10] [--cores 32] [--planes 12]
       [--lsh-sweep "2:512;4:512;8:512;4:128;4:2048"]
       [--ivf-centroids 256] [--ivf-nprobes 1,2,4,8]
Prints one JSON line per configuration + a summary line; paste the
table into BENCH.md. The sweep grammar is "tables:cap" pairs separated
by ';' — cap may be an int, "none" (uncapped) or "auto" (the library
default max(128, 8n/2^planes)). --ivf-centroids 0 skips IVF (its brute
k-means assignment dominates wall at n >= 10M).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from typing import Iterator

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def gen_vectors(spark, n: int, dim: int, n_centers: int = 1024) -> DataFrame:
    """(id, v): deterministic clustered vectors — center c(id) = id %
    n_centers from a counter-hash table, plus per-coordinate noise.
    No RNG state: every value is a pure function of (id, j)."""

    def make(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # counter-hash uniform in [-1, 1): sin-free, integer-exact
        def u(i, j, salt):
            x = (i * 2654435761 + j * 40503 + salt * 69069) & 0xFFFFFFFF
            x ^= x >> 16
            x = (x * 2246822519) & 0xFFFFFFFF
            x ^= x >> 13
            return (x.astype(np.float64) / 2**31) - 1.0

        for pdf in batches:
            ids = pdf["id"].to_numpy()
            c = ids % n_centers
            V = np.empty((len(ids), dim))
            for j in range(dim):
                V[:, j] = u(c, np.int64(j), np.int64(1)) \
                    + 0.15 * u(ids, np.int64(j), np.int64(2))
            yield pd.DataFrame({"vec_id": ids,
                                "embedding": [row for row in V]})

    return (spark.range(n).repartition(64)
            .mapInPandas(make, "vec_id long, embedding array<double>"))


def exact_topk_for_queries(vectors: DataFrame, qids: list[int],
                           k: int) -> dict[int, set[int]]:
    """Exact cosine top-k per sampled query vs the FULL corpus:
    per-partition numpy matmul + global window top-k."""
    spark = vectors.sparkSession
    qrows = (vectors.where(F.col("vec_id").isin(qids))
             .select("vec_id", "embedding").collect())
    qid_arr = np.array([r["vec_id"] for r in qrows])
    Q = np.stack([np.array(r["embedding"]) for r in qrows])
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    bq = spark.sparkContext.broadcast((qid_arr, Qn))

    def local_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qa, qn = bq.value
        for pdf in batches:
            ids = pdf["vec_id"].to_numpy()
            V = np.stack(pdf["embedding"].to_numpy())
            Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
            S = Vn @ qn.T                     # batch x queries
            kk = min(k + 1, S.shape[0])       # +1 absorbs self-match
            idx = np.argpartition(-S, kk - 1, axis=0)[:kk]
            out = {"query_id": [], "neighbor_id": [], "cos": []}
            for qi in range(S.shape[1]):
                rows = idx[:, qi]
                out["query_id"].extend([qa[qi]] * len(rows))
                out["neighbor_id"].extend(ids[rows])
                out["cos"].extend(S[rows, qi])
            yield pd.DataFrame(out)

    cand = vectors.mapInPandas(
        local_topk, "query_id long, neighbor_id long, cos double")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc())
    top = (cand.where(F.col("neighbor_id") != F.col("query_id"))
           .withColumn("_rk", F.row_number().over(w))
           .where(F.col("_rk") <= k)
           .select("query_id", "neighbor_id").collect())
    truth: dict[int, set[int]] = {}
    for r in top:
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return truth


def topk_from_candidates(vectors: DataFrame, cand: DataFrame,
                         k: int) -> dict[int, set[int]]:
    """Exact cosine + window top-k over (query_id, neighbor_id)
    candidate pairs — the verify stage both operators share."""
    from combblas_spark.functions.similarity import cosine

    v = vectors.select(F.col("vec_id").alias("id"), F.col("embedding").alias("v"))
    scored = (
        cand.where(F.col("neighbor_id") != F.col("query_id"))
        .join(v.select(F.col("id").alias("query_id"), F.col("v").alias("qv")),
              "query_id")
        .join(v.select(F.col("id").alias("neighbor_id"), F.col("v").alias("nv")),
              "neighbor_id")
        .select("query_id", "neighbor_id", cosine(F.col("qv"), F.col("nv")).alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc())
    rows = (scored.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") <= k)
            .select("query_id", "neighbor_id").collect())
    got: dict[int, set[int]] = {}
    for r in rows:
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return got


def recall(truth: dict[int, set[int]], got: dict[int, set[int]], k: int) -> float:
    per_q = [len(truth[q] & got.get(q, set())) / max(len(truth[q]), 1)
             for q in truth]
    return round(float(np.mean(per_q)), 4)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=1_000_000)
    ap.add_argument("--dim", type=int, default=32)
    ap.add_argument("--queries", type=int, default=200)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--cores", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--planes", type=int, default=12,
                    help="LSH hyperplanes per table (2^planes buckets)")
    ap.add_argument("--lsh-sweep", default="2:512;4:512;8:512;4:128;4:2048",
                    help="';'-separated tables:cap pairs; cap = int|none|auto")
    ap.add_argument("--ivf-centroids", type=int, default=256,
                    help="0 skips the IVF block entirely")
    ap.add_argument("--ivf-nprobes", default="1,2,4,8")
    ap.add_argument("--driver-memory", default="20g")
    args = ap.parse_args()

    from combblas_spark.functions.similarity import (
        hyperplane_lsh_buckets, ivf_centroids_and_assignments)
    from combblas_spark.session import get_spark

    spark = get_spark(app_name="ann-recall", cores=args.cores,
                      shuffle_partitions=2 * args.cores,
                      driver_memory=args.driver_memory)
    spark.sparkContext.setLogLevel("ERROR")
    from pyspark.storagelevel import StorageLevel

    vectors = gen_vectors(spark, args.n, args.dim).persist(
        StorageLevel.MEMORY_AND_DISK)
    nv = vectors.count()
    # deterministic spread-out query sample
    stride = args.n // args.queries
    qids = [i * stride + 7 for i in range(args.queries)]

    t0 = time.perf_counter()
    truth = exact_topk_for_queries(vectors, qids, args.k)
    t_truth = time.perf_counter() - t0
    print(json.dumps({"stage": "ground_truth", "n": nv, "dim": args.dim,
                      "queries": len(truth), "k": args.k,
                      "wall": round(t_truth, 1)}), flush=True)

    results = []

    # ---- LSH sweeps: the max-table bucket assignment is built ONCE
    # (the expensive part — T x n_planes x dim JVM projections per
    # vector); every (n_tables, cap) config is a filter + window over it
    n_planes = args.planes

    def parse_cap(tok: str) -> int | None:
        tok = tok.strip().lower()
        if tok == "none":
            return None
        if tok == "auto":
            return max(128, (8 * args.n) >> n_planes)
        return int(tok)

    sweep = [(int(p.split(":")[0]), parse_cap(p.split(":")[1]))
             for p in args.lsh_sweep.split(";") if p.strip()]
    max_tables = max(t for t, _ in sweep)
    t0 = time.perf_counter()
    assigns = []
    for t in range(max_tables):
        a = hyperplane_lsh_buckets(
            vectors, n_planes=n_planes, seed=42 + t,
            dim=args.dim).withColumn("tbl", F.lit(t))
        assigns.append(a.select("id", "tbl", "bucket"))
    assign8 = assigns[0]
    for a in assigns[1:]:
        assign8 = assign8.unionByName(a)
    assign8 = assign8.repartition(2 * args.cores, "tbl", "bucket") \
        .persist(StorageLevel.MEMORY_AND_DISK)
    n_assign = assign8.count()
    t_build_lsh = round(time.perf_counter() - t0, 1)
    print(json.dumps({"stage": "lsh_assign_build", "rows": n_assign,
                      "tables": max_tables, "n_planes": n_planes,
                      "wall": t_build_lsh}), flush=True)

    def lsh_run(n_tables: int, cap: int | None) -> None:
        t0 = time.perf_counter()
        assign = assign8.where(F.col("tbl") < n_tables)
        if cap is not None:
            w = Window.partitionBy("tbl", "bucket").orderBy(
                F.md5(F.col("id").cast("string").cast("binary")), F.col("id"))
            assign = (assign.withColumn("_rk", F.row_number().over(w))
                      .where(F.col("_rk") <= cap).drop("_rk"))
        qa = (assign.where(F.col("id").isin(qids))
              .select(F.col("id").alias("query_id"), "tbl", "bucket"))
        cand = (qa.join(assign, ["tbl", "bucket"])
                .select("query_id", F.col("id").alias("neighbor_id"))
                .distinct()
                .persist(StorageLevel.MEMORY_AND_DISK))
        n_cand = cand.count()
        got = topk_from_candidates(vectors, cand, args.k)
        rec = recall(truth, got, args.k)
        cand.unpersist()
        wall = round(time.perf_counter() - t0, 1)
        row = {"algo": "lsh", "n_tables": n_tables, "n_planes": n_planes,
               "per_bucket_cap": cap, "recall_at_k": rec,
               "build_wall": t_build_lsh, "query_candidates": n_cand,
               "cand_per_query": round(n_cand / len(truth), 1),
               "wall": wall}
        results.append(row)
        print(json.dumps(row), flush=True)

    for n_tables, cap in sweep:
        lsh_run(n_tables, cap)
    assign8.unpersist()

    # ---- IVF sweeps: lists once per n_centroids, nprobe varies
    from combblas_spark.functions.similarity import cosine as _cos

    def ivf_run(n_centroids: int, nprobes: list[int],
                cap: int | None) -> None:
        t0 = time.perf_counter()
        cent, assign = ivf_centroids_and_assignments(
            vectors, n_centroids, iters=1)
        if cap is not None:
            w = Window.partitionBy("cid").orderBy(
                F.md5(F.col("id").cast("string").cast("binary")), F.col("id"))
            assign = (assign.withColumn("_rk", F.row_number().over(w))
                      .where(F.col("_rk") <= cap).drop("_rk"))
        assign = assign.persist(StorageLevel.MEMORY_AND_DISK)
        assign.count()
        t_build = round(time.perf_counter() - t0, 1)
        qv = (vectors.where(F.col("vec_id").isin(qids))
              .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("v")))
        probes_all = (
            qv.crossJoin(F.broadcast(cent))
            .select("query_id", "cid", _cos(F.col("v"), F.col("cv")).alias("c"))
        )
        for nprobe in nprobes:
            t1 = time.perf_counter()
            pw = Window.partitionBy("query_id").orderBy(
                F.col("c").desc(), F.col("cid").asc())
            probed = (probes_all.withColumn("_rk", F.row_number().over(pw))
                      .where(F.col("_rk") <= nprobe).select("query_id", "cid"))
            cand = (probed.join(assign, "cid")
                    .select("query_id", F.col("id").alias("neighbor_id"))
                    .distinct())
            n_cand = cand.count()
            got = topk_from_candidates(vectors, cand, args.k)
            rec = recall(truth, got, args.k)
            row = {"algo": "ivf", "n_centroids": n_centroids,
                   "nprobe": nprobe, "per_list_cap": cap,
                   "recall_at_k": rec, "query_candidates": n_cand,
                   "cand_per_query": round(n_cand / len(truth), 1),
                   "build_wall": t_build,
                   "wall": round(time.perf_counter() - t1, 1)}
            results.append(row)
            print(json.dumps(row), flush=True)
        assign.unpersist()

    if args.ivf_centroids > 0:
        nprobes = [int(x) for x in args.ivf_nprobes.split(",") if x.strip()]
        ivf_run(args.ivf_centroids, nprobes, None)

    print(json.dumps({"stage": "summary", "n": nv, "dim": args.dim,
                      "k": args.k, "results": results}))
    spark.stop()


if __name__ == "__main__":
    main()
