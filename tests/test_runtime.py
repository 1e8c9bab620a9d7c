"""Superstep runtime: durable checkpoint / resume / metrics (north rule).

Resume contract (FIXTURES.md §5): run k supersteps, stop, resume from
the durable checkpoint -> outputs match the uninterrupted run (allclose
1e-12 for float PageRank, exact for integer CC labels).
"""

import json
import math
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from combblas_spark.algorithms.components import connected_components
from combblas_spark.algorithms.pagerank import pagerank
from combblas_spark.graph import build_graph
from combblas_spark.runtime import SuperstepRunner, load_imbalance
from combblas_spark.sources.rmat import rmat_edges

from tests.conftest import df_edges


@pytest.fixture(scope="module")
def graph(spark):
    g = build_graph(rmat_edges(spark, 8, 8)).persist()
    g.count()
    yield g
    g.unpersist()


def _ranks_dict(df):
    return {r["id"]: r["rank"] for r in df.collect()}


def test_pagerank_resume_matches_uninterrupted(spark, graph, tmp_path):
    full = _ranks_dict(pagerank(graph, n_iter=8))

    ckpt = str(tmp_path / "pr")
    cfg = {"alpha": 0.85, "algo": "pagerank"}
    # phase 1: run only 4 supersteps, durable every 3 (-> iters 2 and 3-final)
    r1 = SuperstepRunner(spark, ckpt, "pagerank", config=cfg, every=3)
    pagerank(graph, n_iter=4, runner=r1)
    latest = json.load(open(os.path.join(ckpt, "latest.json")))
    assert latest["iteration"] == 3 and latest["final"] is True

    # phase 2: new runner, same dir -> resumes at iteration 4, finishes 8
    r2 = SuperstepRunner(spark, ckpt, "pagerank", config=cfg, every=3)
    resumed = _ranks_dict(pagerank(graph, n_iter=8, runner=r2))

    assert set(resumed) == set(full)
    for k in full:
        assert math.isclose(resumed[k], full[k], rel_tol=1e-12, abs_tol=1e-12)


def test_resume_rejects_config_lineage_mismatch(spark, graph, tmp_path):
    ckpt = str(tmp_path / "pr2")
    r1 = SuperstepRunner(spark, ckpt, "pagerank", config={"alpha": 0.85}, every=2)
    pagerank(graph, n_iter=2, runner=r1)
    r2 = SuperstepRunner(spark, ckpt, "pagerank", config={"alpha": 0.5}, every=2)
    with pytest.raises(ValueError, match="lineage mismatch"):
        r2.resume()
    r3 = SuperstepRunner(spark, ckpt, "cc", config={}, every=2)
    with pytest.raises(ValueError, match="holds job"):
        r3.resume()


def test_cc_resume_exact(spark, tmp_path):
    # three components: path 0-1-2, star 3-{4,5,6}, pair 7-8 (FIXTURES #4)
    g = df_edges(spark, [(0, 1), (1, 2), (3, 4), (3, 5), (3, 6), (7, 8)])
    full = {r["id"]: r["comp"] for r in connected_components(g).collect()}
    assert full == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 3, 6: 3, 7: 7, 8: 7}

    ckpt = str(tmp_path / "cc")
    r1 = SuperstepRunner(spark, ckpt, "cc", every=1)
    connected_components(g, max_iter=1, runner=r1)  # stop after 1 superstep
    r2 = SuperstepRunner(spark, ckpt, "cc", every=1)
    resumed = {r["id"]: r["comp"] for r in connected_components(g, runner=r2).collect()}
    assert resumed == full


def test_manifest_metrics_contents(spark, graph, tmp_path):
    ckpt = str(tmp_path / "pr3")
    r = SuperstepRunner(spark, ckpt, "pagerank", config={"alpha": 0.85}, every=2)
    pagerank(graph, n_iter=4, runner=r)

    latest = json.load(open(os.path.join(ckpt, "latest.json")))
    assert latest["job_name"] == "pagerank"
    assert latest["rows"] > 0
    assert latest["config"] == {"alpha": 0.85}
    assert isinstance(latest["partition_rows"], list) and latest["partition_rows"]
    assert latest["load_imbalance"] >= 1.0
    assert all(t >= 0 for t in latest["superstep_wall_s"])
    # durable dirs for iters 1 and 3 exist with their own manifests
    assert os.path.exists(os.path.join(ckpt, "iter_000001", "manifest.json"))
    assert os.path.exists(os.path.join(ckpt, "iter_000003", "manifest.json"))
    # runner accumulated per-step metrics
    assert any("load_imbalance" in m for m in r.metrics)


def test_load_imbalance_metric():
    assert load_imbalance([10, 10, 10]) == 1.0
    # reference semantics (SpParMat.cpp:762 max*p/total over ALL ranks):
    # everything in 1 of 3 partitions is imbalance 3, not 1 (review r4)
    assert load_imbalance([30, 0, 0]) == pytest.approx(3.0)
    assert load_imbalance([20, 10]) == pytest.approx(20 / 15)
    assert load_imbalance([]) == 1.0 and load_imbalance([0, 0]) == 1.0


def test_superstep_wall_bills_materialization(spark, tmp_path):
    """The algorithm loop bodies are fully lazy — runner.step()'s
    localCheckpoint / Parquet write is THE job that runs superstep N's
    compute, so its cost must land in superstep N's recorded wall
    (review r5: walls were sampled at step() entry, so a 15s RMAT-24
    superstep manifested as the ~0.1s lazy plan build)."""

    def slow(batches):
        import time as _time
        for pdf in batches:
            _time.sleep(0.4)
            yield pdf

    r = SuperstepRunner(spark, str(tmp_path / "ck"), "slow", every=2)
    state = spark.range(8).repartition(1).mapInPandas(slow, "id long")
    # iteration 0: non-durable (localCheckpoint) path
    state = r.step(0, state.selectExpr("id", "id * 2 as v"))
    # iteration 1: durable (Parquet write) path
    state = state.selectExpr("id", "v").mapInPandas(slow, "id long, v long")
    r.step(1, state)
    latest = json.load(open(os.path.join(str(tmp_path / "ck"), "latest.json")))
    walls = latest["superstep_wall_s"]
    assert len(walls) == 2
    assert walls[0] >= 0.4 and walls[1] >= 0.4
    # a further non-durable step + finish(): the finalization write is
    # NOT a superstep, so the wall count must equal the steps run
    # (review r5: finish()'s off-cadence _durable appended a spurious
    # third wall entry for two supersteps)
    state = r.step(2, state.selectExpr("id", "v"))
    r.finish(state)
    latest = json.load(open(os.path.join(str(tmp_path / "ck"), "latest.json")))
    assert latest["iteration"] == 2 and latest.get("final") is True
    assert len(latest["superstep_wall_s"]) == 1  # just iter 2's wall


def test_sssp_resume_exact(spark, tmp_path):
    from combblas_spark.algorithms.sssp import sssp

    g = df_edges(spark, [(0, 1, 1.0), (0, 2, 4.0), (1, 2, 2.0), (2, 3, 1.0), (1, 3, 5.0)])
    full = {r["id"]: r["dist"] for r in sssp(g, root=0).collect()}

    ckpt = str(tmp_path / "sssp")
    r1 = SuperstepRunner(spark, ckpt, "sssp", every=1)
    sssp(g, root=0, max_iter=1, runner=r1)
    r2 = SuperstepRunner(spark, ckpt, "sssp", every=1)
    resumed = {r["id"]: r["dist"] for r in sssp(g, root=0, runner=r2).collect()}
    assert resumed == full


def test_labelprop_resume_exact(spark, graph, tmp_path):
    from combblas_spark.algorithms.labelprop import label_propagation

    full = {r["id"]: r["label"] for r in label_propagation(graph, n_rounds=4).collect()}
    ckpt = str(tmp_path / "lp")
    r1 = SuperstepRunner(spark, ckpt, "labelprop", every=2)
    label_propagation(graph, n_rounds=2, runner=r1)
    r2 = SuperstepRunner(spark, ckpt, "labelprop", every=2)
    resumed = {r["id"]: r["label"]
               for r in label_propagation(graph, n_rounds=4, runner=r2).collect()}
    assert resumed == full


def test_superstep_stamps_keep_their_keys(spark, graph, tmp_path):
    """Every loop's ``metrics`` stamp, with and without a durable
    runner: ``iter`` counts the supersteps from the first one run, ``t``
    rises (read after each materializing job), PageRank's tol mode adds
    ``l1_delta`` and CC adds ``changed``."""
    from combblas_spark.algorithms.labelprop import label_propagation

    def check(stamps, first, keys):
        assert [m["iter"] for m in stamps] == list(range(first, first + len(stamps)))
        assert all(set(m) == {"iter", "t", *keys} for m in stamps), stamps
        ts = [m["t"] for m in stamps]
        assert ts == sorted(ts)

    m = []
    pagerank(graph, tol=1e-6, metrics=m)
    check(m, 0, {"l1_delta"})
    assert m[-1]["l1_delta"] < 1e-6 <= m[-2]["l1_delta"]
    m = []
    pagerank(graph, n_iter=3, metrics=m)
    check(m, 0, set())
    assert len(m) == 3
    m = []
    connected_components(graph, metrics=m)
    check(m, 0, {"changed"})
    assert m[-1]["changed"] == 0 and all(x["changed"] > 0 for x in m[:-1])
    m = []
    label_propagation(graph, n_rounds=2, metrics=m)
    check(m, 0, set())
    assert len(m) == 2

    # a resumed run stamps only the supersteps it runs
    ckpt = str(tmp_path / "stamps")
    pagerank(graph, n_iter=2, runner=SuperstepRunner(spark, ckpt, "pagerank", every=2))
    m = []
    pagerank(graph, n_iter=4, metrics=m,
             runner=SuperstepRunner(spark, ckpt, "pagerank", every=2))
    check(m, 2, set())
    assert len(m) == 2


def test_superstep_checkpoint_bounds_plan_stats(spark):
    """The exponential-Catalyst-stats repro (BENCH.md round-2 discovery):
    a double-self-join loop multiplies inherited sizeInBytes DIGITS per
    superstep. superstep_checkpoint must keep the bit-length bounded
    (conditional reset), while raw localCheckpoint lets it grow."""
    from pyspark.sql import functions as F

    from combblas_spark.runtime.plans import (
        STATS_RESET_BITS, plan_stats_bits, superstep_checkpoint)

    def step(df):
        a = df.select(F.col("id"), (F.col("v") + 1).alias("v"))
        b = df.select(F.col("id"), F.col("v").alias("w"))
        return (
            a.join(b, "id").join(b.withColumnRenamed("w", "u"), "id")
            .select("id", (F.col("v") + F.col("w") + F.col("u")).alias("v"))
        )

    state = spark.range(33).select("id", F.lit(0.0).alias("v"))
    raw_bits, managed_bits = [], []
    raw = state
    for it in range(6):
        raw = step(raw).localCheckpoint(eager=True)
        raw_bits.append(plan_stats_bits(raw))
    managed = state
    for it in range(10):
        managed = superstep_checkpoint(step(managed), it)
        managed_bits.append(plan_stats_bits(managed))

    assert raw_bits[-1] > raw_bits[0] * 8      # the blowup is real
    # conditional reset: bounded by one superstep's growth past the gate
    assert max(managed_bits) <= STATS_RESET_BITS * 16
    assert managed_bits[-1] < raw_bits[-1]
    assert raw.count() == 33 and managed.count() == 33


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn()`` runs, counted through its own job group (a
    RuntimeError from ``fn`` is the loop's cap being hit, expected).
    Fails when the count reaches ``spark.ui.retainedJobs``."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    except RuntimeError:
        pass
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n = len(sc.statusTracker().getJobIdsForGroup(group))
    # the tracker keeps the last spark.ui.retainedJobs jobs only: a count
    # at that limit may have lost evicted jobs
    retained = int(sc.getConf().get("spark.ui.retainedJobs", "1000"))
    assert n < retained, f"{n} jobs reach spark.ui.retainedJobs={retained}"
    return n


def test_superstep_reads_convergence_on_its_checkpoint_job(spark):
    """A superstep's convergence read (frontier size, emptiness, change
    count) rides its checkpoint job: no count/isEmpty/exceptAll job
    follows it. Jobs per superstep come from the difference between two
    runs whose set-up is identical: sssp on a 12- vs a 6-hop path (13 vs
    7 supersteps), Boruvka pointer jumping capped at 4 vs 2 jumps on a
    63-edge chain that needs 7, and Luby MIS capped at 3 vs 1 rounds on
    a random graph that needs 4. With the separate read job the same
    supersteps cost 9, 6 and 16 jobs (AQE runs each shuffle stage of a
    checkpoint as a job of its own); a Luby round that also
    re-checkpointed the union of every round's winners cost 14."""
    from combblas_spark.algorithms.mis import maximal_independent_set
    from combblas_spark.algorithms.mst import boruvka_msf
    from combblas_spark.algorithms.sssp import sssp

    def path(n):
        return df_edges(spark, [(i, i + 1, i + 1) for i in range(n)])

    p6, p12, chain = path(6), path(12), path(63)
    per_hop = (_jobs(spark, lambda: sssp(p12, 0)) - _jobs(spark, lambda: sssp(p6, 0))) / 6
    per_jump = (_jobs(spark, lambda: boruvka_msf(chain, max_jumps=4))
                - _jobs(spark, lambda: boruvka_msf(chain, max_jumps=2))) / 2
    rng = np.random.RandomState(3)
    g = df_edges(spark, sorted({(int(a), int(b)) for a, b in rng.randint(0, 60, (400, 2))}))
    with pytest.raises(RuntimeError, match="did not reach roots"):
        boruvka_msf(chain, max_jumps=4)
    with pytest.raises(RuntimeError, match="candidates remain"):
        maximal_independent_set(g, max_iter=3)
    per_round = (_jobs(spark, lambda: maximal_independent_set(g, max_iter=3))
                 - _jobs(spark, lambda: maximal_independent_set(g, max_iter=1))) / 2
    assert per_hop <= 6 and per_jump <= 4 and per_round <= 9, (per_hop, per_jump, per_round)


def test_greedy_selection_rounds_keep_results_as_leaves(spark):
    """A greedy-selection round checkpoints its own winners (colours,
    grants, positions) once and keeps them as a leaf, unioned once at
    return: no round re-checkpoints the union of every round so far,
    and min_degree_ordering reads its minimum degree on its degree
    checkpoint instead of a job of its own. Jobs per round come from the
    difference between two runs capped at 3 vs 1 rounds on random graphs
    that need more (jp_coloring's waves, bipartite_maximal_matching's
    rounds on a denser graph, min_degree_ordering's bounded rounds,
    collected so that the union at return is counted too).
    Re-checkpointing the union every round (and, in
    min_degree_ordering, reading the minimum degree and checkpointing
    the active vertices on jobs of their own) cost 13, 7 and 29 jobs
    per round."""
    from combblas_spark.algorithms.coloring import jp_coloring
    from combblas_spark.algorithms.matching import bipartite_maximal_matching
    from combblas_spark.algorithms.ordering import min_degree_ordering

    rng = np.random.RandomState(3)
    g = df_edges(spark, sorted({(int(a), int(b)) for a, b in rng.randint(0, 60, (400, 2))}))
    with pytest.raises(RuntimeError, match="max_rounds"):
        jp_coloring(g, max_rounds=3)
    dense = df_edges(spark, sorted({(int(a), int(b)) for a, b in rng.randint(0, 200, (2000, 2))}))
    with pytest.raises(RuntimeError, match="max_iter"):
        bipartite_maximal_matching(dense, max_iter=3)
    per_wave = (_jobs(spark, lambda: jp_coloring(g, max_rounds=3))
                - _jobs(spark, lambda: jp_coloring(g, max_rounds=1))) / 2
    per_grant = (_jobs(spark, lambda: bipartite_maximal_matching(dense, max_iter=3))
                 - _jobs(spark, lambda: bipartite_maximal_matching(dense, max_iter=1))) / 2
    per_md = (_jobs(spark, lambda: min_degree_ordering(g, rounds=3).collect())
              - _jobs(spark, lambda: min_degree_ordering(g, rounds=1).collect())) / 2
    assert per_wave <= 9 and per_grant <= 6.5 and per_md <= 22, (per_wave, per_grant, per_md)

