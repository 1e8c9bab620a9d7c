"""Superstep runtime — durable checkpoint / resume / metrics for
iterative graph algorithms.

North-rule machinery (BASELINE.json): "every superstep checkpoints
per-partition frontier state with lineage and shuffle/skew metrics so
iterations resume mid-algorithm". The reference has no analogue (an MPI
job that dies restarts from scratch); this is new engineering required
by the target, built Spark-first:

* state (the rank/parent/label vector DataFrame) is written to Parquet
  every ``every`` supersteps under ``<dir>/iter_NNNNNN/state/``;
* a manifest JSON per checkpoint records the iteration number, row
  count, per-partition row-count histogram (the load-imbalance metric,
  reference SpParMat::LoadImbalance include/CombBLAS/SpParMat.cpp:762),
  superstep wall-times since the previous checkpoint, and the full
  config lineage (algorithm parameters + spark confs that affect the
  plan) so a resumed run is provably the same computation;
* ``latest.json`` is updated by atomic rename — a crash mid-write
  leaves the previous checkpoint valid;
* ``resume()`` returns (next_iteration, state DataFrame) re-read from
  Parquet: lineage is truncated by construction, and the algorithm
  loop continues from there.

Between durable checkpoints the algorithms use eager
``localCheckpoint`` (executor-local, no HDFS round-trip) purely to
truncate lineage — the durable cadence bounds lost work.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Sequence
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from combblas_spark.runtime.plans import observed_checkpoint, superstep_checkpoint


def partition_histogram(df: DataFrame) -> list[int]:
    """Rows per partition — the skew/load-imbalance observable.
    Includes EMPTY partitions as zeros (groupBy(spark_partition_id())
    alone silently drops them; review r4): an all-rows-in-one-of-200-
    partitions state must read imbalance 200, not 1."""
    n = df.rdd.getNumPartitions()
    rows = {r["p"]: r["count"] for r in
            df.groupBy(F.spark_partition_id().alias("p")).count().collect()}
    return [rows.get(p, 0) for p in range(n)]


def load_imbalance(hist: list[int]) -> float:
    """max/avg rows per partition INCLUDING empty partitions — the
    reference divides by total/p over ALL ranks (SpParMat::LoadImbalance,
    include/CombBLAS/SpParMat.cpp:762). 1.0 = perfectly balanced."""
    if not hist or not sum(hist):
        return 1.0
    return max(hist) / (sum(hist) / len(hist))


@dataclass
class SuperstepRunner:
    """Checkpoint/resume driver for one iterative algorithm run.

    Usage inside an algorithm loop::

        runner = SuperstepRunner(spark, dir, "pagerank", config={...})
        start, state = runner.resume() or (0, initial_state)
        for it in range(start, iters):
            state = compute(state)
            state = runner.step(it, state)     # checkpoints on cadence
        runner.finish(state)
    """

    spark: SparkSession
    checkpoint_dir: str
    job_name: str
    config: dict[str, Any] = field(default_factory=dict)
    every: int = 5
    collect_partition_stats: bool = True

    def __post_init__(self) -> None:
        # Manifests are written with driver-local POSIX I/O while state
        # parquet is written by executors — both must see the SAME path,
        # so the checkpoint dir must be a shared POSIX filesystem (local
        # dir in local mode, NFS/Lustre on a cluster). Object-store URIs
        # would silently split the two; reject them up front.
        scheme = self.checkpoint_dir.split("://", 1)[0] if "://" in self.checkpoint_dir else ""
        if scheme and scheme != "file":
            raise ValueError(
                f"SuperstepRunner requires a shared POSIX path for "
                f"checkpoint_dir (manifests use driver-local I/O); got "
                f"scheme {scheme!r}. Mount the store (s3fs/fuse) or use "
                f"a cluster filesystem path."
            )
        os.makedirs(self.checkpoint_dir, exist_ok=True)
        self._step_times: list[float] = []
        self._t_last = time.perf_counter()
        self._last_step: int | None = None
        self._last_durable: int | None = None
        self.metrics: list[dict] = []

    # ------------------------------------------------------------- resume
    def resume(self) -> tuple[int, DataFrame] | None:
        """(next_iteration, state) from the latest durable checkpoint, or
        None if no checkpoint exists. Raises if the recorded config
        lineage disagrees with this run's config (different computation)."""
        latest = os.path.join(self.checkpoint_dir, "latest.json")
        if not os.path.exists(latest):
            return None
        with open(latest) as fh:
            m = json.load(fh)
        if m.get("job_name") != self.job_name:
            raise ValueError(
                f"checkpoint dir holds job {m.get('job_name')!r}, not {self.job_name!r}"
            )
        recorded = m.get("config", {})
        # strict dict equality: added/removed/renamed keys are mismatches
        # too (review r4 — key-intersection-only comparison let a renamed
        # parameter resume a DIFFERENT computation from old state)
        if recorded != dict(self.config):
            diff_keys = sorted(set(recorded) ^ set(self.config)
                               | {k for k in set(recorded) & set(self.config)
                                  if recorded[k] != self.config[k]})
            raise ValueError(
                f"config lineage mismatch on {diff_keys}: checkpoint has "
                f"{recorded!r}, this run has {dict(self.config)!r}"
            )
        state = self.spark.read.parquet(m["state_path"])
        return m["iteration"] + 1, state

    # --------------------------------------------------------------- step
    def step(self, iteration: int, state: DataFrame, **extra: Any) -> DataFrame:
        """Record one finished superstep; durably checkpoint on cadence.

        Returns the state to carry forward (re-read from Parquet when a
        durable checkpoint was taken — truncated lineage — else the
        input, eagerly localCheckpointed)."""
        self._last_step = iteration
        if (iteration + 1) % self.every == 0:
            return self._durable(iteration, state, extra)  # bills + resets
        out = superstep_checkpoint(state, iteration)
        # The loop bodies are fully lazy — the eager localCheckpoint
        # above (or the Parquet write on the durable path) is THE job
        # that runs superstep N's compute, so the wall is sampled AFTER
        # it (review r5: appending at step() entry recorded only the
        # ~0.1s lazy plan build and billed the materialization to no
        # superstep at all — RMAT-24 manifests read 0.1s/superstep while
        # the wall clock said ~15s).
        now = time.perf_counter()
        self._step_times.append(now - self._t_last)
        self._t_last = now
        if extra:
            self.metrics.append({"iteration": iteration, **extra})
        return out

    def _durable(self, iteration: int, state: DataFrame, extra: dict,
                 bill: bool = True) -> DataFrame:
        it_dir = os.path.join(self.checkpoint_dir, f"iter_{iteration:06d}")
        state_path = os.path.join(it_dir, "state")
        state.write.mode("overwrite").parquet(state_path)
        # the write above ran superstep N's compute — bill it to N (the
        # count/manifest bookkeeping below is checkpoint overhead,
        # excluded by the reset at the end of this method). finish()
        # passes bill=False: its write re-persists already-materialized
        # state and is not a superstep.
        if bill:
            self._step_times.append(time.perf_counter() - self._t_last)
        reread = self.spark.read.parquet(state_path)

        manifest: dict[str, Any] = {
            "job_name": self.job_name,
            "iteration": iteration,
            "state_path": state_path,
            "rows": reread.count(),
            "config": dict(self.config),
            "superstep_wall_s": [round(t, 4) for t in self._step_times],
            "wrote_at": time.time(),
            **extra,
        }
        if self.collect_partition_stats:
            hist = partition_histogram(reread)
            manifest["partition_rows"] = hist
            manifest["load_imbalance"] = round(load_imbalance(hist), 4)
        self._step_times = []

        with open(os.path.join(it_dir, "manifest.json"), "w") as fh:
            json.dump(manifest, fh, indent=1)
        tmp = os.path.join(self.checkpoint_dir, ".latest.tmp")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh, indent=1)
        os.replace(tmp, os.path.join(self.checkpoint_dir, "latest.json"))
        self.metrics.append(
            {k: v for k, v in manifest.items() if k not in ("config", "state_path")}
        )
        self._last_durable = iteration
        # reset the wall clock so checkpoint I/O isn't billed to the next step
        self._t_last = time.perf_counter()
        return reread

    # ------------------------------------------------------------- finish
    def finish(self, state: DataFrame, **extra: Any) -> None:
        """Durably checkpoint the final state at the LAST COMPLETED
        iteration number (so a later resume() continues from the right
        superstep). No-op if that iteration is already durable, or if no
        steps ran (e.g. resumed an already-finished run)."""
        if self._last_step is None or self._last_step == self._last_durable:
            return
        # bill=False: the state was already materialized by the last
        # step() — this write is finalization I/O, not a superstep, so
        # it must not append a wall entry (review r5: a final off-cadence
        # _durable added a third wall for two supersteps run)
        self._durable(self._last_step, state, {"final": True, **extra},
                      bill=False)


class Supersteps:
    """The resume / checkpoint / finish steps every resumable loop
    shares, and its ``metrics`` stamps. With a ``SuperstepRunner`` the
    state is checkpointed durably on the runner's cadence; without one
    by ``superstep_checkpoint``. ``resume()`` gives (0, None) on a cold
    start; ``step()`` per superstep; ``finish()`` after the loop."""

    def __init__(self, runner: SuperstepRunner | None = None,
                 metrics: list | None = None) -> None:
        self.runner = runner
        self.metrics = metrics

    def resume(self) -> tuple[int, DataFrame | None]:
        """(first superstep, state) from the runner's latest durable
        checkpoint, or (0, None) when there is none to resume."""
        resumed = self.runner.resume() if self.runner is not None else None
        return resumed if resumed is not None else (0, None)

    def step(self, it: int, state: DataFrame, *, aggs: Sequence[Column] = (),
             keep: Sequence[str | Column] | None = None) -> tuple[DataFrame, dict]:
        """Materialize superstep ``it`` (the one job that runs its lazy
        plan) through ``observed_checkpoint``: ``aggs`` are observed on
        that job and ``keep`` selects the state's columns. Returns (state,
        {agg name: value}) and appends ``{"iter", <agg values>, "t"}`` to
        ``metrics``; ``t`` is read after the job, so consecutive stamps
        tile the supersteps."""
        runner = self.runner
        checkpoint = (superstep_checkpoint if runner is None
                      else lambda df, i: runner.step(i, df))
        out, seen = observed_checkpoint(state, it, aggs, keep, checkpoint)
        if self.metrics is not None:
            self.metrics.append({"iter": it, **seen, "t": time.perf_counter()})
        return out, seen

    def finish(self, state: DataFrame) -> None:
        """Durably checkpoint the final state (runner only)."""
        if self.runner is not None:
            self.runner.finish(state)
