"""Plan hygiene for iterative loops — the exponential-stats pitfall.

``DataFrame.localCheckpoint`` truncates the LOGICAL PLAN but inherits
the checkpointed plan's Catalyst statistics (sizeInBytes). Join size
estimates MULTIPLY (size(A join B) = size(A) x size(B)), so a superstep
whose plan references the state vector m times produces a checkpointed
state whose sizeInBytes has ~m x the DIGITS of the previous one —
exponential BigInteger growth. By superstep ~7-10 the planner spends
whole seconds (then minutes) in BigInteger.multiply on 33-row inputs.
Measured here: stats bit-length 32 -> 125 -> 495 -> 1977 -> 7904 over
five supersteps of a double self-join loop, and a 48 s "planning" stall
at iteration 6 (see BENCH.md round-2 notes).

Fix: when the inherited stats actually blow up, rebuild the
checkpointed DataFrame as a fresh leaf over the SAME materialized
internal RDD — identical rows, default leaf statistics, O(1) driver
cost. The rebuilt leaf loses the outputPartitioning metadata (one extra
vector-sized exchange on the following superstep), so the reset is
CONDITIONAL: after each checkpoint we read the plan's
``sizeInBytes.bitLength()`` (a plain Java int — safe even when the
BigInteger itself is too large for py4j's int conversion) and reset
only past ``STATS_RESET_BITS``. Loops whose stats stay bounded (single
state reference per superstep: PageRank, CC, labelprop) never pay the
extra exchange — the round-2 unconditional cadence-4 reset cost those
loops a measured 1.4-2.1x (VERDICT r2) for a disease they don't have.

Threshold choice: growth is multiplicative in DIGITS (factor ~m per
superstep), so any fixed threshold is crossed within O(log log) steps
of the blowup starting, while BigInteger ops below ~10^5 bits are
microseconds. 8192 bits keeps the worst pre-reset stat under ~m*8192
bits — negligible — and the 33-row double-self-join repro that
motivated all this stays fast (tests/test_runtime.py).
"""

from __future__ import annotations

import warnings
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Observation

STATS_RESET_BITS = 8192

_warned_fallback = False


def _warn_fallback(what: str, err: Exception) -> None:
    """Once-per-session visibility when the private-API path breaks
    (ADVICE r2: a silent fallback re-enables the exponential-stats
    stall with no diagnostic)."""
    global _warned_fallback
    if not _warned_fallback:
        _warned_fallback = True
        warnings.warn(
            f"combblas_spark.runtime.plans: {what} failed ({err!r}); "
            "falling back to cadence-based stats reset. Iterative loops "
            "may hit the exponential Catalyst-stats planner stall on "
            "this Spark version — see plans.py docstring.",
            RuntimeWarning,
            stacklevel=3,
        )


HUGE_STATS_BITS = 1 << 30


def plan_stats_bits(df: DataFrame) -> int:
    """Bit length of the optimized plan's sizeInBytes estimate, or -1 if
    the (private) API is unavailable.

    py4j auto-converts the Scala BigInt to a Python int via a decimal
    string, which CPython caps at 4300 digits (~14281 bits) — a
    ValueError here therefore IS the blowup signal (measured: one
    superstep can jump 5.5k -> 16.7k bits, leaping the parse limit in
    a single step), reported as HUGE_STATS_BITS so the caller resets
    unconditionally. Only non-ValueError failures mean the API itself
    is unavailable (warned once, cadence fallback)."""
    try:
        v = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        return int(v).bit_length()
    except ValueError:
        return HUGE_STATS_BITS
    except Exception as e:  # pragma: no cover - private-API guard
        _warn_fallback("plan_stats_bits", e)
        return -1


def reset_plan_stats(df: DataFrame) -> DataFrame:
    """Rebuild ``df`` (which should already be materialized, e.g. via
    localCheckpoint) as a fresh logical leaf over its internal RDD,
    dropping inherited Catalyst statistics. Falls back to the input
    unchanged (with a once-per-session warning) if the internal API is
    unavailable."""
    try:
        jdf = df._jdf
        rdd = jdf.queryExecution().toRdd()
        new = df.sparkSession._jsparkSession.internalCreateDataFrame(
            rdd, jdf.schema(), False)
        return DataFrame(new, df.sparkSession)
    except Exception as e:  # pragma: no cover - private-API guard
        _warn_fallback("reset_plan_stats", e)
        return df


def superstep_checkpoint(df: DataFrame, iteration: int) -> DataFrame:
    """localCheckpoint (eager) + stats reset ONLY when the inherited
    estimate has actually blown up — the standard per-superstep
    materialization for every iterative loop here."""
    out = df.localCheckpoint(eager=True)
    bits = plan_stats_bits(out)
    if bits < 0:
        # stats unreadable: fall back to the round-2 cadence so the
        # blowup stays bounded even blind (warned once above).
        if (iteration + 1) % 4 == 0:
            out = reset_plan_stats(out)
    elif bits > STATS_RESET_BITS:
        out = reset_plan_stats(out)
    return out


def observed_checkpoint(df: DataFrame, iteration: int, aggs: Sequence[Column] = (),
                        keep: Sequence[str | Column] | None = None,
                        checkpoint=superstep_checkpoint) -> tuple[DataFrame, dict]:
    """The convergence read of a superstep: ``checkpoint(df, iteration)``
    (``superstep_checkpoint`` by default) with the named aggregate
    Columns ``aggs`` observed on that same job, the MPI_Allreduce fused
    into the superstep (FastSV.h:336-374). ``keep`` selects the columns
    checkpointed after the aggregates have seen every column of ``df``,
    so helper columns such as ``_old`` never reach the state. Returns
    (checkpointed frame, {agg name: value}); an aggregate over no rows
    reads 0. No aggregate, no Observation: an empty dict."""
    obs = Observation() if aggs else None
    if obs is not None:
        df = df.observe(obs, *aggs)
    out = checkpoint(df if keep is None else df.select(*keep), iteration)
    seen = {} if obs is None else {k: 0 if v is None else v for k, v in obs.get.items()}
    return out, seen


# Vertex-sized frames (state, label and rank vectors) at or below this
# many rows collapse to ONE partition: 65k rows spread over 64 shuffle
# partitions is pure task-scheduling overhead (measured 4x superstep
# cost at RMAT-12). Larger vectors stay hash-partitioned by id at
# shuffle width, so every vector stage parallelizes AND the
# per-superstep state<->inflow stitch join is co-partitioned (no
# exchange). Loops that stitch by join also broadcast the inflow side
# while the vector is this small.
SMALL_VECTOR_MAX = 100_000

# Broadcast-vs-shuffle regime of a superstep: a vertex vector of at most
# this many rows is broadcast into the edge-side join (the AllGather
# arm of CombBLAS's in-kernel vector-exchange choice, FastSV.h:252-333);
# a larger one is joined by shuffle (the Alltoall arm). As in the
# reference this is one engine-wide value; only pagerank,
# connected_components and label_propagation take a per-call override,
# because scripts/run_pagerank.py and the benchmark's crawl-ingest-rank
# workload force their shuffle regime.
BROADCAST_MAX_VERTICES = 8_000_000


def broadcastable(n: int, limit: int | None = None) -> bool:
    """True when an ``n``-row vertex vector takes the broadcast regime.
    ``limit`` is a per-call override of ``BROADCAST_MAX_VERTICES``; the
    constant is read at call time, so a test can monkeypatch it to force
    the shuffle regime."""
    return n <= (BROADCAST_MAX_VERTICES if limit is None else limit)


def small_vector(n: int) -> bool:
    """True when an ``n``-row vertex vector is small enough to sit in
    one partition and be broadcast back onto the state. Reads
    ``SMALL_VECTOR_MAX`` at call time, so a test can monkeypatch it."""
    return n <= SMALL_VECTOR_MAX


def layout_vector(df: DataFrame, n: int, shuffle_n: int | None = None) -> DataFrame:
    """Lay out a vertex-sized frame of ``n`` rows for an iterative loop:
    ``coalesce(1)`` when ``n <= SMALL_VECTOR_MAX``, otherwise
    ``repartition(shuffle_n, "id")``. ``shuffle_n=None`` leaves a large
    frame as it is (e.g. an aggregation output that is already
    hash-partitioned by id)."""
    if small_vector(n):
        return df.coalesce(1)
    return df if shuffle_n is None else df.repartition(shuffle_n, "id")
