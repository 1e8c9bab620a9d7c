"""Benchmark of the combblas_spark link-graph engine.

    python3 perfbench/run.py --workload rmat-analytics --seed 42 --seconds 5 --trace 0

Run from the root of a checkout (it imports the library from there).
One client in a closed loop drives the public API on ``local[nproc]``:

1. an untimed warm-up: one set-up cycle and a light round of every call
   (one or two supersteps each), so the JVM's first-pass JIT and
   codegen and the Python worker start land in no timed number (they
   are reported as ``setup.warmup_s``);
2. set-up, repeated ``SETUP_CYCLES`` times (inputs generated from
   ``--seed``, built and persisted); ``setup_s`` is the median cycle;
3. timed rounds of the workload's calls, one after another, until
   ``--seconds`` of timed work is done (at least one round). ``cpu_s``
   is the median round's CPU seconds (``tracing.CpuMeter``: the work
   and its garbage collection, without the JVM's JIT compiler threads,
   which are reported apart) and ``wall_s`` the median round's wall;
4. output checks of every timed call against ``reference.py``, untimed;
   an exception or a failed check counts in ``failed``;
5. with ``--trace 1``, a separate traced pass (``workloads.py``) that
   records spans, tags Spark jobs per call and reads the task
   accounting from the event log (on for the whole traced run).

Earlier stdout lines list host facts, sample counts, phase times and
every metric with its unit and better-direction. The last line is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
the ``end_to_end`` metrics of ``BENCHMARK.json`` with ``--trace 0``,
its ``per_layer`` metrics with ``--trace 1``. A per-layer metric of a
layer or call the workload does not run reads 0. Spans go to
``.perfbench/traces/``; every other file the run writes (Spark local
dirs, warehouse, checkpoints, event log) lives in a per-run directory
under ``.perfbench/`` that is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SETUP_CYCLES = 3
DRIVER_MEMORY = "6g"
SPANS = ("pagerank", "cc", "triangles", "ingest", "resume")
SPAN_KEYS = ("shuffle_write_mb", "spill_mb", "task_s", "task_skew", "jobs")


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    from perfbench.workloads import SIZES, WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=sorted(SIZES), default="full")
    return p.parse_args(argv)


def start_session(run_dir: Path, nproc: int, event_dir: Path | None):
    from combblas_spark import get_spark

    conf = {
        "spark.local.dir": str(run_dir / "local"),
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        # a fixed set of JIT compiler threads, so CpuMeter can subtract them
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir / 'tmp'} "
                                         "-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads",
        "spark.eventLog.enabled": "false",
    }
    if event_dir is not None:
        # plain JSON lines: no codec is needed to read them back
        event_dir.mkdir(parents=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="perfbench", cores=nproc, driver_memory=DRIVER_MEMORY,
                     extra_conf=conf)


def stop_session(spark, jvm) -> None:
    """Stop Spark, end the JVM and wait for it and its Python workers."""
    from pyspark import SparkContext

    from perfbench.tracing import descendants

    workers = descendants(jvm.pid)
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    jvm.stdin.close()             # the gateway JVM exits at EOF on stdin
    try:
        jvm.wait(timeout=60)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait()
    deadline = time.monotonic() + 30
    while any(Path(f"/proc/{p}").exists() for p in workers) and time.monotonic() < deadline:
        time.sleep(0.1)


class Phases:
    """Wall time of each phase of a run, for the report."""

    def __init__(self) -> None:
        self.times: dict[str, float] = {}
        self._clock = time.perf_counter()

    def end(self, name: str) -> None:
        now = time.perf_counter()
        self.times[name] = round(now - self._clock, 3)
        self._clock = now


def check_rounds(workload, rounds: list) -> tuple[int, int]:
    """Check every timed call; returns (attempted, failed)."""
    attempted = failed = 0
    for calls in rounds:
        for call in calls:
            attempted += 1
            ok = False
            if call.error is None:
                try:
                    ok = workload.check(call)
                except Exception as exc:  # a crashed check is a failed check
                    print(f"check {call.name} raised {exc!r}", file=sys.stderr)
            if not ok:
                failed += 1
                print(f"check failed: {call.name}", file=sys.stderr)
        workload.end_round(calls)
    return attempted, failed


def measure(args: argparse.Namespace, run_dir: Path, spec: dict) -> tuple[dict, dict]:
    """Run one workload; returns (result line, report)."""
    from perfbench import tracing
    from perfbench.workloads import SIZES, WORKLOADS, Ctx

    nproc = os.cpu_count() or 1
    phases = Phases()
    host = {}
    if args.trace:
        host["membw"] = tracing.membw_probe()      # before the JVM exists
        phases.end("membw")
    event_dir = run_dir / "eventlog" if args.trace else None
    t0 = time.perf_counter()
    spark = start_session(run_dir, nproc, event_dir)
    values: dict[str, float] = {"session.start_s": time.perf_counter() - t0}
    jvm = spark.sparkContext._gateway.proc
    host.update(tracing.host_facts(spark))
    memory = tracing.MemoryWatch(jvm.pid)
    cpu = tracing.CpuMeter(jvm.pid)
    ctx = Ctx(spark=spark, seed=args.seed, size=SIZES[args.size], run_dir=run_dir, nproc=nproc)
    workload = WORKLOADS[args.workload](ctx)
    tracer = None
    try:
        t = time.perf_counter()
        workload.setup()
        workload.end_round(workload.round("warmup", light=True))
        values["setup.warmup_s"] = time.perf_counter() - t
        setups = []
        for _ in range(SETUP_CYCLES):
            t = time.perf_counter()
            workload.setup()
            setups.append(time.perf_counter() - t)
        phases.end("setup")

        rounds, cpu_rounds, timed_s = [], [], 0.0
        while not rounds or timed_s < args.seconds:
            cpu.start()
            calls = workload.round(f"r{len(rounds)}")
            cpu_rounds.append(cpu.stop())
            memory.sample()
            rounds.append(calls)
            timed_s += sum(c.wall for c in calls)
        values["peak_rss_mb"] = memory.peak_mb()   # before the checks allocate
        phases.end("rounds")

        attempted, failed = check_rounds(workload, rounds)
        phases.end("checks")
        walls = [sum(c.wall for c in calls) for calls in rounds]
        values.update(setup_s=statistics.median(setups), wall_s=statistics.median(walls),
                      cpu_s=statistics.median(c["cpu"] for c in cpu_rounds),
                      **{f"session.{k}_cpu_s": statistics.median(c[k] for c in cpu_rounds)
                         for k in ("jit", "gc")},
                      **workload.call_metrics(rounds))
        if args.trace:
            tracer = tracing.Tracer(f"{args.workload}-{args.seed}", spark.sparkContext)
            values.update(workload.traced(tracer))
            values["trace.overhead_s"] = values.pop("trace.wall_s") - values["wall_s"]
            phases.end("traced")
    finally:
        workload.close()
        stop_session(spark, jvm)
    phases.end("stop")

    if args.trace:
        accounts = tracing.read_event_log(event_dir)
        for span in SPANS:
            for key in SPAN_KEYS:
                values[f"{span}.{key}"] = accounts.get(span, {}).get(key, 0)
        tracer.dump(ROOT / ".perfbench" / "traces" / f"{args.workload}-seed{args.seed}.json")

    names = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in names}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    report = {
        "host": host,
        "samples": {"setup_cycles": [round(t, 3) for t in setups],
                    "rounds_wall_s": [round(w, 3) for w in walls],
                    "rounds_cpu_s": [{k: round(v, 3) for k, v in c.items()}
                                     for c in cpu_rounds]},
        "phases_s": phases.times,
        "error_rate": failed / attempted,
        "values": values,
    }
    return result, report


def print_report(report: dict, spec: dict) -> None:
    units = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    print("host " + json.dumps(report["host"], sort_keys=True))
    print("samples " + json.dumps(report["samples"]))
    print("phases_s " + json.dumps(report["phases_s"]))
    print(f"{'error_rate':40s} {report['error_rate']:14.6g} failed/attempted  lower")
    for name, value in sorted(report["values"].items()):
        m = units.get(name, {"unit": "?", "better": "?"})
        print(f"{name:40s} {value:14.6g} {m['unit']:16s} {m['better']}")


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, str(ROOT))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    import combblas_spark  # noqa: F401  (fail fast outside a checkout)

    args = parse_args(argv)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    run_dir = ROOT / ".perfbench" / f"run-{args.workload}-{args.seed}-{os.getpid()}"
    (run_dir / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    try:
        result, report = measure(args, run_dir, spec)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print_report(report, spec)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
