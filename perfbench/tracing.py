"""Spans, Spark task accounting, process memory and host facts.

* ``Tracer`` keeps spans (name, start, end, parent, run id) in memory
  and writes them out once, at the end of the run. A span opened with
  ``group=`` also tags every Spark job it triggers with that job group,
  so the event log can be split per span afterwards.
* ``read_event_log`` groups ``SparkListenerTaskEnd`` metrics by the job
  group of the stage the task ran in. It reads the uncompressed,
  non-rolling log the traced session is configured to write.
* ``CpuMeter`` and ``MemoryWatch`` read CPU time and peak resident
  memory (VmHWM) of the benchmark process, the JVM and its Python
  workers from ``/proc``.
* ``host_facts`` records what makes numbers from two hosts comparable.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from pathlib import Path

MB = 1 << 20


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder for one traced pass."""

    def __init__(self, run_id: str, spark_context) -> None:
        self.run_id = run_id
        self.sc = spark_context
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None) -> int:
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.spans.append(Span(name, start, end, parent, self.run_id))
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, group: str | None = None):
        """Time the block as one span; with ``group`` every Spark job the
        block runs carries that job group id."""
        idx = self.add(name, time.perf_counter(), float("nan"))
        self._stack.append(idx)
        if group is not None:
            self.sc.setJobGroup(group, name)
        try:
            yield idx
        finally:
            if group is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def self_time(self, idx: int) -> float:
        """Span wall minus the part of it its children cover."""
        kids = sorted((s.start, s.end) for s in self.spans if s.parent == idx)
        covered, edge = 0.0, self.spans[idx].start
        for a, b in kids:
            a = max(a, edge)
            if b > a:
                covered += b - a
                edge = b
        return self.spans[idx].wall - covered

    def dump(self, path: Path) -> None:
        t0 = min((s.start for s in self.spans), default=0.0)
        rows = []
        for i, s in enumerate(self.spans):
            row = asdict(s)
            row.update(id=i, start=s.start - t0, end=s.end - t0,
                       wall=s.wall, self=self.self_time(i))
            rows.append(row)
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(rows, indent=1))


def superstep_split(tracer: Tracer, prefix: str, call: Span, stamps: list[dict],
                    parent: int) -> dict[str, float]:
    """Split a call span into cold / supersteps / finalize child spans
    from its stamps, and return the ``<prefix>.cold_s/.superstep_s/
    .finalize_s/.supersteps`` numbers. ``cold`` runs from call entry to
    the first stamp (set-up plus superstep 0), one span per later
    superstep, then ``finalize``: the children tile the call, so every
    superstep is billed."""
    ts = [s["t"] for s in stamps]
    if not ts:
        return {f"{prefix}.cold_s": call.wall, f"{prefix}.superstep_s": 0.0,
                f"{prefix}.finalize_s": 0.0, f"{prefix}.supersteps": 0}
    tracer.add(f"{prefix}.cold", call.start, ts[0], parent)
    for a, b in zip(ts, ts[1:]):
        tracer.add(f"{prefix}.superstep", a, b, parent)
    tracer.add(f"{prefix}.finalize", ts[-1], call.end, parent)
    gaps = [b - a for a, b in zip(ts, ts[1:])]
    return {
        f"{prefix}.cold_s": ts[0] - call.start,
        f"{prefix}.superstep_s": statistics.median(gaps) if gaps else 0.0,
        f"{prefix}.finalize_s": call.end - ts[-1],
        f"{prefix}.supersteps": len(ts),
    }


# ------------------------------------------------------------ event log

def read_event_log(log_dir: Path) -> dict[str, dict[str, float]]:
    """Per job group: jobs, summed task run time, shuffle bytes written,
    disk spill, and the task skew (max / median task run time) of the
    group's heaviest stage."""
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = {}
    tasks: dict[int, list[tuple[float, float, float]]] = {}
    for path in sorted(log_dir.iterdir()):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        jobs[group] = jobs.get(group, 0) + 1
                        for sid in ev.get("Stage IDs", []):
                            stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    tasks.setdefault(ev["Stage ID"], []).append((
                        m.get("Executor Run Time", 0) / 1000.0,
                        (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                        m.get("Disk Bytes Spilled", 0),
                    ))
    out: dict[str, dict[str, float]] = {
        g: {"jobs": n, "task_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
            "task_skew": 1.0, "_heaviest": -1.0}
        for g, n in jobs.items()}
    for sid, rows in tasks.items():
        group = stage_group.get(sid)
        if group is None:
            continue
        acc = out[group]
        run = [r[0] for r in rows]
        acc["task_s"] += sum(run)
        acc["shuffle_write_mb"] += sum(r[1] for r in rows) / MB
        acc["spill_mb"] += sum(r[2] for r in rows) / MB
        if sum(run) > acc["_heaviest"]:
            acc["_heaviest"] = sum(run)
            med = statistics.median(run)
            acc["task_skew"] = max(run) / med if med > 0 else 1.0
    for acc in out.values():
        del acc["_heaviest"]
    return out


# ------------------------------------------------------------- /proc

def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def descendants(pid: int) -> list[int]:
    """Live descendant pids of ``pid`` (the JVM's Python workers)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (FileNotFoundError, ProcessLookupError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], list(children.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _stat_cpu(path: str, fields: slice) -> int:
    try:
        with open(path) as fh:
            return sum(int(f) for f in fh.read().rsplit(")", 1)[1].split()[fields])
    except (FileNotFoundError, ProcessLookupError):
        return 0


class CpuMeter:
    """CPU seconds the engine spends: the Spark JVM less its JIT compiler
    threads, plus the JVM's Python workers with the children they
    reaped, plus this Python process. JIT time is compiling the JVM's
    own code: warm-up that decays run over run, and that differs run to
    run with the JVM's adaptive state. It is reported apart, as is the
    garbage collectors' share (which ``cpu`` includes). Whole-process
    counters keep the time of threads that ended in between (such as the
    per-task threads that feed Python workers); compiler and GC threads
    live as long as the JVM (it runs with
    ``-XX:-UseDynamicNumberOfCompilerThreads``), so subtracting the live
    compiler threads is exact."""

    SPLIT = {"jit": ("C1 CompilerThre", "C2 CompilerThre"), "gc": ("GC Thread", "G1 ")}

    def __init__(self, jvm_pid: int) -> None:
        self.jvm_pid = jvm_pid
        self.tick = os.sysconf("SC_CLK_TCK")
        self._start: dict[str, float] = {}

    def _now(self) -> dict[str, float]:
        split = dict.fromkeys(self.SPLIT, 0)
        base = f"/proc/{self.jvm_pid}/task"
        for tid in os.listdir(base):
            try:
                with open(f"{base}/{tid}/comm") as fh:
                    name = fh.read()
            except FileNotFoundError:
                continue
            for kind, prefixes in self.SPLIT.items():
                if name.startswith(prefixes):
                    split[kind] += _stat_cpu(f"{base}/{tid}/stat", slice(11, 13))
        jvm = _stat_cpu(f"/proc/{self.jvm_pid}/stat", slice(11, 13)) - split["jit"]
        workers = sum(_stat_cpu(f"/proc/{p}/stat", slice(11, 15))
                      for p in descendants(self.jvm_pid))
        out = {k: v / self.tick for k, v in split.items()}
        out["cpu"] = (jvm + workers) / self.tick + sum(os.times()[:2])
        return out

    def start(self) -> None:
        self._start = self._now()

    def stop(self) -> dict[str, float]:
        """CPU seconds since ``start()``: ``cpu`` (the engine, GC
        included), ``jit`` and ``gc``."""
        end = self._now()
        return {k: end[k] - self._start[k] for k in end}


class MemoryWatch:
    """Peak resident memory of this Python process, the Spark JVM and the
    JVM's Python workers: VmHWM of the first two, plus the largest summed
    VmHWM of the live workers seen at any ``sample()``."""

    def __init__(self, jvm_pid: int) -> None:
        self.jvm_pid = jvm_pid
        self.worker_peak_kb = 0

    def sample(self) -> None:
        kb = sum(_status_kb(p, "VmHWM") for p in descendants(self.jvm_pid))
        self.worker_peak_kb = max(self.worker_peak_kb, kb)

    def peak_mb(self) -> float:
        self.sample()
        return (_status_kb(os.getpid(), "VmHWM") + _status_kb(self.jvm_pid, "VmHWM")
                + self.worker_peak_kb) / 1024.0


# ------------------------------------------------------------ host facts

def _llc_bytes() -> int:
    best = 0
    base = Path("/sys/devices/system/cpu/cpu0/cache")
    for idx in base.glob("index*"):
        try:
            size = (idx / "size").read_text().strip()
        except OSError:
            continue
        mult = {"K": 1 << 10, "M": 1 << 20, "G": 1 << 30}.get(size[-1:], 1)
        best = max(best, int(size.rstrip("KMG")) * mult)
    return best or 32 * MB


def membw_probe() -> dict[str, float]:
    """One-process copy bandwidth over two arrays of 2x the last-level
    cache each (working set 4x LLC), run in a child process so its
    memory does not count toward the benchmark's own peak RSS."""
    llc = _llc_bytes()
    array = 2 * llc
    here = Path(__file__).resolve().parent
    out = subprocess.run([sys.executable, str(here / "membw.py"), str(array)],
                         check=True, capture_output=True, text=True, timeout=120)
    return {"llc_mb": llc / MB, "array_mb": array / MB, "working_set_mb": 2 * array / MB,
            "copy_gb_per_s": float(out.stdout.strip().splitlines()[-1])}


def host_facts(spark) -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    jvm = spark.sparkContext._jvm
    return {
        "nproc": os.cpu_count(),
        "mem_total_gb": round(mem_kb / (1 << 20), 2),
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
    }
