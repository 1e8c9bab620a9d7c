"""Smoke test of the benchmark at its tiny size (RMAT-10, 2,000 pages).

    python3 perfbench/smoke.py
    python3 -m pytest -q perfbench/smoke.py

Runs every workload of BENCHMARK.json at ``--size smoke``, untraced and
traced, and asserts that each run exits 0 and every output check
passes; that the result line carries exactly the metrics BENCHMARK.json
names; that the metrics of the layers and calls a workload exercises
are non-zero and printed in its report; and that each traced PageRank
call is tiled by its cold / superstep / finalize spans within 5%.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
SEED = 7

_SPARK = ("shuffle_write_mb", "task_s", "jobs")
EXERCISED = {
    "rmat-analytics": [
        "session.start_s", "sources.rmat_s", "graph.build_s", "operators.spmv_s",
        "operators.spgemm_flops", "algorithms.triangles.wedges",
        "algorithms.triangles.closed_per_wedge", "pagerank_eps", "cc_s", "triangles_s",
        *(f"algorithms.{a}.{k}" for a in ("pagerank", "cc")
          for k in ("cold_s", "superstep_s", "finalize_s", "supersteps")),
        *(f"{s}.{k}" for s in ("pagerank", "cc", "triangles") for k in _SPARK),
    ],
    "crawl-ingest-rank": [
        "session.start_s", "sources.generate_pages_s", "sources.extract_links_s",
        "sources.write_bucketed_s", "sources.table_mb", "graph.relabel_s",
        "graph.build_s", "runtime.checkpoint_mb", "runtime.load_imbalance",
        "runtime.resume_cold_s", "pagerank_eps", "ingest_pages_per_s", "resume_s",
        *(f"algorithms.pagerank.{k}" for k in ("cold_s", "superstep_s", "finalize_s",
                                                "supersteps")),
        *(f"{s}.{k}" for s in ("pagerank", "ingest", "resume") for k in _SPARK),
    ],
}


def run(workload: str, trace: int) -> tuple[dict, str]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(SEED),
         "--seconds", "1", "--trace", str(trace), "--size", "smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert proc.returncode == 0, proc.stderr[-4000:]
    head, _, last = proc.stdout.strip().rpartition("\n")
    return json.loads(last), head


def check_workload(workload: str) -> None:
    for trace in (0, 1):
        result, report = run(workload, trace)
        assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, result
        names = [m["name"] for m in SPEC["per_layer" if trace else "end_to_end"]]
        assert list(result["metrics"]) == names
        printed = {line.split()[0] for line in report.splitlines() if line.strip()}
        assert "error_rate" in printed
        for m in SPEC["end_to_end"]:
            assert m["name"] in printed, m["name"]
        if trace:
            for name in EXERCISED[workload]:
                assert name in printed, name
                assert result["metrics"][name]["value"] > 0, name

    spans = json.loads((ROOT / ".perfbench" / "traces" / f"{workload}-seed{SEED}.json").read_text())
    calls = [s for s in spans if s["name"] == "pagerank"]
    assert calls
    for call in calls:
        tiled = sum(s["wall"] for s in spans if s["parent"] == call["id"])
        assert abs(tiled - call["wall"]) <= 0.05 * call["wall"], (tiled, call["wall"])


def test_rmat_analytics() -> None:
    check_workload("rmat-analytics")


def test_crawl_ingest_rank() -> None:
    check_workload("crawl-ingest-rank")


if __name__ == "__main__":
    for w in SPEC["workloads"]:
        check_workload(w["name"])
        print("ok", w["name"])
