"""The benchmark's workloads, each driven through the public API of
``combblas_spark``.

A workload has these parts, which ``run.py`` sequences:

* ``setup()`` makes the inputs from the seed and builds them into the
  form the calls read (one set-up cycle; ``run.py`` repeats it);
* ``round()`` makes the calls once, one after another, and returns one
  ``Call`` per call with its wall time and output (``light=True`` is
  the few-superstep warm-up round);
* ``check(call)`` compares a call's output with an independent
  reference (``reference.py``), untimed; ``end_round()`` then drops
  what the round left behind;
* ``call_metrics(rounds)`` gives the per-call numbers;
* ``traced(tracer)`` makes the same calls again inside spans, with
  each lazy stage materialized so that per-layer walls exist, and
  returns the per-layer numbers.

Sizes are chosen so a whole run takes about a minute on a 4-core host;
``SIZES["smoke"]`` is the tiny size the smoke test runs.
"""

from __future__ import annotations

import json
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any, Callable

import numpy as np

from perfbench import reference
from perfbench.tracing import Span, Tracer, superstep_split

SIZES = {
    "full": {"rmat_scale": 13, "pages": 10_000},
    "smoke": {"rmat_scale": 10, "pages": 2_000},
}

EDGEFACTOR = 16
ALPHA = 0.85
PR_ITERS = 10
CRAWL_SITES = 1000
CRAWL_RANK_ITERS = 6
CRAWL_CHECKPOINT_EVERY = 2
INGEST_SAMPLE = 1000


@dataclass
class Ctx:
    spark: Any
    seed: int
    size: dict
    run_dir: Path
    nproc: int


@dataclass
class Call:
    name: str
    wall: float = 0.0
    output: Any = None
    error: str | None = None
    meta: dict = field(default_factory=dict)


def timed(name: str, fn: Callable[[list], Any]) -> Call:
    """Run one timed call. ``fn`` receives the list an algorithm appends
    its superstep stamps to (only the traced pass reads them). An
    exception fails the call; it is reported on stderr and the run goes
    on."""
    call = Call(name)
    start = time.perf_counter()
    try:
        call.output = fn([])
    except Exception:  # one failed call must not end the run
        call.error = traceback.format_exc()
        print(f"call {name} failed:\n{call.error}", file=sys.stderr)
    call.wall = time.perf_counter() - start
    return call


def materialize(df):
    """Persist and count — the traced pass's way to give a lazy stage its
    own wall time."""
    from pyspark.storagelevel import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    return df


def _ranks_match(pdf, ref: tuple[np.ndarray, np.ndarray], col: str, exact: bool) -> bool:
    ids, want = ref
    got = pdf.sort_values("id")
    if not np.array_equal(got["id"].to_numpy(), ids):
        return False
    vals = got[col].to_numpy()
    if exact:
        return bool(np.array_equal(vals, want))
    return bool(np.allclose(vals, want, rtol=1e-6, atol=1e-12))


def traced_call(tracer: Tracer, name: str, fn: Callable[[list], Any],
                prefix: str | None = None) -> tuple[Any, Span, dict]:
    """One call of the traced pass, in a span whose Spark jobs carry the
    job group ``name``. With ``prefix``, the superstep stamps split the
    span into cold / superstep / finalize children. Errors propagate:
    the traced pass has no failure budget."""
    stamps: list = []
    with tracer.span(name, group=name) as idx:
        out = fn(stamps)
    span = tracer.spans[idx]
    split = superstep_split(tracer, prefix, span, stamps, idx) if prefix else {}
    return out, span, split


def _median_wall(rounds: list[list[Call]], name: str) -> float:
    return statistics.median(c.wall for r in rounds for c in r if c.name == name)


def _dir_mb(path: Path) -> float:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file()) / (1 << 20)


class Workload:
    name = ""

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark

    def setup(self) -> None:
        """One set-up cycle: inputs from the seed, built and persisted."""
        raise NotImplementedError

    def round(self, tag: str, light: bool = False) -> list[Call]:
        """The calls, once each, in order. ``light`` runs them with few
        supersteps: the untimed warm-up round."""
        raise NotImplementedError

    def check(self, call: Call) -> bool:
        """Whether the call's output matches the independent reference."""
        raise NotImplementedError

    def end_round(self, calls: list[Call]) -> None:
        """Drop what a round left behind, after its checks."""

    def call_metrics(self, rounds: list[list[Call]]) -> dict[str, float]:
        """Per-call numbers (medians over the rounds)."""
        raise NotImplementedError

    def traced(self, tracer: Tracer) -> dict[str, float]:
        """The traced pass; returns per-layer numbers and ``trace.wall_s``,
        the traced wall of the calls a round times."""
        raise NotImplementedError

    def close(self) -> None:
        pass


class RmatAnalytics(Workload):
    """The read-only analytics path over one persisted RMAT graph:
    PageRank and FastSV CC (iterative, broadcast regime), then the
    degree-oriented exact triangle count (the masked-SpGEMM wedge join,
    no iterative loop)."""

    name = "rmat-analytics"

    def __init__(self, ctx: Ctx) -> None:
        super().__init__(ctx)
        self.scale = ctx.size["rmat_scale"]
        self.graph = None
        self.n_edges = 0
        self._refs: dict[str, Any] | None = None

    def setup(self) -> None:
        from pyspark.storagelevel import StorageLevel

        from combblas_spark.graph import build_graph
        from combblas_spark.sources.rmat import rmat_edges

        self.close()
        raw = rmat_edges(self.spark, self.scale, EDGEFACTOR, seed=self.ctx.seed)
        self.graph = build_graph(raw).persist(StorageLevel.MEMORY_AND_DISK)
        self.n_edges = self.graph.count()

    def _specs(self, light: bool = False):
        from combblas_spark.algorithms.components import connected_components
        from combblas_spark.algorithms.pagerank import pagerank
        from combblas_spark.algorithms.triangles import triangle_count

        g = self.graph
        iters, cc_iters = (1, 1) if light else (PR_ITERS, 50)
        return [
            ("pagerank", lambda st: pagerank(g, n_iter=iters, tol=None,
                                             metrics=st).toPandas()),
            ("cc", lambda st: connected_components(g, max_iter=cc_iters,
                                                   metrics=st).toPandas()),
            ("triangles", lambda st: triangle_count(g, order_by_degree=True)),
        ]

    def round(self, tag: str, light: bool = False) -> list[Call]:
        return [timed(name, fn) for name, fn in self._specs(light)]

    def check(self, call: Call) -> bool:
        if self._refs is None:
            raw = reference.rmat_raw(self.scale, EDGEFACTOR, self.ctx.seed)
            src, dst = reference.simple_edges(*raw)
            self._refs = {
                "pagerank": reference.pagerank(src, dst, PR_ITERS, ALPHA),
                "cc": reference.components(src, dst),
                "triangles": reference.triangles(*raw, threads=self.ctx.nproc),
            }
        want = self._refs[call.name]
        if call.name == "triangles":
            return call.output == want
        col, exact = {"pagerank": ("rank", False), "cc": ("comp", True)}[call.name]
        return _ranks_match(call.output, want, col, exact)

    def call_metrics(self, rounds: list[list[Call]]) -> dict[str, float]:
        return {
            "pagerank_eps": self.n_edges * PR_ITERS / _median_wall(rounds, "pagerank"),
            "cc_s": _median_wall(rounds, "cc"),
            "triangles_s": _median_wall(rounds, "triangles"),
        }

    def traced(self, tracer: Tracer) -> dict[str, float]:
        from pyspark.sql import functions as F

        from combblas_spark import SELECT2ND_MIN, spmv
        from combblas_spark.algorithms.triangles import lower_triangle
        from combblas_spark.graph import build_graph, vertices
        from combblas_spark.operators.spgemm import estimate_spgemm_flops
        from combblas_spark.sources.rmat import rmat_edges

        out: dict[str, float] = {}
        self.close()
        with tracer.span("setup"):
            with tracer.span("sources.rmat") as s_rmat:
                raw = materialize(rmat_edges(self.spark, self.scale, EDGEFACTOR,
                                             seed=self.ctx.seed))
            with tracer.span("graph.build") as s_build:
                self.graph = materialize(build_graph(raw))
            raw.unpersist()
        out["sources.rmat_s"] = tracer.spans[s_rmat].wall
        out["graph.build_s"] = tracer.spans[s_build].wall

        x = materialize(vertices(self.graph).select(
            "id", F.col("id").cast("double").alias("val")))
        with tracer.span("operators.spmv", group="spmv") as s:
            spmv(self.graph, x, SELECT2ND_MIN).write.format("noop").mode("overwrite").save()
        out["operators.spmv_s"] = tracer.spans[s].wall
        x.unpersist()

        lower = materialize(lower_triangle(self.graph, order_by_degree=True))
        with tracer.span("operators.spgemm_flops", group="spgemm_flops"):
            out["operators.spgemm_flops"] = estimate_spgemm_flops(lower, lower)
        with tracer.span("algorithms.triangles.wedges", group="wedges"):
            ab = lower.select(F.col("src").alias("a"), F.col("dst").alias("b"))
            bc = lower.select(F.col("src").alias("b"), F.col("dst").alias("c"))
            wedges = ab.join(bc, "b").count()
        lower.unpersist()
        out["algorithms.triangles.wedges"] = wedges

        wall = 0.0
        for name, fn in self._specs():
            prefix = None if name == "triangles" else f"algorithms.{name}"
            result, span, split = traced_call(tracer, name, fn, prefix=prefix)
            out.update(split)
            wall += span.wall
        out["algorithms.triangles.closed_per_wedge"] = result / wedges if wedges else 0.0
        out["trace.wall_s"] = wall
        return out

    def close(self) -> None:
        if self.graph is not None:
            self.graph.unpersist(blocking=True)
            self.graph = None


RUNNER_CONFIG = {"alpha": ALPHA, "broadcast_max_vertices": 0}


class CrawlIngestRank(Workload):
    """Crawl pages on Parquet -> Arrow-UDF link extraction -> URL
    dictionary -> bucketed edge table, then PageRank in the shuffle
    regime with durable Parquet checkpoints, then a resume."""

    name = "crawl-ingest-rank"

    def __init__(self, ctx: Ctx) -> None:
        super().__init__(ctx)
        self.n_pages = ctx.size["pages"]
        self.buckets = 2 * ctx.nproc
        self.pages_path = ctx.run_dir / f"pages-{self.n_pages}"
        self.warehouse = ctx.run_dir / "warehouse"
        self.n_edges = 0
        self._ref = None

    def _write_pages(self, path: Path) -> None:
        from combblas_spark.sources.pages import generate_pages

        generate_pages(self.spark, self.n_pages, n_sites=CRAWL_SITES,
                       seed=self.ctx.seed).write.mode("overwrite").parquet(str(path))

    def setup(self) -> None:
        self._write_pages(self.pages_path)

    def _rank(self, table: str, ck: Path, iters: int):
        from combblas_spark.algorithms.pagerank import pagerank
        from combblas_spark.runtime.superstep import SuperstepRunner
        from combblas_spark.sources.io import read_bucketed_edges

        def run(stamps: list):
            runner = SuperstepRunner(self.spark, str(ck), "pagerank", config=RUNNER_CONFIG,
                                     every=CRAWL_CHECKPOINT_EVERY)
            return pagerank(read_bucketed_edges(self.spark, table), n_iter=iters, tol=None,
                            broadcast_max_vertices=0, edge_layout="src", runner=runner,
                            metrics=stamps).toPandas()
        return run

    def _ingest(self, table: str):
        from combblas_spark.graph import build_graph
        from combblas_spark.sources.io import write_bucketed_edges
        from combblas_spark.sources.pages import pages_to_edges

        def run(stamps: list) -> str:
            edges, _ = pages_to_edges(self.spark.read.parquet(str(self.pages_path)))
            write_bucketed_edges(build_graph(edges), table, buckets=self.buckets)
            return table
        return run

    def round(self, tag: str, light: bool = False) -> list[Call]:
        rank_iters, total_iters = (2, 3) if light else (CRAWL_RANK_ITERS, PR_ITERS)
        table = f"edges_{self.n_pages}_{tag}"
        ck = self.ctx.run_dir / "checkpoints" / table
        specs = [("ingest", self._ingest(table)),
                 ("pagerank", self._rank(table, ck, rank_iters)),
                 ("resume", self._rank(table, ck, total_iters))]
        calls = []
        for name, fn in specs:
            call = timed(name, fn)
            call.meta = {"table": table, "ck": ck}
            calls.append(call)
        return calls

    def _reference(self):
        if self._ref is None:
            pages = (self.spark.read.parquet(str(self.pages_path))
                     .select("url", "html").toPandas())
            urls = pages["url"].tolist()
            ids, adj = reference.crawl_edges(list(zip(urls, pages["html"])))
            src, dst = reference.adjacency_arrays(adj)
            rng = np.random.default_rng(self.ctx.seed)
            sample = rng.choice(len(urls), min(INGEST_SAMPLE, len(urls)), replace=False)
            self._ref = {
                "ids": ids, "adj": adj, "sample": [urls[i] for i in sample],
                "pagerank": reference.pagerank(src, dst, CRAWL_RANK_ITERS, ALPHA),
                "resume": reference.pagerank(src, dst, PR_ITERS, ALPHA),
            }
        return self._ref

    def _ingest_ok(self, table: str) -> bool:
        from pyspark.sql import functions as F

        ref = self._reference()
        sample_ids = [ref["ids"][u] for u in ref["sample"] if u in ref["ids"]]
        stored = (self.spark.table(table).where(F.col("src").isin(sample_ids))
                  .select("src", "dst", "val").toPandas())
        got: dict[int, dict[int, float]] = {}
        for s, d, v in stored.itertuples(index=False):
            got.setdefault(int(s), {})[int(d)] = float(v)
        for url in ref["sample"]:
            sid = ref["ids"].get(url)
            want = {d: float(c) for d, c in ref["adj"].get(sid, {}).items()}
            if got.get(sid, {}) != want:
                return False
        return True

    def check(self, call: Call) -> bool:
        if call.name == "ingest":
            return self._ingest_ok(call.meta["table"])
        ref = self._reference()[call.name]
        pdf = call.output
        ok = abs(float(pdf["rank"].sum()) - 1.0) <= 1e-9 and _ranks_match(pdf, ref, "rank", False)
        if call.name == "resume":
            latest = json.loads((call.meta["ck"] / "latest.json").read_text())
            ok = ok and latest["iteration"] == PR_ITERS - 1
        return ok

    def _drop(self, table: str, ck: Path) -> None:
        self.spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(ck, ignore_errors=True)

    def end_round(self, calls: list[Call]) -> None:
        table = calls[0].meta["table"]
        if not self.n_edges and self.spark.catalog.tableExists(table):
            self.n_edges = self.spark.table(table).count()
        self._drop(table, calls[0].meta["ck"])

    def call_metrics(self, rounds: list[list[Call]]) -> dict[str, float]:
        return {
            "pagerank_eps": self.n_edges * CRAWL_RANK_ITERS / _median_wall(rounds, "pagerank"),
            "ingest_pages_per_s": self.n_pages / _median_wall(rounds, "ingest"),
            "resume_s": _median_wall(rounds, "resume"),
        }

    def traced(self, tracer: Tracer) -> dict[str, float]:
        from combblas_spark.graph import build_graph, relabel_to_dense_ids
        from combblas_spark.sources.io import write_bucketed_edges
        from combblas_spark.sources.pages import extract_link_edges

        out: dict[str, float] = {}
        pages_path = self.ctx.run_dir / "pages_traced"
        with tracer.span("setup"):
            with tracer.span("sources.generate_pages") as s:
                self._write_pages(pages_path)
        out["sources.generate_pages_s"] = tracer.spans[s].wall
        table, ck = "edges_traced", self.ctx.run_dir / "checkpoints" / "traced"
        with tracer.span("ingest", group="ingest") as s_ingest:
            pages = self.spark.read.parquet(str(pages_path))
            with tracer.span("sources.extract_links") as s1:
                links = materialize(extract_link_edges(pages))
            with tracer.span("graph.relabel") as s2:
                edges = materialize(relabel_to_dense_ids(links, ("src_url", "dst_url"))[0])
            with tracer.span("graph.build") as s3:
                graph = materialize(build_graph(edges))
            with tracer.span("sources.write_bucketed") as s4:
                write_bucketed_edges(graph, table, buckets=self.buckets)
            for df in (links, edges, graph):
                df.unpersist()
        for key, idx in (("sources.extract_links_s", s1), ("graph.relabel_s", s2),
                         ("graph.build_s", s3), ("sources.write_bucketed_s", s4)):
            out[key] = tracer.spans[idx].wall
        out["sources.table_mb"] = _dir_mb(self.warehouse / table)
        rank = self._rank(table, ck, CRAWL_RANK_ITERS)
        _, s_rank, split = traced_call(tracer, "pagerank", rank, prefix="algorithms.pagerank")
        out.update(split)
        resume = self._rank(table, ck, PR_ITERS)
        _, s_resume, split = traced_call(tracer, "resume", resume, prefix="resume")
        out["runtime.resume_cold_s"] = split["resume.cold_s"]
        out["runtime.checkpoint_mb"] = _dir_mb(ck)
        latest = json.loads((ck / "latest.json").read_text())
        out["runtime.load_imbalance"] = float(latest["load_imbalance"])
        out["trace.wall_s"] = tracer.spans[s_ingest].wall + s_rank.wall + s_resume.wall
        self._drop(table, ck)
        return out


WORKLOADS = {w.name: w for w in (RmatAnalytics, CrawlIngestRank)}
