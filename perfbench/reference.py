"""Independent reference results for the benchmark's output checks.

Every function here recomputes an algorithm's documented result with
numpy or DuckDB, from the generated inputs alone. From
``combblas_spark`` it imports only the input generators and the
pure-Python link extractor the library keeps as its per-row oracle,
so a wrong answer in the engine cannot also be a wrong answer here.
"""

from __future__ import annotations

from collections import Counter

import numpy as np


def rmat_raw(scale: int, edgefactor: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """The raw RMAT edge list ``rmat_edges`` generates (edge ids 0..m-1)."""
    from combblas_spark.sources.rmat import rmat_pandas

    ids = np.arange(edgefactor * (1 << scale), dtype=np.int64)
    return rmat_pandas(ids, scale, seed)


def _pair_keys(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, int]:
    """One int64 key per (src, dst) pair, ordered like the pair."""
    base = int(max(src.max(initial=0), dst.max(initial=0))) + 1
    if min(src.min(initial=0), dst.min(initial=0)) < 0 or base > 3_037_000_499:
        raise ValueError("pair keys need ids in [0, 3.03e9)")
    return src.astype(np.int64) * base + dst, base


def simple_edges(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Distinct directed (src, dst) pairs without loops — the edge rows
    of ``build_graph`` (duplicates summed into one row, loops dropped)."""
    keep = src != dst
    keys, base = _pair_keys(src[keep], dst[keep])
    keys = np.unique(keys)
    return keys // base, keys % base


def pagerank(src: np.ndarray, dst: np.ndarray, n_iter: int,
             alpha: float = 0.85) -> tuple[np.ndarray, np.ndarray]:
    """Exactly ``n_iter`` synchronous power iterations of
    r' = (1-a)/n + a * (A_norm^T r + dangling_mass/n) over the vertex
    set src UNION dst, each edge row weighted 1/outdeg(src)."""
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    n = len(ids)
    s, d = inv[: len(src)], inv[len(src):]
    outdeg = np.bincount(s, minlength=n).astype(np.float64)
    dangling = outdeg == 0
    w = 1.0 / outdeg[s]
    r = np.full(n, 1.0 / n)
    for _ in range(n_iter):
        dm = r[dangling].sum()
        inflow = np.bincount(d, weights=w * r[s], minlength=n)
        r = (1.0 - alpha) / n + alpha * (inflow + dm / n)
    return ids, r


def _undirected(src: np.ndarray, dst: np.ndarray):
    """(vertex ids, neighbor-pair index arrays) of the undirected simple
    view: both directions, distinct, no loops."""
    s, d = simple_edges(np.concatenate([src, dst]), np.concatenate([dst, src]))
    ids, inv = np.unique(np.concatenate([s, d]), return_inverse=True)
    return ids, inv[: len(s)], inv[len(s):]


def components(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Min-label fixpoint: every vertex labelled with the smallest vertex
    id of its undirected component."""
    ids, s, d = _undirected(src, dst)
    lab = np.arange(len(ids))          # ids are sorted: min index = min id
    while True:
        new = lab.copy()
        np.minimum.at(new, d, lab[s])
        new = new[new]                 # pointer jumping
        if np.array_equal(new, lab):
            break
        lab = new
    return ids, ids[lab]


LOWER_TRIANGLE_SQL = """
CREATE TEMP TABLE lower_t AS
WITH raw AS (SELECT src, dst FROM edges WHERE src <> dst),
sym AS (SELECT src, dst FROM raw UNION SELECT dst, src FROM raw),
deg AS (SELECT src AS id, count(*) AS d FROM sym GROUP BY src)
SELECT s.src, s.dst FROM sym s
JOIN deg a ON a.id = s.src JOIN deg b ON b.id = s.dst
WHERE a.d < b.d OR (a.d = b.d AND s.src < s.dst)
"""

CLOSED_WEDGES_SQL = """
SELECT count(*) FROM lower_t x
JOIN lower_t y ON x.dst = y.src
SEMI JOIN lower_t z ON z.src = x.src AND z.dst = y.dst
"""


def triangles(src: np.ndarray, dst: np.ndarray, threads: int) -> int:
    """DuckDB count of closed wedges over the degree-oriented lower
    triangle of the undirected simple view."""
    import duckdb
    import pandas as pd

    edges = pd.DataFrame({"src": src, "dst": dst})  # noqa: F841 (scanned by name)
    con = duckdb.connect()
    try:
        con.execute(f"SET threads = {int(threads)}")
        con.execute(LOWER_TRIANGLE_SQL)
        return int(con.execute(CLOSED_WEDGES_SQL).fetchone()[0])
    finally:
        con.close()


def crawl_edges(pages: list[tuple[str, bytes]]):
    """The dense-id edge table the ingest pipeline must store, from the
    pure-Python link extractor: url labels of every (src, dst) link are
    numbered in sorted order, and duplicate links sum into ``val``.

    Returns (url -> id, {src_id: Counter(dst_id -> val)})."""
    from combblas_spark.sources.pages import reference_extract_links

    links = {url: reference_extract_links(html) for url, html in pages}
    labels = set()
    for url, out in links.items():
        if out:
            labels.add(url)
            labels.update(out)
    ids = {label: i for i, label in enumerate(sorted(labels))}
    adj = {}
    for url, out in links.items():
        kept = [ids[t] for t in out if t != url]
        if kept:
            adj[ids[url]] = Counter(kept)
    return ids, adj


def adjacency_arrays(adj: dict[int, Counter]) -> tuple[np.ndarray, np.ndarray]:
    """(src, dst) rows, one per distinct edge, of an adjacency map."""
    src = [s for s, out in adj.items() for _ in out]
    dst = [t for out in adj.values() for t in out]
    return np.asarray(src, dtype=np.int64), np.asarray(dst, dtype=np.int64)
