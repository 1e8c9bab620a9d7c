"""Algorithm tests vs numpy/scipy oracles on FIXTURES.md §4 known-answer
graphs + a seeded RMAT graph (mirrors the reference's application-level
validators, e.g. CC::Correctness CC.h:1356-1374 and the Graph500 parent
validation TopDownBFS.cpp:455-462)."""

import numpy as np
import pytest

from combblas_spark.algorithms import (
    pagerank, connected_components, label_propagation, triangle_count,
    bfs_levels, bfs_parents,
)
from combblas_spark.algorithms.triangles import triangles_per_vertex
from combblas_spark.graph import build_graph
from combblas_spark.runtime import plans
from combblas_spark.sources.rmat import rmat_edges
from tests.conftest import df_edges


def regimes(monkeypatch):
    """Yields "broadcast" then "shuffle", forcing each superstep regime
    in turn through ``plans.BROADCAST_MAX_VERTICES`` (0 sends every
    vertex vector down the shuffle join), so one oracle test covers
    both arms of an algorithm's regime gate. The shuffle case also sets
    ``plans.SMALL_VECTOR_MAX`` to 0, as on any graph past the broadcast
    threshold: vectors are hash-partitioned by id at shuffle width and
    the inflow is stitched back by a co-partitioned join."""
    for regime, bmax, small in (
            ("broadcast", plans.BROADCAST_MAX_VERTICES, plans.SMALL_VECTOR_MAX),
            ("shuffle", 0, 0)):
        monkeypatch.setattr(plans, "BROADCAST_MAX_VERTICES", bmax)
        monkeypatch.setattr(plans, "SMALL_VECTOR_MAX", small)
        yield regime


def numpy_pagerank(edges, n, alpha=0.85, iters=200, tol=1e-12):
    """Reference power iteration (FIXTURES.md §5 oracle)."""
    A = np.zeros((n, n))
    for s, d in edges:
        A[s, d] = 1.0
    out = A.sum(axis=1)
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        dangling = r[out == 0].sum()
        contrib = np.zeros(n)
        nz = out > 0
        contrib = (A[nz] / out[nz, None] * r[nz, None]).sum(axis=0)
        r_new = (1 - alpha) / n + alpha * (contrib + dangling / n)
        if np.abs(r_new - r).sum() < tol:
            return r_new
        r = r_new
    return r


def ranks_of(df, n):
    out = np.zeros(n)
    for r in df.collect():
        out[r["id"]] = r["rank"]
    return out


# ------------------------------------------------------------------ PageRank

def test_pagerank_directed_cycle(spark):
    e = df_edges(spark, [(0, 1), (1, 2), (2, 3), (3, 0)])
    r = ranks_of(pagerank(e, tol=1e-10), 4)
    np.testing.assert_allclose(r, 0.25, atol=1e-6)


def test_pagerank_dangling(spark):
    edges = [(0, 1), (1, 2)]
    e = df_edges(spark, edges)
    r = ranks_of(pagerank(e, tol=1e-12), 3)
    expect = numpy_pagerank(edges, 3)
    np.testing.assert_allclose(r, expect, atol=1e-6, rtol=1e-6)


def test_pagerank_rmat_vs_numpy(spark):
    raw = rmat_edges(spark, scale=6, edgefactor=4, seed=7)
    g = build_graph(raw).persist()
    pairs = [(r["src"], r["dst"]) for r in g.select("src", "dst").collect()]
    ids = sorted({x for p in pairs for x in p})
    remap = {v: i for i, v in enumerate(ids)}
    expect = numpy_pagerank([(remap[s], remap[d]) for s, d in pairs], len(ids))
    got = {r["id"]: r["rank"] for r in pagerank(g, tol=1e-12).collect()}
    got_arr = np.array([got[v] for v in ids])
    np.testing.assert_allclose(got_arr, expect, atol=1e-6, rtol=1e-6)
    assert abs(got_arr.sum() - 1.0) < 1e-9


def test_pagerank_fixed_iters_matches_unrolled(spark):
    edges = [(0, 1), (1, 2), (2, 0), (2, 3)]
    e = df_edges(spark, edges)
    got = ranks_of(pagerank(e, n_iter=5), 4)
    # manual 5-iteration recurrence
    n, alpha = 4, 0.85
    A = np.zeros((n, n))
    for s, d in edges:
        A[s, d] = 1.0
    out = A.sum(axis=1)
    r = np.full(n, 1.0 / n)
    for _ in range(5):
        dang = r[out == 0].sum()
        nz = out > 0
        contrib = (A[nz] / out[nz, None] * r[nz, None]).sum(axis=0)
        r = (1 - alpha) / n + alpha * (contrib + dang / n)
    np.testing.assert_allclose(got, r, atol=1e-12)


def test_pagerank_personalized_vs_numpy(spark, monkeypatch):
    """Personalized PageRank: restart AND dangling mass redistribute by
    the (normalized) teleport vector; vertices outside the teleport set
    get rank only through in-links. Includes a dangling vertex (3).
    Runs in both superstep regimes."""
    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (1, 3)]
    e = df_edges(spark, edges)
    tele = spark.createDataFrame([(0, 3.0), (2, 1.0)], ["id", "t"])

    n, alpha = 4, 0.85
    t = np.array([3.0, 0.0, 1.0, 0.0]); t /= t.sum()
    A = np.zeros((n, n))
    for s, d in edges:
        A[s, d] = 1.0
    out = A.sum(axis=1)
    r = t.copy()
    for _ in range(8):
        dang = r[out == 0].sum()
        nz = out > 0
        contrib = (A[nz] / out[nz, None] * r[nz, None]).sum(axis=0)
        r = (1 - alpha) * t + alpha * (contrib + dang * t)
    for regime in regimes(monkeypatch):
        got = ranks_of(pagerank(e, n_iter=8, teleport=tele), 4)
        np.testing.assert_allclose(got, r, atol=1e-12, err_msg=regime)
        assert abs(got.sum() - 1.0) < 1e-9, regime


def test_pagerank_personalized_tol_mode(spark):
    """tol-mode convergence works with the tp state column threaded
    through the Observation/checkpoint path; single-source restart."""
    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 0)]
    e = df_edges(spark, edges)
    tele = spark.createDataFrame([(0, 1.0)], ["id", "t"])
    got = ranks_of(pagerank(e, tol=1e-12, teleport=tele), 4)
    n, alpha = 4, 0.85
    t = np.array([1.0, 0.0, 0.0, 0.0])
    A = np.zeros((n, n))
    for s, d in edges:
        A[s, d] = 1.0
    out = A.sum(axis=1)
    r = t.copy()
    for _ in range(300):
        contrib = (A / out[:, None] * r[:, None]).sum(axis=0)
        r = (1 - alpha) * t + alpha * contrib
    np.testing.assert_allclose(got, r, atol=1e-8)


# ------------------------------------------------------------------------ CC

def cc_oracle(edges, n):
    """Union-find (scipy is not in the container); labels = component min id."""
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in edges:
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[max(rs, rd)] = min(rs, rd)
    return {v: find(v) for v in range(n)}


def test_cc_three_components(spark):
    # path 0-1-2, star 3-{4,5,6}; vertex 7 is isolated (not in edge table,
    # converges immediately per CC.h:1415-1417 — represented by absence)
    edges = [(0, 1), (1, 2), (3, 4), (3, 5), (3, 6)]
    got = {r["id"]: r["comp"] for r in connected_components(df_edges(spark, edges)).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 3, 6: 3}


def test_cc_two_triangles_bridge(spark):
    edges = [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3)]
    got = {r["id"]: r["comp"] for r in connected_components(df_edges(spark, edges)).collect()}
    assert set(got.values()) == {0}


def test_cc_path_large_vertex_ids(spark):
    # 64-vertex path: FastSV needs 7 supersteps at any id offset. Ids
    # >= 2^53 less than one ulp apart compare equal as doubles, so a
    # double changed-count reads 0 after the first superstep.
    for offset in (0, 1 << 60):
        edges = [(offset + i, offset + i + 1) for i in range(63)]
        metrics = []
        got = {r["id"]: r["comp"] for r in connected_components(
            df_edges(spark, edges), metrics=metrics).collect()}
        assert len(got) == 64
        assert set(got.values()) == {offset}, offset
        assert [m["changed"] for m in metrics] == [63, 62, 60, 56, 48, 32, 0], offset


def test_cc_rmat_vs_scipy(spark):
    raw = rmat_edges(spark, scale=7, edgefactor=3, seed=11)
    g = build_graph(raw).persist()
    pairs = [(r["src"], r["dst"]) for r in g.select("src", "dst").collect()]
    n = 1 << 7
    oracle = cc_oracle(pairs, n)
    got = {r["id"]: r["comp"] for r in connected_components(g).collect()}
    for v, c in got.items():
        assert c == oracle[v], f"vertex {v}: got {c} expect {oracle[v]}"


# ---------------------------------------------------------------- Label prop

def labelprop_oracle(edges, n_rounds):
    """Pure-Python synchronous label prop, min tie-break (FIXTURES.md §5)."""
    from collections import Counter, defaultdict

    nbrs = defaultdict(list)  # undirected, with multiplicity collapsed
    und = set()
    for s, d in edges:
        und.add((s, d))
        und.add((d, s))
    for s, d in und:
        nbrs[d].append(s)
    verts = sorted({x for e in edges for x in e})
    labels = {v: v for v in verts}
    for _ in range(n_rounds):
        new = {}
        for v in verts:
            if not nbrs[v]:
                new[v] = labels[v]
                continue
            cnt = Counter(labels[u] for u in nbrs[v])
            best = max(cnt.items(), key=lambda kv: (kv[1], -kv[0]))
            new[v] = best[0]
        labels = new
    return labels


def test_labelprop_exact(spark):
    edges = [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3)]
    for rounds in (1, 3):
        got = {r["id"]: r["label"]
               for r in label_propagation(df_edges(spark, edges), n_rounds=rounds).collect()}
        assert got == labelprop_oracle(edges, rounds)


def test_labelprop_rmat(spark, monkeypatch):
    raw = rmat_edges(spark, scale=6, edgefactor=3, seed=5)
    g = build_graph(raw).persist()
    pairs = [(r["src"], r["dst"]) for r in g.select("src", "dst").collect()]
    want = labelprop_oracle(pairs, 3)
    for regime in regimes(monkeypatch):
        got = {r["id"]: r["label"] for r in label_propagation(g, n_rounds=3).collect()}
        assert got == want, regime


def test_labelprop_argmax_variants_agree(spark):
    # The min_by argmax (max count, then min label) and the independent
    # Python oracle's argmax must agree on a graph with real ties (RMAT
    # 7/4/11 has many), pinning the min-label tie-break.
    raw = rmat_edges(spark, scale=7, edgefactor=4, seed=11)
    g = build_graph(raw).persist()
    pairs = [(r["src"], r["dst"]) for r in g.select("src", "dst").collect()]
    got = {r["id"]: r["label"] for r in label_propagation(g, n_rounds=3).collect()}
    assert got == labelprop_oracle(pairs, 3)
    g.unpersist()


# ----------------------------------------------------------------- Triangles

def tri_oracle(edges, n):
    A = np.zeros((n, n))
    for s, d in edges:
        if s != d:
            A[s, d] = 1
            A[d, s] = 1
    return int(np.trace(A @ A @ A) / 6)


def test_triangles_known(spark):
    # two triangles + bridge = 2 triangles
    edges = [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3)]
    assert triangle_count(df_edges(spark, edges)) == 2
    per_v = {r["id"]: r["tri"] for r in triangles_per_vertex(df_edges(spark, edges)).collect()}
    assert per_v == {0: 1, 1: 1, 2: 1, 3: 1, 4: 1, 5: 1}


def test_triangles_rmat(spark):
    raw = rmat_edges(spark, scale=6, edgefactor=4, seed=3)
    g = build_graph(raw).persist()
    pairs = [(r["src"], r["dst"]) for r in g.select("src", "dst").collect()]
    assert triangle_count(g) == tri_oracle(pairs, 1 << 6)


def test_triangles_degree_ordering_invariant(spark):
    """Degree-ordered orientation (power-law wedge bounding) must give
    identical totals AND per-vertex counts to id ordering — on a skewed
    RMAT graph and on a star+triangle hub fixture. The triangle family
    (both orientations, per-vertex triangles and 4-cliques, k-truss,
    edge embeddedness) also answers the same at id offset 0 and 2^60,
    once shifted back."""
    from combblas_spark.algorithms.linkanalysis import edge_embeddedness
    from combblas_spark.algorithms.triangles import four_cliques_per_vertex
    from combblas_spark.algorithms.truss import k_truss

    raw = rmat_edges(spark, scale=6, edgefactor=4, seed=3)
    g = build_graph(raw).persist()
    E = [(r["src"], r["dst"]) for r in g.select("src", "dst").collect()]
    runs = []
    for off in (0, 1 << 60):
        h = df_edges(spark, [(s + off, d + off) for s, d in E])
        runs.append({
            "count": triangle_count(h),
            "count_deg": triangle_count(h, order_by_degree=True),
            "tri": {r["id"] - off: r["tri"] for r in triangles_per_vertex(h).collect()},
            "tri_deg": {r["id"] - off: r["tri"]
                        for r in triangles_per_vertex(h, order_by_degree=True).collect()},
            "k4": {r["id"] - off: r["k4"] for r in four_cliques_per_vertex(h).collect()},
            "k_truss": {(r["u"] - off, r["v"] - off) for r in k_truss(h, 4).collect()},
            "embeddedness": {(r["u"] - off, r["v"] - off): tuple(r)[2:]
                             for r in edge_embeddedness(h).collect()},
        })
    base, shifted = runs
    assert base["count"] > 0 and base["k_truss"]
    assert shifted == base
    assert base["count_deg"] == base["count"] == triangle_count(g)
    assert base["tri_deg"] == base["tri"]
    # hub fixture: vertex 0 linked to everyone, triangles only via 0
    hub = [(0, i) for i in range(1, 12)] + [(1, 2), (3, 4), (5, 6)]
    h = df_edges(spark, hub)
    assert triangle_count(h, order_by_degree=True) == 3


def k4_oracle(edges, n):
    """Brute-force per-vertex K4 counts over all vertex 4-subsets."""
    import itertools

    adj = np.zeros((n, n), dtype=bool)
    for s, d in edges:
        if s != d:
            adj[s, d] = adj[d, s] = True
    cnt = {}
    for a, b, c, d in itertools.combinations(range(n), 4):
        if (adj[a, b] and adj[a, c] and adj[a, d]
                and adj[b, c] and adj[b, d] and adj[c, d]):
            for v in (a, b, c, d):
                cnt[v] = cnt.get(v, 0) + 1
    return cnt


def test_four_cliques_known(spark):
    from combblas_spark.algorithms.triangles import four_cliques_per_vertex

    # K5: C(5,4)=5 cliques, each vertex in C(4,3)=4 of them; the
    # pendant vertex 5 and the open triangle {5,6,7} add zero.
    edges = ([(i, j) for i in range(5) for j in range(i + 1, 5)]
             + [(4, 5), (5, 6), (6, 7)])
    got = {r["id"]: r["k4"]
           for r in four_cliques_per_vertex(df_edges(spark, edges)).collect()}
    assert got == {0: 4, 1: 4, 2: 4, 3: 4, 4: 4, 5: 0, 6: 0, 7: 0}


def test_four_cliques_rmat_and_ordering(spark):
    from combblas_spark.algorithms.triangles import four_cliques_per_vertex

    raw = rmat_edges(spark, scale=5, edgefactor=8, seed=7)
    g = build_graph(raw).persist()
    pairs = [(r["src"], r["dst"]) for r in g.select("src", "dst").collect()]
    want = k4_oracle(pairs, 1 << 5)
    got = {r["id"]: r["k4"] for r in four_cliques_per_vertex(g).collect()}
    assert {k: v for k, v in got.items() if v} == want
    assert sum(want.values()) > 0  # fixture actually exercises the join
    by_deg = {r["id"]: r["k4"]
              for r in four_cliques_per_vertex(g, order_by_degree=True).collect()}
    assert got == by_deg


def truss_peel_oracle(pairs):
    """Exact truss decomposition by literal peeling: for k = 3, 4, ...
    peel to the k-truss fixpoint; an edge removed during the k-peel has
    trussness k - 1."""
    E = {tuple(sorted(p)) for p in pairs if p[0] != p[1]}
    out, k = {}, 3
    while E:
        changed = True
        while changed:
            changed = False
            adj = {}
            for u, v in E:
                adj.setdefault(u, set()).add(v)
                adj.setdefault(v, set()).add(u)
            drop = [e for e in E if len(adj[e[0]] & adj[e[1]]) < k - 2]
            if drop:
                changed = True
                for e in drop:
                    E.discard(e)
                    out[e] = k - 1
        k += 1
    return out


def test_trussness_known(spark):
    from combblas_spark.algorithms.truss import trussness

    # K5 (trussness 5) + a triangle hung off it by a path + a lone edge
    edges = [(i, j) for i in range(5) for j in range(i + 1, 5)]
    edges += [(4, 5), (5, 6), (6, 7), (5, 7), (8, 9)]
    got = {(r["u"], r["v"]): r["trussness"]
           for r in trussness(df_edges(spark, edges)).collect()}
    assert got == truss_peel_oracle(edges)


def test_trussness_rmat(spark):
    from combblas_spark.algorithms.truss import trussness

    raw = rmat_edges(spark, scale=6, edgefactor=6, seed=11)
    g = build_graph(raw).persist()
    pairs = [(r["src"], r["dst"]) for r in g.select("src", "dst").collect()]
    got = {(r["u"], r["v"]): r["trussness"] for r in trussness(g).collect()}
    want = truss_peel_oracle(pairs)
    assert got == want
    assert max(got.values()) >= 4  # fixture has real truss structure


def test_eigencentrality_numpy(spark, monkeypatch):
    """Dyadic power iteration vs the numpy unroll — bit-equal at 6dp
    on a directed fixture with cycles, danglings and an isolated pair,
    in both superstep regimes."""
    from combblas_spark.algorithms.hits import eigencentrality

    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 0), (4, 0), (5, 6)]
    n, iters = 7, 8
    A = np.zeros((n, n))
    for s, d in edges:
        A[s, d] += 1.0
    x = np.ones(n)
    for _ in range(iters):
        x = (A.T @ x) / 16.0
    want = {i: round(v / x.sum(), 6) for i, v in enumerate(x)}
    for regime in regimes(monkeypatch):
        got = {r["id"]: r["eigen"] for r in eigencentrality(
            df_edges(spark, edges), n_iter=iters).collect()}
        assert got == pytest.approx(want, abs=1e-9), regime


def test_eigencentrality_walkfree_graph(spark):
    """On a DAG shallower than n_iter every T-walk dies: scores are
    NULL (direction undefined), never a crash or a fake uniform."""
    from combblas_spark.algorithms.hits import eigencentrality

    out = eigencentrality(df_edges(spark, [(0, 1), (1, 2)]), n_iter=8).collect()
    assert len(out) == 3 and all(r["eigen"] is None for r in out)


def test_two_hop_reach_bfs_oracle(spark):
    from combblas_spark.algorithms.anf import two_hop_reach

    raw = rmat_edges(spark, scale=6, edgefactor=4, seed=3)
    g = build_graph(raw).persist()
    pairs = [(r["src"], r["dst"]) for r in g.select("src", "dst").collect()]
    adj: dict[int, set[int]] = {}
    for s, d in pairs:
        if s != d:
            adj.setdefault(s, set()).add(d)
            adj.setdefault(d, set()).add(s)
    verts = {v for e in pairs for v in e}
    want = {}
    for v in verts:
        one = adj.get(v, set())
        two = set().union(*(adj[m] for m in one)) | one if one else set()
        two.discard(v)
        want[v] = (len(one), len(two))
    got = {r["id"]: (r["reach1"], r["reach2"])
           for r in two_hop_reach(g).collect()}
    assert got == want


# ----------------------------------------------------------------------- BFS

def bfs_oracle(edges, root, n):
    from collections import deque
    adj = {v: set() for v in range(n)}
    for s, d in edges:
        adj[s].add(d)
        adj[d].add(s)
    dist = {root: 0}
    q = deque([root])
    while q:
        u = q.popleft()
        for w in adj[u]:
            if w not in dist:
                dist[w] = dist[u] + 1
                q.append(w)
    return dist


def test_bfs_levels(spark, monkeypatch):
    edges = [(0, 1), (1, 2), (2, 3), (3, 4), (5, 6)]
    for regime in regimes(monkeypatch):
        got = {r["id"]: r["level"]
               for r in bfs_levels(df_edges(spark, edges), root=0).collect()}
        assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: 4}, regime


def test_bfs_parents_valid_tree(spark):
    raw = rmat_edges(spark, scale=6, edgefactor=4, seed=13)
    g = build_graph(raw).persist()
    pairs = [(r["src"], r["dst"]) for r in g.select("src", "dst").collect()]
    levels = bfs_oracle(pairs, 0, 1 << 6)
    got_lv = {r["id"]: r["level"] for r in bfs_levels(g, root=0).collect()}
    assert got_lv == levels
    # parent validation (Graph500 style): parent is a neighbor one level up
    parents = {r["id"]: r["parent"] for r in bfs_parents(g, root=0).collect()}
    und = {(s, d) for s, d in pairs} | {(d, s) for s, d in pairs}
    for v, p in parents.items():
        if v == 0:
            assert p == 0
        else:
            assert (p, v) in und
            assert levels[p] == levels[v] - 1


def test_sssp_known_graph(spark):
    """Weighted diamond: 0->1 (1), 0->2 (4), 1->2 (2), 2->3 (1), 1->3 (5)."""
    from combblas_spark.algorithms import sssp

    g = df_edges(spark, [(0, 1, 1.0), (0, 2, 4.0), (1, 2, 2.0), (2, 3, 1.0), (1, 3, 5.0)])
    d = {r["id"]: r["dist"] for r in sssp(g, root=0).collect()}
    assert d == {0: 0.0, 1: 1.0, 2: 3.0, 3: 4.0}


def test_sssp_rmat_vs_numpy_bellman_ford(spark, monkeypatch):
    from combblas_spark.algorithms import sssp

    g = build_graph(rmat_edges(spark, 8, 8)).persist()
    rows = g.collect()
    n = 1 + max(max(r["src"] for r in rows), max(r["dst"] for r in rows))
    # numpy Bellman-Ford oracle (dense relaxation to fixpoint)
    INF = float("inf")
    dist = np.full(n, INF)
    dist[0] = 0.0
    for _ in range(n):
        nd = dist.copy()
        for r in rows:
            if dist[r["src"]] + r["val"] < nd[r["dst"]]:
                nd[r["dst"]] = dist[r["src"]] + r["val"]
        if np.array_equal(nd, dist):
            break
        dist = nd

    expected = {i: dist[i] for i in range(n) if dist[i] < INF}
    for regime in regimes(monkeypatch):
        got = {r["id"]: r["dist"] for r in sssp(g, root=0).collect()}
        assert got.keys() == expected.keys(), regime
        for k in expected:
            assert got[k] == pytest.approx(expected[k], abs=1e-9), regime
    g.unpersist()


def test_mcl_two_clusters(spark):
    """two_triangles_bridge: MCL must cut the weak bridge -> 2 clusters."""
    from combblas_spark.algorithms import mcl

    g = df_edges(spark, [(0, 1), (0, 2), (1, 2), (3, 4), (3, 5), (4, 5), (2, 3)])
    out = {r["id"]: r["cluster"] for r in mcl(g, inflation=2.0).collect()}
    assert set(out) == set(range(6))
    assert out[0] == out[1] == out[2]
    assert out[3] == out[4] == out[5]
    assert out[0] != out[3]


def _brandes_oracle(adj, n):
    """Reference Brandes (undirected, unnormalized, pairs halved)."""
    import collections
    bc = [0.0] * n
    for s in range(n):
        sigma = [0.0] * n; dist = [-1] * n; preds = [[] for _ in range(n)]
        sigma[s] = 1.0; dist[s] = 0
        order = []; q = collections.deque([s])
        while q:
            v = q.popleft(); order.append(v)
            for w in adj[v]:
                if dist[w] < 0:
                    dist[w] = dist[v] + 1; q.append(w)
                if dist[w] == dist[v] + 1:
                    sigma[w] += sigma[v]; preds[w].append(v)
        delta = [0.0] * n
        for w in reversed(order):
            for v in preds[w]:
                delta[v] += sigma[v] / sigma[w] * (1 + delta[w])
            if w != s:
                bc[w] += delta[w]
    return [b / 2.0 for b in bc]


def test_betweenness_vs_brandes_oracle(spark, monkeypatch):
    from combblas_spark.algorithms.betweenness import betweenness_centrality

    triples = [(0, 1), (1, 2), (2, 3), (3, 4), (1, 3), (4, 5), (0, 5), (2, 6)]
    n = 7
    adj = [[] for _ in range(n)]
    for a, b in triples:
        adj[a].append(b); adj[b].append(a)
    expected = _brandes_oracle(adj, n)

    g = df_edges(spark, triples)
    for regime in regimes(monkeypatch):
        got = {r["id"]: r["bc"] for r in betweenness_centrality(g).collect()}
        assert set(got) == set(range(n)), regime
        for i in range(n):
            assert got[i] == pytest.approx(expected[i], abs=1e-9), regime


def test_betweenness_sampled_roots(spark):
    from combblas_spark.algorithms.betweenness import betweenness_centrality

    g = df_edges(spark, [(0, 1), (1, 2), (2, 3)])  # path: bc(1)=bc(2)=2 full
    got = {r["id"]: r["bc"] for r in betweenness_centrality(g, roots=[0, 3]).collect()}
    # with sources {0,3} each middle vertex lies on 0->3 and 3->0 paths
    # plus 0->2 / 3->1: delta sums halved -> 1.5 each
    assert got[1] == pytest.approx(1.5)
    assert got[2] == pytest.approx(1.5)


def test_betweenness_normalize_tiny_graph(spark):
    """n <= 2: (n-1)(n-2) = 0 — normalize must return zeros, not NaN."""
    from combblas_spark.algorithms.betweenness import betweenness_centrality

    g = df_edges(spark, [(0, 1)])
    got = {r["id"]: r["bc"]
           for r in betweenness_centrality(g, normalize=True).collect()}
    assert got == {0: 0.0, 1: 0.0}


def test_bfs_direction_optimizing_identical(spark):
    """Bottom-up switching must not change levels or parents."""
    from combblas_spark.algorithms import bfs_levels

    g = build_graph(rmat_edges(spark, 8, 8)).persist()
    base = {r["id"]: r["level"] for r in bfs_levels(g, root=0).collect()}
    opt = {r["id"]: r["level"]
           for r in bfs_levels(g, root=0, direction_optimizing=True).collect()}
    assert base == opt
    g.unpersist()


def test_pagerank_warm_start_incremental(spark):
    """Warm-starting from a previous graph version's ranks converges to
    the same fixpoint in fewer supersteps (streaming-update pattern)."""
    from combblas_spark.algorithms import pagerank

    g1 = build_graph(rmat_edges(spark, 8, 8)).persist()
    r1 = pagerank(g1, tol=1e-10)

    delta = df_edges(spark, [(1, 200), (200, 3), (5, 201), (201, 1)])
    g2 = build_graph(g1.unionByName(delta)).persist()

    cold_m, warm_m = [], []
    cold = {r["id"]: r["rank"] for r in pagerank(g2, tol=1e-10, metrics=cold_m).collect()}
    warm = {r["id"]: r["rank"]
            for r in pagerank(g2, tol=1e-10, metrics=warm_m, initial_ranks=r1).collect()}

    assert set(cold) == set(warm)
    for k in cold:
        assert warm[k] == pytest.approx(cold[k], abs=1e-7)
    assert len(warm_m) < len(cold_m)  # warm start converges faster
    g1.unpersist(); g2.unpersist()


def test_mis_independent_and_maximal(spark):
    """MIS contract (the algorithm's Correctness()-style check): no two
    MIS vertices adjacent; every non-MIS vertex has a MIS neighbor."""
    from combblas_spark.algorithms.mis import maximal_independent_set
    from combblas_spark.graph import symmetrize, vertices

    g = build_graph(rmat_edges(spark, 8, 8)).persist()
    mis = set(r["id"] for r in maximal_independent_set(g).collect())
    sym = [(r["src"], r["dst"]) for r in symmetrize(g).collect()]
    verts = set(r["id"] for r in vertices(g).collect())

    assert all(not (a in mis and b in mis) for a, b in sym)  # independent
    nbrs = {}
    for a, b in sym:
        nbrs.setdefault(a, set()).add(b)
    for v in verts - mis:  # maximal
        assert nbrs.get(v) and nbrs[v] & mis, f"vertex {v} has no MIS neighbor"
    g.unpersist()


def test_mis_known_graphs(spark):
    from combblas_spark.algorithms.mis import maximal_independent_set

    # star 0-{1,2,3}: MIS is either {0} or {1,2,3}
    g = df_edges(spark, [(0, 1), (0, 2), (0, 3)])
    mis = set(r["id"] for r in maximal_independent_set(g).collect())
    assert mis == {0} or mis == {1, 2, 3}


# ------------------------------------------------------ bipartite matching

def test_bipartite_matching_valid_and_maximal(spark):
    """Matching contract (BPMaximalMatching's isMaximalmatching-style
    check): each row/col matched at most once, every matched pair is an
    edge, and no remaining edge has both endpoints unmatched."""
    from combblas_spark.algorithms.matching import bipartite_maximal_matching

    g = build_graph(rmat_edges(spark, 8, 8)).persist()
    edges = {(r["src"], r["dst"]) for r in g.select("src", "dst").collect()}
    m = [(r["src"], r["dst"]) for r in bipartite_maximal_matching(g).collect()]

    rows = [a for a, _ in m]
    cols = [b for _, b in m]
    assert len(rows) == len(set(rows))          # each row once
    assert len(cols) == len(set(cols))          # each col once
    assert all(p in edges for p in m)           # pairs are edges
    mr, mc = set(rows), set(cols)
    for a, b in edges:                          # maximality
        assert a in mr or b in mc, f"augmentable edge ({a},{b})"
    g.unpersist()


def test_bipartite_matching_known(spark):
    from combblas_spark.algorithms.matching import bipartite_maximal_matching

    # K_{2,2} on rows {0,1} x cols {5,6} plus the isolated pair (2,7):
    # any maximal matching here is maximum — exactly 3 pairs
    g = df_edges(spark, [(0, 5), (0, 6), (1, 5), (1, 6), (2, 7)])
    m = {(r["src"], r["dst"]) for r in bipartite_maximal_matching(g).collect()}
    assert len(m) == 3
    assert (2, 7) in m
    assert {a for a, _ in m} == {0, 1, 2} and {b for _, b in m} == {5, 6, 7}


def test_cc_warm_start_incremental(spark):
    """Warm-starting FastSV from a previous graph version's labels gives
    identical components on the grown graph in fewer supersteps (the
    incremental-maintenance path for a continuously-crawled graph)."""
    g1 = build_graph(rmat_edges(spark, 8, 6, seed=13)).persist()
    c1 = connected_components(g1)

    # grow-only delta: new vertices + a bridge between existing regions
    delta = df_edges(spark, [(1, 300), (300, 301), (2, 302), (302, 5)])
    g2 = build_graph(g1.unionByName(delta)).persist()

    cold_m, warm_m = [], []
    cold = {r["id"]: r["comp"]
            for r in connected_components(g2, metrics=cold_m).collect()}
    warm = {r["id"]: r["comp"]
            for r in connected_components(
                g2, metrics=warm_m, initial_labels=c1).collect()}
    assert warm == cold
    assert len(warm_m) <= len(cold_m)
    g1.unpersist(); g2.unpersist()


def test_mcl_incremental_attaches_new_vertices(spark):
    """Incremental MCL: new vertices join the cluster they attach to;
    previously-clustered vertices keep a shared cluster (supernode
    contraction never re-splits them)."""
    from combblas_spark.algorithms.mcl import mcl, mcl_incremental

    base = [(0, 1, 3.0), (1, 2, 3.0), (0, 2, 3.0),
            (3, 4, 3.0), (4, 5, 3.0), (3, 5, 3.0), (2, 3, 0.1)]
    g1 = df_edges(spark, base)
    c1 = mcl(g1, max_iter=8)
    by = {r["id"]: r["cluster"] for r in c1.collect()}
    assert by[0] == by[1] == by[2]
    assert by[3] == by[4] == by[5]
    assert by[0] != by[3]

    # grow: vertex 6 attaches strongly to the {0,1,2} triangle
    g2 = df_edges(spark, base + [(6, 0, 3.0), (6, 1, 3.0)])
    inc = {r["id"]: r["cluster"]
           for r in mcl_incremental(g2, c1, max_iter=8).collect()}
    assert inc[6] == inc[0]
    assert inc[0] == inc[1] == inc[2]
    assert inc[3] == inc[4] == inc[5]
    assert inc[0] != inc[3]


def test_cc_awerbuch_shiloach_equivalent(spark):
    """The LACC-style alternate (conditional/unconditional star hooking
    + shortcut) must produce exactly FastSV's min-label components on
    known graphs, a deep path (stress for the exact star check), and a
    skewed RMAT graph."""
    from combblas_spark.algorithms.components import connected_components_as

    cases = [
        [(0, 1), (1, 2), (3, 4), (3, 5), (3, 6)],              # path + star
        [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3)],  # bridged
        [(i, i + 1) for i in range(40)],                        # deep path
        [(2 * i, 2 * i + 1) for i in range(10)],                # matchings
        # r4 review repro: the {0,8} star is stagnant and the uncond
        # hook attaches it to the LARGER root 5 — without the final
        # LabelCC relabel every vertex converged to comp=5, losing 0
        [(0, 8), (8, 7), (7, 6), (6, 5), (7, 9)],
    ]
    for triples in cases:
        g = df_edges(spark, triples)
        fast = {r["id"]: r["comp"] for r in connected_components(g).collect()}
        asv = {r["id"]: r["comp"] for r in connected_components_as(g).collect()}
        assert asv == fast, triples[:3]

    raw = rmat_edges(spark, scale=7, edgefactor=3, seed=11)
    g = build_graph(raw).persist()
    fast = {r["id"]: r["comp"] for r in connected_components(g).collect()}
    asv = {r["id"]: r["comp"] for r in connected_components_as(g).collect()}
    assert asv == fast
    g.unpersist()


# ------------------------------------------------- maximum bipartite matching

def _hopcroft_karp_cardinality(pairs):
    """Pure-Python Hopcroft-Karp — the test oracle for MAXIMUM matching
    cardinality (stands in for the reference's BPMaximumMatching.cpp
    result; scipy is unavailable in this container)."""
    import collections

    adj = collections.defaultdict(list)
    for s, d in pairs:
        adj[s].append(d)
    ml, mr = {}, {}

    def bfs():
        dist, q, found = {}, collections.deque(), False
        for u in adj:
            if u not in ml:
                dist[u] = 0
                q.append(u)
        while q:
            u = q.popleft()
            for v in adj[u]:
                w = mr.get(v)
                if w is None:
                    found = True
                elif w not in dist:
                    dist[w] = dist[u] + 1
                    q.append(w)
        return dist, found

    def dfs(u, dist):
        for v in adj[u]:
            w = mr.get(v)
            if w is None or (dist.get(w) == dist[u] + 1 and dfs(w, dist)):
                ml[u], mr[v] = v, u
                return True
        dist[u] = None
        return False

    while True:
        dist, found = bfs()
        if not found:
            return len(ml)
        for u in list(adj):
            if u not in ml:
                dfs(u, dist)


def _assert_valid_matching(m, edges):
    rows = [a for a, _ in m]
    cols = [b for _, b in m]
    assert len(rows) == len(set(rows))
    assert len(cols) == len(set(cols))
    assert all(p in edges for p in m)


def test_maximum_matching_beats_greedy_on_adversarial_chain(spark):
    """Alternating chain where greedy (given these md5 priorities) can
    be suboptimal; maximum must reach the Hopcroft-Karp cardinality."""
    from combblas_spark.algorithms.matching import bipartite_maximum_matching

    pairs = [(0, 0), (1, 0), (1, 1), (2, 1), (2, 2), (3, 2), (3, 3), (4, 3),
             (5, 5), (6, 5), (6, 6)]
    g = df_edges(spark, pairs)
    m = {(r["src"], r["dst"]) for r in bipartite_maximum_matching(g).collect()}
    _assert_valid_matching(m, set(pairs))
    assert len(m) == _hopcroft_karp_cardinality(pairs)


def test_maximum_matching_rmat_cardinality(spark):
    """RMAT graph (power-law, isolated+high-degree vertices): matching is
    valid and its cardinality equals Hopcroft-Karp's optimum."""
    from combblas_spark.algorithms.matching import (
        bipartite_maximal_matching, bipartite_maximum_matching)

    g = build_graph(rmat_edges(spark, 8, 8)).persist()
    pairs = {(r["src"], r["dst"]) for r in g.select("src", "dst").collect()}
    opt = _hopcroft_karp_cardinality(pairs)
    m = {(r["src"], r["dst"]) for r in bipartite_maximum_matching(g).collect()}
    _assert_valid_matching(m, pairs)
    assert len(m) == opt
    assert bipartite_maximal_matching(g).count() <= opt
    g.unpersist()


def test_maximum_matching_perfect_on_cycle(spark):
    """Even cycle as bipartite graph: perfect matching exists."""
    from combblas_spark.algorithms.matching import bipartite_maximum_matching

    n = 8
    pairs = [(i, i) for i in range(n)] + [(i, (i + 1) % n) for i in range(n)]
    g = df_edges(spark, pairs)
    m = {(r["src"], r["dst"]) for r in bipartite_maximum_matching(g).collect()}
    _assert_valid_matching(m, set(pairs))
    assert len(m) == n


# ------------------------------------- approx-weight perfect matching (AWPM)

def _brute_best_weight(pw):
    """Max weight over maximum-cardinality matchings (exponential; tiny
    fixtures only) — the AWPM test oracle, standing in for the optimum
    the reference's TwoThirdApprox is measured against."""
    lefts = sorted({s for s, _ in pw})
    rights = sorted({d for _, d in pw})
    best = [0, 0.0]

    def rec(i, used, card, wsum):
        if i == len(lefts):
            if card > best[0] or (card == best[0] and wsum > best[1]):
                best[0], best[1] = card, wsum
            return
        rec(i + 1, used, card, wsum)
        for r in rights:
            if r not in used and (lefts[i], r) in pw:
                rec(i + 1, used | {r}, card + 1, wsum + pw[(lefts[i], r)])

    rec(0, frozenset(), 0, 0.0)
    return best[0], best[1]


def test_awpm_two_thirds_bound_random(spark):
    """Valid matching, maximum cardinality, weight >= 2/3 of the optimal
    max-cardinality matching weight (TwoThirdApprox's guarantee,
    ApproxWeightPerfectMatching.h:794) on seeded random weighted
    bipartite graphs."""
    import random

    from combblas_spark.algorithms.matching import approx_weight_perfect_matching

    rng = random.Random(7)
    for _ in range(2):
        n = rng.randint(4, 5)
        pw = {(s, d): round(rng.uniform(0.1, 10.0), 3)
              for s in range(n) for d in range(n) if rng.random() < 0.7}
        if not pw:
            continue
        g = df_edges(spark, [(s, d, w) for (s, d), w in pw.items()])
        m = [(r["src"], r["dst"])
             for r in approx_weight_perfect_matching(g).collect()]
        _assert_valid_matching(set(m), set(pw))
        card, opt = _brute_best_weight(pw)
        assert len(m) == card
        assert sum(pw[p] for p in m) >= (2.0 / 3.0) * opt - 1e-9


def test_awpm_finds_heavy_swap(spark):
    """2x2 where the cardinality phase can pick the light diagonal: the
    2-flip round must swap to the heavy one."""
    from combblas_spark.algorithms.matching import approx_weight_perfect_matching

    pw = {(0, 0): 1.0, (0, 1): 10.0, (1, 0): 10.0, (1, 1): 1.0}
    g = df_edges(spark, [(s, d, w) for (s, d), w in pw.items()])
    m = {(r["src"], r["dst"])
         for r in approx_weight_perfect_matching(g).collect()}
    assert m == {(0, 1), (1, 0)}


def test_awpm_weight_monotone_rounds(spark):
    """Each improvement round must strictly raise total weight, and the
    loop must terminate at a fixpoint (no positive-gain dominant swap)."""
    from combblas_spark.algorithms.matching import approx_weight_perfect_matching

    raw = build_graph(rmat_edges(spark, 6, 6))
    met = []
    m = approx_weight_perfect_matching(raw, metrics=met)
    m.count()
    gains = [r["gain"] for r in met]
    assert all(g > 0 for g in gains[:-1] if gains)  # improving rounds
    if met:
        assert met[-1]["swaps"] == 0  # terminated at fixpoint


def test_write_mcl_clusters_format(spark, tmp_path):
    """WriteMCLClusters.h output: one line per cluster, members sorted,
    clusters in contiguous renumbered order; labeled + id variants."""
    from combblas_spark.algorithms.mcl import write_mcl_clusters

    cl = spark.createDataFrame(
        [(0, 0), (3, 0), (1, 1), (5, 1), (4, 1), (9, 9)], "id long, cluster long")
    p = str(tmp_path / "c.out")
    n = write_mcl_clusters(cl, p, base=1)
    assert n == 3
    assert open(p).read().splitlines() == ["1\t4", "2\t5\t6", "10"]

    labels = spark.createDataFrame(
        [(0, "a"), (3, "d"), (1, "b"), (5, "f"), (4, "e"), (9, "j")],
        "id long, label string")
    p2 = str(tmp_path / "cl.out")
    assert write_mcl_clusters(cl, p2, labels=labels) == 3
    assert open(p2).read().splitlines() == ["a\td", "b\te\tf", "j"]


def test_min_degree_known_graph(spark):
    """Star(5; 0..4) + path 0-1-2-3-4: hand-traced multiple elimination.
    Round 0: min-deg 2 -> {0,4} independent, both win (pos 0,1 by id).
    Round 1: {1,3} win (fill edges 1-5, 3-5 already present).
    Round 2: {2,5} adjacent tie -> md5 priority picks one; tail gets the
    other. Result must be a permutation with 0,4 first and 1,3 next."""
    from combblas_spark.algorithms.ordering import min_degree_ordering

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4)] + [(5, i) for i in range(5)],
        "src long, dst long")
    got = {r["pos"]: r["id"] for r in min_degree_ordering(edges).collect()}
    assert sorted(got) == list(range(6))
    assert sorted(got.values()) == list(range(6))
    assert (got[0], got[1]) == (0, 4)
    assert (got[2], got[3]) == (1, 3)
    assert {got[4], got[5]} == {2, 5}


def test_min_degree_bounded_matches_full_when_exhausted(spark):
    """rounds past exhaustion are no-ops: bounded(rounds=8) == full run
    on a graph that empties in fewer rounds."""
    from combblas_spark.algorithms.ordering import min_degree_ordering

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (5, 0)], "src long, dst long")
    full = sorted(map(tuple, min_degree_ordering(edges).collect()))
    bounded = sorted(map(tuple, min_degree_ordering(edges, rounds=8).collect()))
    assert full == bounded


def test_auction_optimal_within_eps_bound(spark):
    """Bertsekas auction on a dense 4x4 assignment instance: matched
    weight within n*eps of the brute-force optimum (eps-complementary
    slackness bound), full cardinality."""
    from itertools import permutations

    from combblas_spark.algorithms.matching import auction_matching

    import random
    random.seed(7)
    rows, cols = [0, 1, 2, 3], [10, 11, 12, 13]
    W = {(r, c): round(random.uniform(1, 10), 3) for r in rows for c in cols}
    edges = spark.createDataFrame(
        [(r, c, w) for (r, c), w in W.items()], "src long, dst long, val double")
    got = {(r["src"], r["dst"]) for r in auction_matching(edges, eps=1e-3).collect()}
    assert len(got) == 4
    assert len({s for s, _ in got}) == 4 and len({d for _, d in got}) == 4
    wt = sum(W[p] for p in got)
    best = max(sum(W[(rows[i], cols[p[i]])] for i in range(4))
               for p in permutations(range(4)))
    assert best - wt <= 4 * 1e-3 + 1e-9


def test_auction_sparse_exact_and_deficient_bounded(spark):
    """Sparse feasible instance where the greedy row-wise choice is
    wrong (must route 0->10 so 2 can take 11); and a structurally
    deficient instance (2 bidders, 1 object) stays a valid 1-matching
    under the bounded round cap instead of looping."""
    from combblas_spark.algorithms.matching import auction_matching

    e3 = spark.createDataFrame(
        [(0, 10, 5.0), (0, 11, 6.0), (1, 10, 4.0), (2, 11, 9.0),
         (2, 12, 2.0), (1, 12, 1.0)], "src long, dst long, val double")
    assert sorted(map(tuple, auction_matching(e3, eps=1e-4).collect())) == \
        [(0, 10), (1, 12), (2, 11)]

    e2 = spark.createDataFrame([(0, 5, 1.0), (1, 5, 9.0)],
                               "src long, dst long, val double")
    m2 = sorted(map(tuple, auction_matching(e2, max_rounds=6).collect()))
    assert len(m2) == 1 and m2[0] in [(0, 5), (1, 5)]


def test_graph500_validator_accepts_valid_tree(spark):
    """validate_bfs_tree implements the Graph500 spec §4.3 kernel-2
    checks (the reference prints the parent array for offline diff,
    TopDownBFS.cpp:450-454; we validate in-engine). A real BFS tree on a
    multi-component graph must pass all five rules."""
    from combblas_spark.algorithms.bfs import bfs_tree, validate_bfs_tree

    edges = [(0, 1), (1, 2), (2, 3), (0, 4), (4, 2), (10, 11)]
    g = df_edges(spark, edges)
    tree = bfs_tree(g, root=0).persist()
    res = validate_bfs_tree(g, tree, root=0)
    assert res["ok"], res
    # spans exactly root's component (not the 10-11 one)
    assert {r["id"] for r in tree.collect()} == {0, 1, 2, 3, 4}
    tree.unpersist()


def test_graph500_validator_catches_corruptions(spark):
    from pyspark.sql import functions as F

    from combblas_spark.algorithms.bfs import bfs_tree, validate_bfs_tree

    edges = [(0, 1), (1, 2), (2, 3), (0, 4), (4, 2)]
    g = df_edges(spark, edges)
    tree = bfs_tree(g, root=0).persist()

    # r4: a wrong level breaks the level-monotonicity rule
    bad_level = tree.withColumn(
        "level", F.when(F.col("id") == 3, F.lit(99)).otherwise(F.col("level")))
    v = validate_bfs_tree(g, bad_level, root=0)["violations"]
    assert v["r4_level"] > 0

    # r3: a parent with no corresponding graph edge
    bad_parent = tree.withColumn(
        "parent", F.when(F.col("id") == 3, F.lit(4)).otherwise(F.col("parent")))
    v = validate_bfs_tree(g, bad_parent, root=0)["violations"]
    assert v["r3_tree_edge"] > 0

    # r5: dropping a reachable leaf leaves a discovered->undiscovered edge
    v = validate_bfs_tree(g, tree.filter(F.col("id") != 3), root=0)["violations"]
    assert v["r5_span"] > 0

    # r2: a duplicated vertex row
    v = validate_bfs_tree(g, tree.unionAll(tree.filter(F.col("id") == 1)),
                          root=0)["violations"]
    assert v["r2_unique"] > 0

    # r1: missing/incorrect root row
    v = validate_bfs_tree(g, tree.filter(F.col("id") != 0), root=0)["violations"]
    assert v["r1_root"] == 1
    tree.unpersist()


# ----------------------------------------------- webgraph analyses (r3 tail)


def _rand_directed_edges(seed, n=14, m=45):
    rng = np.random.RandomState(seed)
    es = set()
    while len(es) < m:
        s, d = rng.randint(0, n, 2)
        if s != d:
            es.add((int(s), int(d)))
    return sorted(es)


def test_hits_vs_numpy(spark, monkeypatch):
    """HITS hubs/authorities match the dense numpy power iteration to
    1e-9 after 5 normalized iterations, in both superstep regimes."""
    from combblas_spark.algorithms.hits import hits

    E = _rand_directed_edges(7, n=12, m=40)
    nodes = sorted({x for e in E for x in e})
    idx = {v: i for i, v in enumerate(nodes)}
    A = np.zeros((len(nodes), len(nodes)))
    for s, d in E:
        A[idx[s], idx[d]] = 1.0
    h = np.ones(len(nodes))
    for _ in range(5):
        a = A.T @ h
        a = a / np.linalg.norm(a)
        h = A @ a
        h = h / np.linalg.norm(h)
    for regime in regimes(monkeypatch):
        out = {r["id"]: (r["hub"], r["auth"])
               for r in hits(df_edges(spark, E), n_iter=5).collect()}
        for v in nodes:
            assert abs(out[v][0] - h[idx[v]]) < 1e-9, regime
            assert abs(out[v][1] - a[idx[v]]) < 1e-9, regime
    # n_iter=0 has no authority vector — must refuse, not crash on None
    from combblas_spark.algorithms.hits import salsa
    with pytest.raises(ValueError, match="n_iter must be >= 1"):
        hits(df_edges(spark, E), n_iter=0)
    with pytest.raises(ValueError, match="n_iter must be >= 1"):
        salsa(df_edges(spark, E), n_iter=0)


def test_katz_vs_numpy(spark, monkeypatch):
    """Katz centrality matches the dense numpy recurrence
    x_t = 1 + alpha A^T x_{t-1} exactly (alpha = 1/16 is binary-exact,
    so the comparison is equality, not approx) in both superstep
    regimes; a sink-only vertex scores 1 + alpha * inflow, a
    source-only vertex stays at the no-in-edges fixpoint value."""
    from combblas_spark.algorithms.hits import katz

    E = _rand_directed_edges(11, n=12, m=40) + [(50, 0), (1, 51)]
    nodes = sorted({x for e in E for x in e})
    idx = {v: i for i, v in enumerate(nodes)}
    A = np.zeros((len(nodes), len(nodes)))
    for s, d in E:
        A[idx[s], idx[d]] = 1.0
    x = np.ones(len(nodes))
    for _ in range(5):
        x = 1.0 + 0.0625 * (A.T @ x)
    for regime in regimes(monkeypatch):
        out = {r["id"]: r["katz"] for r in katz(
            df_edges(spark, E), alpha=0.0625, n_iter=5).collect()}
        for v in nodes:
            assert out[v] == x[idx[v]], (regime, v, out[v], x[idx[v]])
        assert out[50] == 1.0  # source-only: no in-links ever
        assert out[51] > 1.0   # sink reached from vertex 1


def test_salsa_vs_numpy(spark, monkeypatch):
    """SALSA: stochastic (degree-normalized) HITS — 5 un-normalized
    Lempel-Moran iterations (a = Wr^T h, h = Wc a: each contribution
    weighted by the CONTRIBUTOR's degree) from h0=1 match the dense
    numpy recurrence; vertices with no in-edges have auth 0, no
    out-edges hub 0. Both superstep regimes."""
    from combblas_spark.algorithms.hits import salsa

    E = _rand_directed_edges(11, n=12, m=40)
    nodes = sorted({x for e in E for x in e})
    idx = {v: i for i, v in enumerate(nodes)}
    A = np.zeros((len(nodes), len(nodes)))
    for s, d in E:
        A[idx[s], idx[d]] = 1.0
    ind, outd = A.sum(axis=0), A.sum(axis=1)
    Wc = np.divide(A, ind, out=np.zeros_like(A), where=ind > 0)   # col-stochastic
    Wr = np.divide(A, outd[:, None], out=np.zeros_like(A), where=outd[:, None] > 0)
    h = np.ones(len(nodes))
    for _ in range(5):
        a = Wr.T @ h
        h = Wc @ a
    h = np.where(outd > 0, h, 0.0)
    a = np.where(ind > 0, a, 0.0)
    # non-degeneracy: the transpose chain's fixed point is all-ones,
    # which carries no ranking signal — the correct chain must rank.
    live_a = a[ind > 0]
    assert live_a.std() > 1e-6, "authority scores degenerate to uniform"
    for regime in regimes(monkeypatch):
        out = {r["id"]: (r["hub"], r["auth"])
               for r in salsa(df_edges(spark, E), n_iter=5).collect()}
        for v in nodes:
            assert abs(out[v][0] - h[idx[v]]) < 1e-9, regime
            assert abs(out[v][1] - a[idx[v]]) < 1e-9, regime


def test_labelprop_seeded(spark, monkeypatch):
    """Two clamped seed classes on a path; middle adopts the majority
    labeled neighbor (min tie-break); isolated pair stays null. Runs in
    both superstep regimes."""
    from combblas_spark.algorithms.labelprop import label_propagation

    # path 0-1-2-3-4 plus leaf 5 off 4 (undirected via symmetrize),
    # seeds: 0->10, 4->20; isolated component 8-9 never sees a label.
    # Converged state (traced by hand, sync rounds): 1 and 2 settle on
    # 10; 3's neighborhood {2:10, 4:20} is a permanent tie, so the min
    # tie-break makes label 10 creep to 3 as well; leaf 5 sees only the
    # clamped 20.
    E = [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (8, 9)]
    seeds = spark.createDataFrame([(0, 10), (4, 20)], "id long, label long")
    for regime in regimes(monkeypatch):
        out = {r["id"]: r["label"]
               for r in label_propagation(df_edges(spark, E), n_rounds=5,
                                          seeds=seeds).collect()}
        assert out[0] == 10 and out[4] == 20, regime       # clamped
        assert out[1] == 10 and out[2] == 10, regime       # adopt nearest seed
        assert out[3] == 10, regime                        # tie 10 vs 20 -> min
        assert out[5] == 20, regime                        # leaf off the 20-seed
        assert out[8] is None and out[9] is None, regime   # unreached stay null


def _tarjan_scc(nodes, E):
    """Iterative Tarjan; returns {id: min id of its SCC}."""
    adj = {v: [] for v in nodes}
    for s, d in E:
        if s != d:
            adj[s].append(d)
    index, low, onstk, stk, out = {}, {}, set(), [], {}
    counter = [0]
    for root in nodes:
        if root in index:
            continue
        work = [(root, 0)]
        while work:
            v, pi = work.pop()
            if pi == 0:
                index[v] = low[v] = counter[0]; counter[0] += 1
                stk.append(v); onstk.add(v)
            recurse = False
            for i in range(pi, len(adj[v])):
                w = adj[v][i]
                if w not in index:
                    work.append((v, i + 1)); work.append((w, 0))
                    recurse = True
                    break
                elif w in onstk:
                    low[v] = min(low[v], index[w])
            if recurse:
                continue
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stk.pop(); onstk.discard(w); comp.append(w)
                    if w == v:
                        break
                m = min(comp)
                for w in comp:
                    out[w] = m
            if work:
                parent = work[-1][0]
                low[parent] = min(low[parent], low[v])
    return out


def test_scc_vs_tarjan(spark, monkeypatch):
    """Trim+coloring+backward-reach SCC matches Tarjan labels (min
    member id) on random directed graphs across densities."""
    from combblas_spark.algorithms.scc import strongly_connected_components

    for regime in regimes(monkeypatch):
        for seed, m in [(3, 25), (4, 60), (5, 110)]:
            E = _rand_directed_edges(seed, n=18, m=m)
            nodes = sorted({x for e in E for x in e})
            expect = _tarjan_scc(nodes, E)
            got = {r["id"]: r["scc"]
                   for r in strongly_connected_components(
                       df_edges(spark, E)).collect()}
            assert got == expect, (regime, seed, got, expect)


def test_bowtie_regions(spark, monkeypatch):
    """Hand graph: 3-cycle core, OUT 2-cycle, a tendril hanging off
    OUT, and disconnected pieces (incl. a self-loop singleton)."""
    from combblas_spark.algorithms.scc import bow_tie

    E = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 3), (5, 3),
         (6, 6), (7, 8), (9, 0)]
    for regime in regimes(monkeypatch):
        bt = {r["id"]: r["region"] for r in bow_tie(df_edges(spark, E)).collect()}
        assert bt == {0: "CORE", 1: "CORE", 2: "CORE", 3: "OUT", 4: "OUT",
                      5: "TENDRIL", 6: "DISCONNECTED", 7: "DISCONNECTED",
                      8: "DISCONNECTED", 9: "IN"}, (regime, bt)


def test_traversal_id_offset_invariant(spark):
    """BFS levels, closeness, betweenness, SCC and the bow-tie answer
    the same on a random graph and on the same graph with every id
    + 2^60, once shifted back: no id passes through a double or any
    arithmetic that loses its low bits."""
    from combblas_spark.algorithms.betweenness import betweenness_centrality
    from combblas_spark.algorithms.closeness import closeness_centrality
    from combblas_spark.algorithms.scc import bow_tie, strongly_connected_components

    E = _rand_directed_edges(31, n=16, m=40) + [(3, 3)]
    runs = []
    for off in (0, 1 << 60):
        g = df_edges(spark, [(s + off, d + off) for s, d in E])
        cl = closeness_centrality(g).collect()
        runs.append({
            "bfs": {r["id"] - off: r["level"] for r in bfs_levels(g, off).collect()},
            "harmonic": {r["id"] - off: r["harmonic"] for r in cl},
            "closeness": {r["id"] - off: r["closeness"] for r in cl},
            "bc": {r["id"] - off: r["bc"] for r in betweenness_centrality(g).collect()},
            "scc": {r["id"] - off: r["scc"] - off
                    for r in strongly_connected_components(g).collect()},
            "bow_tie": {r["id"] - off: r["region"] for r in bow_tie(g).collect()},
        })
    base, shifted = runs
    for k in ("bfs", "scc", "bow_tie"):
        assert shifted[k] == base[k], k
    for k in ("harmonic", "closeness", "bc"):
        assert shifted[k] == pytest.approx(base[k], abs=1e-9), k


def test_fixpoint_loops_id_offset_invariant(spark):
    """The loops whose convergence read rides their checkpoint job —
    sssp, the k-core and coreness peels, trussness, the densest peel,
    condensation levels and Boruvka — answer the same at id offset 0
    and 2^60, once shifted back."""
    from combblas_spark.algorithms.densest import densest_subgraph
    from combblas_spark.algorithms.kcore import core_numbers, k_core
    from combblas_spark.algorithms.mst import boruvka_msf
    from combblas_spark.algorithms.scc import condensation, condensation_levels
    from combblas_spark.algorithms.sssp import sssp
    from combblas_spark.algorithms.truss import trussness

    E = _rand_directed_edges(37, n=16, m=48)
    runs = []
    for off in (0, 1 << 60):
        g = df_edges(spark, [(s + off, d + off, 1 + (s * 7 + d) % 5) for s, d in E])
        ds = densest_subgraph(g).collect()
        runs.append({
            "sssp": {r["id"] - off: r["dist"] for r in sssp(g, E[0][0] + off).collect()},
            "k_core": {r["id"] - off for r in k_core(g, 3).collect()},
            "core": {r["id"] - off: r["core"] for r in core_numbers(g).collect()},
            "truss": {(r["u"] - off, r["v"] - off): r["trussness"]
                      for r in trussness(g).collect()},
            "densest": ({r["id"] - off for r in ds}, ds[0]["density"]),
            "levels": {r["scc"] - off: r["level"]
                       for r in condensation_levels(condensation(g)).collect()},
            "msf": {(r["u"] - off, r["v"] - off, r["w"]) for r in boruvka_msf(g).collect()},
        })
    base, shifted = runs
    assert len(base["levels"]) > 1 and len(base["msf"]) == 15
    for k in base:
        assert shifted[k] == base[k], k


def test_random_walks_deterministic(spark):
    """Counter-hash walks match a pure-Python md5 twin step by step;
    sink vertices terminate their walks early."""
    import hashlib

    from combblas_spark.algorithms.walks import random_walks

    E = [(0, 1), (0, 2), (1, 2), (2, 0), (2, 3), (3, 4), (1, 0)]  # 4 is a sink
    L, K, SEED = 5, 2, 7
    adj = {}
    for s, d in E:
        adj.setdefault(s, []).append(d)
    for s in adj:
        adj[s].sort()

    expect = set()
    for start in range(5):
        for k in range(K):
            cur = start
            expect.add((start, k, 0, cur))
            for t in range(1, L + 1):
                if cur not in adj:
                    break
                h = int(hashlib.md5(
                    f"{start}:{k}:{t}:{SEED}".encode()).hexdigest()[:8], 16)
                cur = adj[cur][h % len(adj[cur])]
                expect.add((start, k, t, cur))

    got = {(r["start"], r["walk"], r["step"], r["vertex"])
           for r in random_walks(df_edges(spark, E), walk_length=L,
                                 walks_per_vertex=K, seed=SEED).collect()}
    assert got == expect
    # start=3 deterministically hits the sink (adj[3] = [4]) at step 1
    # and must emit nothing after it
    assert (3, 0, 1, 4) in got
    assert not any(s == 3 and t > 1 for (s, k, t, v) in got)


def test_node2vec_walks_deterministic(spark):
    """Second-order biased walks match a pure-Python twin that unrolls
    the identical integer cumulative-weight pick; weight edge cases:
    the return candidate takes w_return even when prev->dst is also an
    edge, and a zero weight makes the candidate unpickable."""
    import hashlib

    from combblas_spark.algorithms.walks import node2vec_walks

    E = [(0, 1), (0, 2), (1, 2), (1, 0), (2, 0), (2, 3), (3, 4), (3, 0)]
    L, SEED = 5, 11
    WR, WC, WF = 1, 4, 2
    adj = {}
    for s, d in E:
        adj.setdefault(s, []).append(d)
    for s in adj:
        adj[s].sort()
    eset = set(E)

    def pick_hash(start, k, t):
        return int(hashlib.md5(
            f"{start}:{k}:{t}:{SEED}".encode()).hexdigest()[:8], 16)

    expect = set()
    for start in range(5):
        cur, prev = start, None
        expect.add((start, 0, 0, cur))
        for t in range(1, L + 1):
            if cur not in adj:
                break
            cands = adj[cur]
            if t == 1:
                nxt = cands[pick_hash(start, 0, t) % len(cands)]
            else:
                ws = [WR if d == prev else WC if (prev, d) in eset else WF
                      for d in cands]
                r = pick_hash(start, 0, t) % sum(ws)
                cum, nxt = 0, None
                for d, w in zip(cands, ws):
                    cum += w
                    if r < cum:
                        nxt = d
                        break
            prev, cur = cur, nxt
            expect.add((start, 0, t, cur))

    got = {(r["start"], r["walk"], r["step"], r["vertex"])
           for r in node2vec_walks(
               df_edges(spark, E), walk_length=L, walks_per_vertex=1,
               w_return=WR, w_common=WC, w_far=WF, seed=SEED).collect()}
    assert got == expect
    # the biased corpus must diverge from the uniform one somewhere
    from combblas_spark.algorithms.walks import random_walks
    uni = {(r["start"], r["walk"], r["step"], r["vertex"])
           for r in random_walks(df_edges(spark, E), walk_length=L,
                                 walks_per_vertex=1, seed=SEED).collect()}
    assert got != uni


def test_weighted_walks_deterministic(spark):
    """Weight-proportional picks match a pure-Python cumulative-range
    twin; with all-equal weights the corpus equals random_walks."""
    import hashlib

    from combblas_spark.algorithms.walks import random_walks, weighted_walks

    Ew = [(0, 1, 3), (0, 2, 1), (1, 2, 2), (2, 0, 1), (2, 3, 5), (3, 4, 1)]
    L, SEED = 4, 5
    adj = {}
    for s, d, w in Ew:
        adj.setdefault(s, []).append((d, w))
    for s in adj:
        adj[s].sort()

    expect = set()
    for start in range(5):
        cur = start
        expect.add((start, 0, 0, cur))
        for t in range(1, L + 1):
            if cur not in adj:
                break
            tot = sum(w for _, w in adj[cur])
            r = int(hashlib.md5(
                f"{start}:0:{t}:{SEED}".encode()).hexdigest()[:8], 16) % tot
            cum = 0
            for d, w in adj[cur]:
                cum += w
                if r < cum:
                    cur = d
                    break
            expect.add((start, 0, t, cur))

    dfw = spark.createDataFrame(Ew, "src long, dst long, val long")
    got = {(r["start"], r["walk"], r["step"], r["vertex"])
           for r in weighted_walks(dfw, walk_length=L,
                                   walks_per_vertex=1, seed=SEED).collect()}
    assert got == expect

    # unit weights reduce to the uniform corpus
    E1 = [(s, d, 1) for s, d, _ in Ew]
    df1 = spark.createDataFrame(E1, "src long, dst long, val long")
    uni = {(r["start"], r["walk"], r["step"], r["vertex"])
           for r in random_walks(df1.select("src", "dst"), walk_length=L,
                                 walks_per_vertex=1, seed=SEED).collect()}
    w1 = {(r["start"], r["walk"], r["step"], r["vertex"])
          for r in weighted_walks(df1, walk_length=L,
                                  walks_per_vertex=1, seed=SEED).collect()}
    assert w1 == uni

    with pytest.raises(ValueError, match="walk_length"):
        weighted_walks(dfw, walk_length=0)


def test_node2vec_walks_validation(spark):
    from combblas_spark.algorithms.walks import node2vec_walks

    with pytest.raises(ValueError, match="walk_length"):
        node2vec_walks(df_edges(spark, [(0, 1)]), walk_length=0)
    with pytest.raises(ValueError, match="w_return"):
        node2vec_walks(df_edges(spark, [(0, 1)]), w_return=-1)
    with pytest.raises(ValueError, match="at least one weight"):
        node2vec_walks(df_edges(spark, [(0, 1)]),
                       w_return=0, w_common=0, w_far=0)


def test_node2vec_weight_edge_cases(spark):
    """The two branch edge cases the random fixture cannot hit:
    (a) dst==prev takes w_return even when prev->dst is ALSO an edge
    (a self-loop at prev makes both WHEN branches true), and
    (b) w_return=0 makes the return candidate unpickable (its
    cumulative range [cum-0, cum) is empty) for every hash value."""
    from combblas_spark.algorithms.walks import node2vec_walks

    # 0 <-> 1 with a self-loop at 0: from cur=1 with prev=0, candidate
    # dst=0 has dst==prev AND edge prev->dst (the loop 0->0).
    E = [(0, 1), (1, 0), (0, 0)]
    # (a) w_return dominant: with w_return=1, w_common=0, w_far=0 the
    # return candidate keeps total weight 1 -> ALWAYS picked; the walk
    # from 0 must oscillate 0,?,0,... — if the common branch (weight 0)
    # shadowed return, total would be 0 and the walk would die at t=2.
    walks = node2vec_walks(df_edges(spark, E), walk_length=4,
                           w_return=1, w_common=0, w_far=0, seed=3)
    steps = {(r["start"], r["step"]): r["vertex"] for r in walks.collect()}
    assert all((0, t) in steps for t in range(5)), steps
    assert steps[(0, 2)] == 0 and steps[(0, 4)] == 0  # returned both times
    # (b) w_return=0: from 1 (prev=0) the only candidate is dst=0 with
    # weight 0 -> total 0 -> the walk TERMINATES at t=2 (never div/0)
    dead = node2vec_walks(df_edges(spark, [(0, 1), (1, 0)]), walk_length=4,
                          w_return=0, w_common=0, w_far=1, seed=3)
    by_start = {}
    for r in dead.collect():
        by_start.setdefault(r["start"], set()).add(r["step"])
    assert max(by_start[0]) == 1 and max(by_start[1]) == 1


def test_skipgram_pairs(spark):
    """Window-2 co-occurrence counts from a hand corpus; the self-join
    must plan as an equi-join on the walk key, never cartesian."""
    from combblas_spark.algorithms.walks import skipgram_pairs

    corpus = spark.createDataFrame(
        [(0, 0, 0, 10), (0, 0, 1, 11), (0, 0, 2, 12), (0, 0, 3, 10),
         (5, 1, 0, 20), (5, 1, 1, 21)],
        "start long, walk long, step int, vertex long")
    got = {(r["center"], r["context"]): r["cnt"]
           for r in skipgram_pairs(corpus, window=2).collect()}
    # walk A visits 10,11,12,10; walk B visits 20,21
    expect = {
        (10, 11): 2, (11, 10): 2,          # steps (0,1) and (3,1)... (1,3) too
        (10, 12): 2, (12, 10): 2,          # (0,2) and (3,2)
        (11, 12): 1, (12, 11): 1,
        (20, 21): 1, (21, 20): 1,
    }
    assert got == expect, got
    plan = skipgram_pairs(corpus)._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_ppmi(spark):
    """PPMI odds over a hand pair table vs pure python; the clamp at
    1.0 must fire for anti-associated pairs and the join keys must
    never go cartesian."""
    from combblas_spark.algorithms.walks import ppmi

    # (1,2) co-occurs once though 1 and 2 are both frequent -> PMI < 0,
    # clamps; (1,4) co-occurs at chance-beating rate -> odds > 1
    counts = {(1, 2): 1, (1, 4): 20, (3, 2): 20}
    pairs = spark.createDataFrame(
        [(c, x, n) for (c, x), n in counts.items()],
        "center long, context long, cnt long")
    T = sum(counts.values())
    cm, xm = {}, {}
    for (c, x), n in counts.items():
        cm[c] = cm.get(c, 0) + n
        xm[x] = xm.get(x, 0) + n
    want = {(c, x): round(max(1.0, n * T / (cm[c] * xm[x])), 6)
            for (c, x), n in counts.items()}
    out = ppmi(pairs)
    got = {(r["center"], r["context"]): r["ppmi_odds"] for r in out.collect()}
    assert got == want, (got, want)
    # (1,4) is over-represented (odds > 1), (1,2) clamps to exactly 1.0
    assert got[(1, 4)] > 1.0 and got[(1, 2)] == 1.0
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("+- == Initial Plan ==")[0]
    # the only nested-loop is the broadcast 1-row total; the marginal
    # joins must be equi-joins
    assert "CartesianProduct" not in final
    assert final.count("BroadcastNestedLoopJoin") <= 1, final


def test_closeness_vs_python(spark, monkeypatch):
    """Harmonic + closeness match a python BFS per root, incl. a sink
    (harmonic 0) and partially-reachable roots."""
    from collections import deque

    from combblas_spark.algorithms.closeness import closeness_centrality

    E = _rand_directed_edges(8, n=12, m=24) + [(50, 0)]  # 50: source-only
    nodes = sorted({x for e in E for x in e})
    adj = {}
    for s, d in E:
        adj.setdefault(s, set()).add(d)
    for regime in regimes(monkeypatch):
        got = {r["id"]: (r["harmonic"], r["closeness"])
               for r in closeness_centrality(df_edges(spark, E)).collect()}
        for r in nodes:
            dist = {r: 0}
            q = deque([r])
            while q:
                u = q.popleft()
                for w in adj.get(u, ()):  # noqa: B905
                    if w not in dist:
                        dist[w] = dist[u] + 1
                        q.append(w)
            hs = sum(1.0 / d for v, d in dist.items() if d > 0)
            sumd = sum(dist.values())
            reached = sum(1 for d in dist.values() if d > 0)
            cl = reached / sumd if sumd > 0 else 0.0
            assert (abs(got[r][0] - hs) < 1e-9
                    and abs(got[r][1] - cl) < 1e-9), (regime, r)


def _py_ktruss(E, k):
    """Reference peel: canonical undirected edges, drop support < k-2."""
    es = {(min(a, b), max(a, b)) for a, b in E if a != b}
    while True:
        nbrs = {}
        for u, v in es:
            nbrs.setdefault(u, set()).add(v)
            nbrs.setdefault(v, set()).add(u)
        keep = {(u, v) for u, v in es
                if len(nbrs[u] & nbrs[v]) >= k - 2}
        if keep == es:
            return es
        es = keep


def test_k_truss_vs_python(spark):
    from combblas_spark.algorithms.truss import k_truss

    for seed, m, k in [(2, 40, 3), (6, 70, 4), (9, 100, 5)]:
        E = _rand_directed_edges(seed, n=14, m=m)
        expect = _py_ktruss(E, k)
        got = {(r["u"], r["v"])
               for r in k_truss(df_edges(spark, E), k).collect()}
        assert got == expect, (seed, k, got ^ expect)


def _peel(adj, k):
    alive = set(adj)
    while True:
        drop = {v for v in alive if len(adj[v] & alive) < k}
        if not drop:
            return alive
        alive -= drop


def _undirected_adj(E):
    adj = {}
    for s, d in E:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    return adj


def test_k_core_vs_peeling(spark, monkeypatch):
    from combblas_spark.algorithms.kcore import k_core

    for regime in regimes(monkeypatch):
        for seed in (3, 11):
            E = _rand_directed_edges(seed)
            adj = _undirected_adj(E)
            e = df_edges(spark, E)
            for k in (2, 3, 4, 5, 6):
                got = {r["id"] for r in k_core(e, k).collect()}
                assert got == _peel(adj, k), (regime, seed, k)


def test_core_numbers_vs_exact(spark, monkeypatch):
    """h-index iteration converges to the exact coreness (isolated
    vertices are absent = core 0) in both superstep regimes."""
    from combblas_spark.algorithms.kcore import core_numbers

    E = _rand_directed_edges(19, n=16, m=50)
    adj = _undirected_adj(E)
    alive, core, k = set(adj), {}, 0
    while alive:
        while True:
            drop = {v for v in alive if len(adj[v] & alive) < k + 1}
            if not drop:
                break
            for v in drop:
                core[v] = k
            alive -= drop
        k += 1
    for regime in regimes(monkeypatch):
        got = {r["id"]: r["core"]
               for r in core_numbers(df_edges(spark, E)).collect()}
        assert {v: got.get(v, 0) for v in adj} == core, regime


def test_anf_matches_exact_neighborhood_function(spark, monkeypatch):
    """With k=64 sketches the FM estimate tracks the exact N(h) within
    35% on an RMAT graph, and sum_lzb is monotone non-decreasing — in
    both superstep regimes."""
    from combblas_spark.algorithms.anf import neighborhood_function

    g = build_graph(rmat_edges(spark, 7, 8)).persist()
    # exact N(h) via BFS from every vertex (undirected)
    E = [(r["src"], r["dst"]) for r in g.select("src", "dst").collect()]
    adj = _undirected_adj(E)
    exact = []
    total = 0
    from collections import deque
    for h in range(4):
        cnt = 0
        for s in adj:
            seen = {s}
            dq = deque([(s, 0)])
            while dq:
                u, d = dq.popleft()
                if d == h:
                    continue
                for w in adj[u]:
                    if w not in seen:
                        seen.add(w)
                        dq.append((w, d + 1))
            cnt += len(seen)
        exact.append(cnt)
    for regime in regimes(monkeypatch):
        rows = neighborhood_function(g, hops=3, k=64).orderBy("h").collect()
        for r, ex in zip(rows, exact):
            if r["h"] == 0:
                # FM is biased at cardinality ~1 (E[est] ~ 2^0.5/phi per
                # vertex): only sanity-check the seed row's magnitude
                assert ex / 2 < r["est"] < ex * 2, regime
            else:
                assert abs(r["est"] - ex) / ex < 0.35, (regime, r["h"], r["est"], ex)
        lzbs = [r["sum_lzb"] for r in rows]
        assert lzbs == sorted(lzbs), regime
    g.unpersist()


def test_anf_partition_invariant(spark):
    """bit_or merges are order/partitioning-invariant: identical
    sum_lzb under different input partitioning."""
    from combblas_spark.algorithms.anf import neighborhood_function

    e = df_edges(spark, _rand_directed_edges(5))
    a = neighborhood_function(e.repartition(1), hops=2).orderBy("h").collect()
    b = neighborhood_function(e.repartition(7, "dst"), hops=2).orderBy("h").collect()
    assert [(r["h"], r["sum_lzb"], r["est"]) for r in a] == \
           [(r["h"], r["sum_lzb"], r["est"]) for r in b]


def test_effective_diameter_path_graph(spark, monkeypatch):
    """On a path P_n the 90% effective diameter sits well below the
    true diameter and hops_run stops at sketch saturation, in both
    superstep regimes."""
    from combblas_spark.algorithms.anf import effective_diameter

    e = df_edges(spark, [(i, i + 1) for i in range(9)])  # P10, diameter 9
    for regime in regimes(monkeypatch):
        res = effective_diameter(e, q=0.9, k=32)
        assert 3.0 <= res["effective_diameter"] <= 9.0, regime
        assert res["hops_run"] <= 11, regime
        ests = [s["est"] for s in res["nf"]]
        assert all(b >= a * 0.999 for a, b in zip(ests, ests[1:])), regime


def test_effective_diameter_stops_at_true_fixpoint(spark):
    """The early stop must be the SKETCH fixpoint, not an lzb stall
    (review r5: sum_lzb can stay flat while masks — and est — still
    grow, truncating N(infinity)). Property: at the stop hop, running
    MORE hops changes nothing — the full fixed-hop curve's final est
    equals the early-stopped est, for several seeds on a single-sketch
    path graph (k=1 is the most stall-prone configuration)."""
    from combblas_spark.algorithms.anf import (
        effective_diameter, neighborhood_function)

    edges = [(i, i + 1) for i in range(11)]  # P12, diameter 11
    e = df_edges(spark, edges)
    for seed in (7, 19, 42):
        res = effective_diameter(e, q=0.9, k=1, max_hops=16, seed=seed)
        pops = [s["sum_pop"] for s in res["nf"]]
        assert pops == sorted(pops)  # popcount monotone under OR
        full = neighborhood_function(e, hops=14, k=1, seed=seed) \
            .orderBy("h").collect()
        # est at the stop equals est after any further hops: the stop
        # really was the fixpoint
        from combblas_spark.portable import pround_py
        assert pround_py(res["nf"][-1]["est"]) == full[-1]["est"], seed


def test_host_link_graph_vs_reference(spark):
    """Host contraction equals the pure-Python reference extractor +
    host parse + Counter."""
    from collections import Counter
    from urllib.parse import urlparse

    from combblas_spark.sources.pages import (
        generate_pages, host_link_graph, reference_extract_links,
    )

    pages = generate_pages(spark, n_pages=120).persist()
    got = {(r["src_host"], r["dst_host"]): r["weight"]
           for r in host_link_graph(pages).collect()}
    exp = Counter()
    for row in pages.select("url", "html").collect():
        hs = urlparse(row["url"]).netloc
        for dst in reference_extract_links(bytes(row["html"])):
            hd = urlparse(dst).netloc
            if hs != hd:
                exp[(hs, hd)] += 1
    assert got == dict(exp)
    pages.unpersist()


# -------------------------------------------------- round-4 additions


def test_scc_raises_on_cap_exhaustion(spark):
    """A 6-cycle needs ~6 coloring steps; max_inner=2 must raise, never
    return split SCCs (ADVICE r3)."""
    import pytest as _pytest

    from combblas_spark.algorithms.scc import strongly_connected_components

    cyc = [(i, (i + 1) % 6) for i in range(6)]
    with _pytest.raises(RuntimeError, match="coloring"):
        strongly_connected_components(df_edges(spark, cyc), max_inner=2)
    # and the empty graph returns an empty frame, not an assert
    empty = spark.createDataFrame([], "src long, dst long, val double")
    out = strongly_connected_components(empty)
    assert out.columns == ["id", "scc"] and out.count() == 0


def test_scc_trim_cap_is_not_an_error(spark):
    """Trim is an optimization: a directed chain peels ~2 vertices per
    trim step, so max_inner=3 can't trim a 12-chain to fixpoint — the
    color/reach phases must still label every vertex as its own SCC
    (review finding: the old code raised here claiming wrongness)."""
    from combblas_spark.algorithms.scc import strongly_connected_components

    chain = [(i, i + 1) for i in range(12)]
    got = {r["id"]: r["scc"]
           for r in strongly_connected_components(
               df_edges(spark, chain), max_inner=3).collect()}
    assert got == {i: i for i in range(13)}


def test_mis_raises_on_cap_exhaustion(spark):
    """Exhausting Luby rounds with candidates remaining must be loud —
    a silently-returned set would violate the MAXIMALITY contract."""
    import pytest as _pytest

    from combblas_spark.algorithms.mis import maximal_independent_set

    g = df_edges(spark, [(0, 1), (1, 2), (2, 3)])
    with _pytest.raises(RuntimeError, match="candidates remain"):
        maximal_independent_set(g, max_iter=0)


def test_maximal_matching_raises_on_cap_exhaustion(spark):
    import pytest as _pytest

    from combblas_spark.algorithms.matching import bipartite_maximal_matching

    g = df_edges(spark, [(0, 5), (1, 5), (1, 6)])
    with _pytest.raises(RuntimeError, match="live edges remain"):
        bipartite_maximal_matching(g, max_iter=0)


def test_sssp_warns_on_cap_exhaustion(spark):
    """A truncated run returns the exact k-hop relaxation (resume
    depends on that) but must WARN that it is not the fixpoint."""
    import pytest as _pytest

    from combblas_spark.algorithms.sssp import sssp

    chain = [(i, i + 1) for i in range(5)]
    with _pytest.warns(RuntimeWarning, match="max_iter"):
        d = {r["id"]: r["dist"]
             for r in sssp(df_edges(spark, chain), root=0,
                           weighted=False, max_iter=2).collect()}
    assert d == {0: 0.0, 1: 1.0, 2: 2.0}  # the exact 2-hop relaxation


def test_pagerank_zero_teleport_raises(spark):
    import pytest as _pytest

    from combblas_spark.algorithms.pagerank import pagerank

    e = df_edges(spark, [(0, 1), (1, 2), (2, 0)])
    tp = spark.createDataFrame([(0, 0.0), (1, 0.0)], "id long, w double")
    with _pytest.raises(ValueError, match="teleport"):
        pagerank(e, n_iter=2, teleport=tp)


def test_bfs_random_parent_tree_valid(spark):
    """Random-parent BFS (RandomParentBFS.cpp semiring, seeded): levels
    identical to min-rule BFS, parents form a valid kernel-2 tree, and
    at least one parent differs from the min rule on a graph with
    multi-parent layers."""
    from combblas_spark.algorithms.bfs import (
        _bfs, bfs_levels, bfs_parents, validate_bfs_tree)

    E = _rand_directed_edges(23, n=14, m=60)
    g = df_edges(spark, E)
    tree = _bfs(g, 0, directed=False, max_depth=1000, want_parents=None,
                parent_rule="random")
    chk = validate_bfs_tree(g, tree, 0)
    assert chk["ok"], chk
    lv_min = {r["id"]: r["level"] for r in bfs_levels(g, 0).collect()}
    lv_rnd = {r["id"]: r["level"] for r in tree.collect()}
    assert lv_min == lv_rnd
    p_min = {r["id"]: r["parent"] for r in bfs_parents(g, 0).collect()}
    p_rnd = {r["id"]: r["parent"] for r in
             bfs_parents(g, 0, parent_rule="random").collect()}
    assert set(p_min) == set(p_rnd)
    assert any(p_min[v] != p_rnd[v] for v in p_min), \
        "random rule never deviated from min rule (suspicious)"
    # determinism: same seed -> same tree
    p_rnd2 = {r["id"]: r["parent"] for r in
              bfs_parents(g, 0, parent_rule="random").collect()}
    assert p_rnd == p_rnd2


def test_single_child_frontier(spark):
    """One child per (level, parent): star 0->{1,2,3}, then 1->{4,5}.
    Exactly one chosen child per parent per level, and it is one of the
    parent's tree children."""
    from combblas_spark.algorithms.bfs import bfs_tree, single_child_frontier

    g = df_edges(spark, [(0, 1), (0, 2), (0, 3), (1, 4), (1, 5)])
    tree = bfs_tree(g, 0)
    sc = single_child_frontier(tree, 0).collect()
    by_key = {(r["level"], r["parent"]): r["child"] for r in sc}
    assert set(by_key) == {(1, 0), (2, 1)}
    assert by_key[(1, 0)] in {1, 2, 3}
    assert by_key[(2, 1)] in {4, 5}


def test_ktips(spark):
    """Tip walks: branch within l -> cut edge reported; dead-end and
    too-long walks -> (-1,-1). Graph: path 0-1-2-10 into junction 10
    (also adjacent to leaves 20, 21), isolated edge 30-31, and a long
    path 40-41-..-45-10 whose tip only resolves with larger l."""
    from combblas_spark.algorithms.ktips import k_tips

    E = [(0, 1), (1, 2), (2, 10), (10, 20), (10, 21),
         (30, 31),
         (40, 41), (41, 42), (42, 43), (43, 44), (44, 45), (45, 10)]
    g = df_edges(spark, E)
    got = {r["tip"]: (r["cut_src"], r["cut_dst"])
           for r in k_tips(g, l=4).collect()}
    # degree-1 vertices: 0, 20, 21, 30, 31, 40
    assert set(got) == {0, 20, 21, 30, 31, 40}
    assert got[0] == (2, 10)       # walk 0-1-2-(10 branches)
    assert got[20] == (20, 10)     # immediate junction
    assert got[21] == (21, 10)
    assert got[30] == (-1, -1)     # dead end (mutual tips)
    assert got[31] == (-1, -1)
    assert got[40] == (-1, -1)     # needs 6 rounds, l=4
    got6 = {r["tip"]: (r["cut_src"], r["cut_dst"])
            for r in k_tips(g, l=6).collect()}
    assert got6[40] == (45, 10)


def test_col_split_merge_roundtrip(spark):
    """SplitMergeTest.cpp: split -> concatenate == identity; block grid
    round-trip too; reference cut rule (last part takes remainder)."""
    from combblas_spark.operators.split import (
        _cuts, block_merge, block_split, col_concatenate, col_split)

    assert _cuts(10, 3) == [(0, 3), (3, 6), (6, 10)]
    assert _cuts(7, 7) == [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7)]
    assert _cuts(3, 5) == [(0, 3)]  # too small to split

    E = [(i, (i * 7) % 13, float(i)) for i in range(40)]
    g = df_edges(spark, E)
    slices = col_split(g, 5, ncols=13)
    assert [s["ncols"] for s in slices] == [2, 2, 2, 2, 5]
    back = col_concatenate(slices)
    orig = {(r["src"], r["dst"], r["val"]) for r in g.collect()}
    assert {(r["src"], r["dst"], r["val"]) for r in back.collect()} == orig
    grid = block_split(g, 3, 2, nrows=40, ncols=13)
    assert len(grid) == 3 and len(grid[0]) == 2
    back2 = block_merge(grid)
    assert {(r["src"], r["dst"], r["val"]) for r in back2.collect()} == orig


def test_selective_prune(spark):
    """IncClust.h:310 truth table: an nz dies only when same-age AND
    weak AND unmasked."""
    from combblas_spark.algorithms.mcl import selective_prune

    A = df_edges(spark, [
        (0, 2, 0.1),   # old-old, weak, unmasked -> pruned
        (0, 4, 0.1),   # old-old, weak, MASKED   -> kept
        (0, 6, 9.0),   # old-old, strong         -> kept
        (1, 3, 0.1),   # new-new, weak, unmasked -> pruned
        (0, 1, 0.1),   # old-new bridge, weak    -> kept
    ])
    mask = spark.createDataFrame([(0, 4)], "src long, dst long")
    is_old = spark.createDataFrame(
        [(i, i % 2 == 0) for i in range(8)], "id long, old boolean")
    got = {(r["src"], r["dst"]) for r in
           selective_prune(A, mask, is_old, 1.0).collect()}
    assert got == {(0, 4), (0, 6), (0, 1)}


def test_mcl_incremental_pipeline_two_deltas(spark):
    """Full Incremental/ parity, two-delta check: cluster G0 (two
    cliques) saving a summary; add a third clique with a weak bridge;
    the incremental pipeline (summary + new edges + selective prune)
    finds the same partition as a from-scratch MCL on the full graph."""
    from combblas_spark.algorithms.mcl import (
        mcl, mcl_incremental_pipeline)

    def clique(vs, w=1.0):
        return [(a, b, w) for a in vs for b in vs if a < b]

    g0 = clique([0, 1, 2, 3]) + clique([10, 11, 12, 13]) + [(3, 10, 0.05)]
    summary0: list = []
    c0 = mcl(df_edges(spark, g0), inflation=2.0, summary_iter=1,
             summary_out=summary0)
    part0 = {frozenset(int(r["id"]) for r in c0.collect()
                       if r["cluster"] == c)
             for c in {r["cluster"] for r in c0.collect()}}
    assert part0 == {frozenset({0, 1, 2, 3}), frozenset({10, 11, 12, 13})}
    assert summary0, "summary not captured"

    # delta: new clique 20-23, weakly bridged to the 10s clique
    new_edges = clique([20, 21, 22, 23]) + [(13, 20, 0.05)]
    prev = c0.selectExpr("id", "cluster")
    summary1: list = []
    c1 = mcl_incremental_pipeline(
        summary0[0], df_edges(spark, new_edges), prev,
        inflation=2.0, selective_threshold=1e-4,
        summary_iter=1, summary_out=summary1)
    rows = c1.collect()
    part1 = {frozenset(int(r["id"]) for r in rows if r["cluster"] == c)
             for c in {r["cluster"] for r in rows}}
    full = mcl(df_edges(spark, g0 + new_edges), inflation=2.0)
    frows = full.collect()
    partf = {frozenset(int(r["id"]) for r in frows if r["cluster"] == c)
             for c in {r["cluster"] for r in frows}}
    assert part1 == partf, (part1, partf)
    assert summary1, "second summary not captured"


def test_blocked_spgemm(spark):
    """BlockedSpGEMM.cpp contract: the union of re-offset output blocks
    equals the unblocked product, block count = br*bc."""
    from combblas_spark.operators.spgemm import spgemm
    from combblas_spark.operators.split import block_merge, blocked_spgemm

    E = [(i % 11, (i * 3) % 9, float(i % 5 + 1)) for i in range(60)]
    g = df_edges(spark, E)
    blocks = list(blocked_spgemm(g, g, 3, 2, nrows=11, ncols=9))
    assert len(blocks) == 6
    got = {(r["src"], r["dst"], r["val"])
           for r in block_merge([blocks[:2], blocks[2:4], blocks[4:]]).collect()}
    want = {(r["src"], r["dst"], r["val"]) for r in spgemm(g, g).collect()}
    assert got == want and want


def test_peel_caps_raise_not_silent_superset(spark):
    """A peel loop that exhausts its round cap must raise, never return
    the (non-converged) SUPERSET: a path needs ~len/2 k-core rounds and
    a triangle chain one truss round per link."""
    from combblas_spark.algorithms.kcore import core_numbers, k_core
    from combblas_spark.algorithms.truss import k_truss

    path = [(i, i + 1) for i in range(30)]  # k=2 peel depth = 15
    e = df_edges(spark, path)
    with pytest.raises(RuntimeError, match="k_core did not converge"):
        k_core(e, 2, max_rounds=3)
    assert {r["id"] for r in k_core(e, 2, max_rounds=40).collect()} == set()

    # double fan with one weak corner: round 0 drops (0,1)+(10,0), the
    # confirmation round is round 1 — max_rounds=1 exhausts mid-peel
    fan = [(i, i + 1) for i in range(4)] + [(10, 11)]
    fan += [(10, i) for i in range(5)] + [(11, i) for i in range(1, 5)]
    et = df_edges(spark, fan)
    with pytest.raises(RuntimeError, match="k_truss did not converge"):
        k_truss(et, 4, max_rounds=1)
    got4 = {(r["u"], r["v"]) for r in k_truss(et, 4, max_rounds=20).collect()}
    assert got4 == _py_ktruss(fan, 4) and got4

    with pytest.raises(RuntimeError, match="core_numbers did not converge"):
        core_numbers(e, max_iters=1)


def test_closeness_roots_subset_rows_only(spark):
    """With an explicit roots list the output has exactly one row per
    requested root (no zero-filled never-computed vertices), and an
    off-graph root gets a (0, 0) row instead of vanishing."""
    from combblas_spark.algorithms.closeness import closeness_centrality

    E = [(0, 1), (1, 2), (2, 3)]
    out = closeness_centrality(df_edges(spark, E), roots=[1, 99])
    rows = {r["id"]: (r["harmonic"], r["closeness"]) for r in out.collect()}
    assert set(rows) == {1, 99}
    assert abs(rows[1][0] - 1.5) < 1e-9       # d(2)=1, d(3)=2
    assert abs(rows[1][1] - 2 / 3) < 1e-9     # reached 2 / sumd 3
    assert rows[99] == (0.0, 0.0)


# ------------------------------------------- co-citation / coupling

def _pair_oracle(edges, key_idx, item_idx, min_weight, max_degree):
    from collections import Counter, defaultdict

    groups = defaultdict(set)
    for e in edges:
        if e[0] != e[1]:
            groups[e[key_idx]].add(e[item_idx])
    cnt = Counter()
    for items in groups.values():
        if max_degree is not None and len(items) > max_degree:
            continue
        s = sorted(items)
        for x in range(len(s)):
            for y in range(x + 1, len(s)):
                cnt[(s[x], s[y])] += 1
    return {p: c for p, c in cnt.items() if c >= min_weight}


def test_cocitation_known(spark):
    from combblas_spark.algorithms.linkanalysis import (
        bibliographic_coupling, cocitation)

    # citer 0 -> {2,3,4}, citer 1 -> {2,3}; parallel edge + loop ignored
    E = [(0, 2), (1, 2), (0, 3), (1, 3), (0, 4), (0, 2), (2, 2)]
    got = {(r["id_a"], r["id_b"]): r["weight"]
           for r in cocitation(df_edges(spark, E), min_weight=1).collect()}
    assert got == {(2, 3): 2, (2, 4): 1, (3, 4): 1}
    got2 = {(r["id_a"], r["id_b"]): r["weight"]
            for r in cocitation(df_edges(spark, E), min_weight=2).collect()}
    assert got2 == {(2, 3): 2}
    # hub cap: citer 0 (outdeg 3) suppressed before pairing
    capped = {(r["id_a"], r["id_b"]): r["weight"]
              for r in cocitation(df_edges(spark, E), min_weight=1,
                                  max_degree=2).collect()}
    assert capped == {(2, 3): 1}

    # coupling is co-citation on the transpose
    ET = [(d, s) for s, d in E]
    coup = {(r["id_a"], r["id_b"]): r["weight"]
            for r in bibliographic_coupling(
                df_edges(spark, ET), min_weight=1).collect()}
    assert coup == got

    with pytest.raises(ValueError, match="min_weight"):
        cocitation(df_edges(spark, E), min_weight=0)
    with pytest.raises(ValueError, match="max_degree"):
        cocitation(df_edges(spark, E), min_weight=1, max_degree=1)


def test_diameter_double_sweep(spark):
    """Double sweep finds the exact diameter on a path (where the min-id
    start is an endpoint) and a known bound on a lollipop; empty input
    yields an empty frame."""
    from combblas_spark.algorithms.closeness import diameter_double_sweep

    # path 0-1-2-3-4: sweep1 from 0 reaches 4 at level 4; sweep2 back
    path = [(i, i + 1) for i in range(4)]
    r = diameter_double_sweep(df_edges(spark, path)).collect()[0]
    assert (r["root"], r["far_id"], r["ecc_root"], r["diameter_lb"]) \
        == (0, 4, 4, 4)

    # lollipop: triangle {0,1,2} + tail 2-3-4-5 -> diameter 4 (0..5)
    lolli = [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (4, 5)]
    r = diameter_double_sweep(df_edges(spark, lolli)).collect()[0]
    assert r["diameter_lb"] == 4 and r["far_id"] == 5

    empty = diameter_double_sweep(
        spark.createDataFrame([], "src long, dst long"))
    assert empty.count() == 0


def test_s_core(spark, monkeypatch):
    """s-core with unit weights == k_core on reciprocal-free input
    (multigraph semantics DIVERGE on mutual links — documented);
    integer weights shift the peel in both superstep regimes; negative
    weights and cap exhaustion raise."""
    from combblas_spark.algorithms.kcore import k_core, s_core

    # triangle 0-1-2 plus pendant 3
    E = [(0, 1), (1, 2), (0, 2), (2, 3)]
    # weighted: edge (2,3) weight 5 keeps the pendant in at s=5
    # (strength(3)=5), while the triangle edges weigh 1 each
    Ew = [(0, 1, 1), (1, 2, 1), (0, 2, 1), (2, 3, 5)]
    dfw = spark.createDataFrame(Ew, "src long, dst long, w long")
    for regime in regimes(monkeypatch):
        got = {r["id"] for r in s_core(df_edges(spark, E), 2).collect()}
        want = {r["id"] for r in k_core(df_edges(spark, E), 2).collect()}
        assert got == want == {0, 1, 2}, regime
        assert {r["id"] for r in s_core(dfw, 5, weight_col="w").collect()} \
            == {2, 3}, regime
        assert {r["id"] for r in s_core(dfw, 2, weight_col="w").collect()} \
            == {0, 1, 2, 3}, regime
        assert s_core(dfw, 100, weight_col="w").count() == 0, regime

    # multigraph multiplicity: parallel rows count without weight_col
    Em = [(0, 1), (0, 1), (1, 2)]
    assert {r["id"] for r in s_core(df_edges(spark, Em), 2).collect()} \
        == {0, 1}

    # documented divergence from k_core: a reciprocal directed pair
    # carries strength 2 per endpoint for s_core (multigraph view),
    # degree 1 for k_core (simple undirected view)
    Er = [(0, 1), (1, 0)]
    assert {r["id"] for r in s_core(df_edges(spark, Er), 2).collect()} \
        == {0, 1}
    assert k_core(df_edges(spark, Er), 2).count() == 0

    # negative weights break peel monotonicity -> loud error
    dfneg = spark.createDataFrame([(0, 1, -1)], "src long, dst long, w long")
    with pytest.raises(ValueError, match="negative"):
        s_core(dfneg, 1, weight_col="w")

    with pytest.raises(RuntimeError, match="did not converge"):
        # a 7-path at s=1... strength>=1 keeps everything; use s=2 on a
        # long path: peels one pendant layer per round
        path = [(i, i + 1) for i in range(8)]
        s_core(df_edges(spark, path), 2, max_rounds=2)


def test_power_iteration_clustering(spark):
    """PIC separates two asymmetric cliques joined by one bridge edge
    (symmetric structures are indistinguishable under the deterministic
    degree init — asymmetry is what the early-stopped embedding reads);
    cluster labels are min-member-id; k=1 puts everything together."""
    import itertools

    from combblas_spark.algorithms.pic import power_iteration_clustering

    c1, c2 = list(range(5)), list(range(10, 18))
    E = ([(a, b) for a, b in itertools.combinations(c1, 2)]
         + [(a, b) for a, b in itertools.combinations(c2, 2)]
         + [(4, 10)])
    out = power_iteration_clustering(
        df_edges(spark, E), k=2, n_iter=6).collect()
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r["cluster"], set()).add(r["id"])
    assert by_cluster == {0: set(c1), 10: set(c2)}

    one = power_iteration_clustering(df_edges(spark, E), k=1, n_iter=3)
    assert {r["cluster"] for r in one.collect()} == {0}

    with pytest.raises(ValueError, match="k must be"):
        power_iteration_clustering(df_edges(spark, E), k=0)
    with pytest.raises(ValueError, match="n_iter"):
        power_iteration_clustering(df_edges(spark, E), n_iter=0)


def test_sweep_cut(spark):
    """Sweep profile matches a pure-python twin on two bridged
    triangles, and the best cut is the bridge (cut=1) exactly between
    the communities."""
    import itertools

    from combblas_spark.algorithms.sweep import sweep_cut

    A, B = [0, 1, 2], [10, 11, 12]
    E = ([(a, b) for a, b in itertools.combinations(A, 2)]
         + [(a, b) for a, b in itertools.combinations(B, 2)]
         + [(2, 10)])
    # score 1.0 on A, 0.0 on B -> A sweeps first
    scores = spark.createDataFrame(
        [(v, 1.0) for v in A] + [(v, 0.0) for v in B],
        "id long, rank double")
    rows = {r["pos"]: r for r in
            sweep_cut(df_edges(spark, E), scores).collect()}

    # python twin: order by score/deg desc, id asc
    deg = {0: 2, 1: 2, 2: 3, 10: 3, 11: 2, 12: 2}
    sc = {v: (1.0 if v in A else 0.0) / deg[v] for v in deg}
    order = sorted(deg, key=lambda v: (-sc[v], v))
    und = {(min(a, b), max(a, b)) for a, b in E}
    tv = sum(deg.values())
    volc, member = 0, set()
    for t, v in enumerate(order[:-1]):
        member.add(v)
        volc += deg[v]
        cut = sum(1 for (a, b) in und if (a in member) != (b in member))
        r = rows[t]
        assert (r["id"], r["deg"], r["cut"], r["vol"]) == (v, deg[v], cut, volc)
        assert r["conductance"] == pytest.approx(
            round(cut / min(volc, tv - volc), 6), abs=1e-9)
    # the best-conductance prefix is exactly community A (cut=1)
    best = min(rows.values(), key=lambda r: (r["conductance"], r["pos"]))
    assert best["pos"] == 2 and best["cut"] == 1
    assert len(rows) == len(deg) - 1  # full-set prefix excluded


def test_resolve_redirects(spark):
    """Chains resolve to finals, loops flag, the hop cap truncates, and
    multigraph successors take the min dst."""
    from combblas_spark.functions.urls import resolve_redirects

    # chain 0->1->2->3 (3 final), loop 10<->11, min-rule 20->{21,25}
    E = [(0, 1), (1, 2), (2, 3), (10, 11), (11, 10), (20, 25), (20, 21)]
    got = {r["id"]: (r["target"], r["looped"])
           for r in resolve_redirects(df_edges(spark, E)).collect()}
    assert got[0] == (3, False) and got[1] == (3, False)
    assert got[2] == (3, False) and got[3] == (3, False)
    assert got[20] == (21, False)  # min-dst successor rule, 21 is final
    assert got[10][1] is True and got[11][1] is True  # loop flagged
    assert got[25] == (25, False) and got[21] == (21, False)

    # hop cap: an 8-chain at max_hops=4 stays unresolved (looped flag
    # here means "still redirecting at the cap")
    chain = [(i, i + 1) for i in range(8)]
    capped = {r["id"]: (r["target"], r["looped"])
              for r in resolve_redirects(df_edges(spark, chain),
                                         max_hops=4).collect()}
    assert capped[0] == (4, True)
    assert capped[7] == (8, False)

    with pytest.raises(ValueError, match="max_hops"):
        resolve_redirects(df_edges(spark, E), max_hops=0)


def test_local_cluster_acl_composition(spark):
    """Seeded PPR + sweep recovers the seed's community exactly on two
    bridged 4-cliques (the ACL local-clustering promise at toy scale)."""
    import itertools

    from combblas_spark.algorithms.pagerank import pagerank
    from combblas_spark.algorithms.sweep import sweep_cut

    A, B = [0, 1, 2, 3], [10, 11, 12, 13]
    E = ([(a, b) for a, b in itertools.combinations(A, 2)]
         + [(a, b) for a, b in itertools.combinations(B, 2)]
         + [(3, 10)])
    # symmetrize for the PPR walk: the undirected-community intuition
    # needs mass to flow both ways (sweep_cut symmetrizes internally,
    # pagerank honors the edge directions it is given)
    g = df_edges(spark, E + [(b, a) for a, b in E])
    tele = spark.createDataFrame([(0, 1.0)], "id long, w double")
    r = pagerank(g, alpha=0.85, n_iter=10, teleport=tele)
    prof = sweep_cut(g, r, score_col="rank")
    best = min(prof.collect(), key=lambda x: (x["conductance"], x["pos"]))
    members = {x["id"] for x in prof.collect() if x["pos"] <= best["pos"]}
    assert members == set(A)
    assert best["cut"] == 1


def test_sixth_session_ops_partition_invariance(spark):
    """The session's new operators are partitioning-invariant: identical
    rows regardless of how the input edges are partitioned (the same
    determinism contract the north rule's resumability rests on)."""
    from combblas_spark.algorithms.linkanalysis import (neighbor_jaccard,
                                                        simrank)
    from combblas_spark.algorithms.pic import power_iteration_clustering
    from combblas_spark.algorithms.walks import (node2vec_walks,
                                                 weighted_walks)

    E = [(i, (i * 7 + 3) % 23) for i in range(60) if i != (i * 7 + 3) % 23]
    e1 = df_edges(spark, E)
    e2 = e1.repartition(11)
    for name, fn in (
        ("simrank", lambda d: simrank(d, n_iter=2)),
        ("neighbor_jaccard", lambda d: neighbor_jaccard(d)),
        ("pic", lambda d: power_iteration_clustering(d, k=3, n_iter=4)),
        ("node2vec", lambda d: node2vec_walks(d, walk_length=3)),
    ):
        a = sorted(map(tuple, fn(e1).collect()))
        b = sorted(map(tuple, fn(e2).collect()))
        assert a == b, name

    Ew = [(s, d, (s + d) % 4 + 1) for s, d in E]
    w1 = spark.createDataFrame(Ew, "src long, dst long, val long")
    a = sorted(map(tuple, weighted_walks(w1, walk_length=3).collect()))
    b = sorted(map(tuple,
                   weighted_walks(w1.repartition(7), walk_length=3).collect()))
    assert a == b


def test_winnow_partition_invariance(spark):
    from combblas_spark.functions.dedup import winnow_fingerprints

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{(i * j + j) % 13}" for j in range(30)))
         for i in range(12)],
        "doc_id long, text string")
    a = sorted(map(tuple, winnow_fingerprints(docs).collect()))
    b = sorted(map(tuple,
                   winnow_fingerprints(docs.repartition(5)).collect()))
    assert a == b and a


def test_neighbor_jaccard(spark):
    """Known-graph Jaccard: 0,1 share dsts {2,3} of outdegs 3 and 2;
    direction='in' transposes; hub cap drops super-cited targets."""
    from combblas_spark.algorithms.linkanalysis import neighbor_jaccard

    E = [(0, 2), (0, 3), (0, 4), (1, 2), (1, 3)]
    got = {(r["id_a"], r["id_b"]): (r["common"], r["jaccard"])
           for r in neighbor_jaccard(df_edges(spark, E)).collect()}
    assert got == {(0, 1): (2, round(2 / (3 + 2 - 2), 6))}

    # 'in' on the transpose reproduces the same pairs
    ET = [(d, s) for s, d in E]
    got_in = {(r["id_a"], r["id_b"]): (r["common"], r["jaccard"])
              for r in neighbor_jaccard(df_edges(spark, ET),
                                        direction="in").collect()}
    assert got_in == got

    # cap: target 2 cited by 3 pages > max_degree=2 -> only {3} shared
    E2 = E + [(5, 2)]
    capped = {(r["id_a"], r["id_b"]): r["common"]
              for r in neighbor_jaccard(df_edges(spark, E2),
                                        max_degree=2).collect()}
    assert capped == {(0, 1): 1}

    with pytest.raises(ValueError, match="direction"):
        neighbor_jaccard(df_edges(spark, E), direction="both")


def test_simrank_dense_twin(spark):
    """Truncated SimRank matches a dense numpy unroll of the Jeh-Widom
    recurrence (sim(v,v)=1, C=1/2, true in-degree normalization) on a
    random directed graph, with and without the propagation hub cap."""
    import numpy as np

    from combblas_spark.algorithms.linkanalysis import simrank

    rng = np.random.RandomState(7)
    n = 20
    E = sorted({(int(a), int(b)) for a, b in rng.randint(0, n, (70, 2))
                if a != b})

    def dense(n_iter, cap):
        ind = np.zeros(n)
        for _, b in E:
            ind[b] += 1
        outd = np.zeros(n)
        for a, _ in E:
            outd[a] += 1
        ek = [(a, b) for a, b in E if cap is None or outd[a] <= cap]
        S = np.eye(n)
        for _ in range(n_iter):
            T = np.zeros((n, n))
            for (x, a) in ek:
                for (y, b) in ek:
                    if a != b:
                        T[a, b] += S[x, y]
            S2 = np.eye(n)
            for a in range(n):
                for b in range(n):
                    if a != b and ind[a] > 0 and ind[b] > 0:
                        S2[a, b] = 0.5 * T[a, b] / (ind[a] * ind[b])
            S = S2
        return {(a, b): round(S[a, b], 6)
                for a in range(n) for b in range(a + 1, n) if S[a, b] > 0}

    for n_iter, cap in [(1, None), (3, None), (3, 3)]:
        got = {(r["a"], r["b"]): r["sim"]
               for r in simrank(df_edges(spark, E), n_iter=n_iter,
                                max_source_outdegree=cap).collect()}
        want = dense(n_iter, cap)
        assert set(got) == set(want), (n_iter, cap)
        assert all(abs(got[k] - want[k]) < 2e-6 for k in got), (n_iter, cap)

    with pytest.raises(ValueError, match="n_iter"):
        simrank(df_edges(spark, E), n_iter=0)
    with pytest.raises(ValueError, match="max_source_outdegree"):
        simrank(df_edges(spark, E), max_source_outdegree=0)


def test_cocitation_rmat_vs_oracle(spark):
    from combblas_spark.algorithms.linkanalysis import (
        bibliographic_coupling, cocitation)

    raw = rmat_edges(spark, scale=6, edgefactor=4, seed=13)
    E = [(r["src"], r["dst"]) for r in raw.select("src", "dst").collect()]
    for mw, md in ((1, None), (2, None), (2, 5)):
        got = {(r["id_a"], r["id_b"]): r["weight"]
               for r in cocitation(raw, min_weight=mw, max_degree=md).collect()}
        assert got == _pair_oracle(E, 0, 1, mw, md)
        gotc = {(r["id_a"], r["id_b"]): r["weight"]
                for r in bibliographic_coupling(
                    raw, min_weight=mw, max_degree=md).collect()}
        assert gotc == _pair_oracle(E, 1, 0, mw, md)


# ----------------------------------------------------------------- modularity

def test_modularity_known(spark):
    from combblas_spark.algorithms.labelprop import modularity

    # two triangles + bridge; perfect 2-community split
    E = [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3)]
    lab = spark.createDataFrame(
        [(i, 0) for i in (0, 1, 2)] + [(i, 1) for i in (3, 4, 5)],
        "id long, label long")
    r = modularity(df_edges(spark, E), lab).collect()[0]
    # m=7, intra=6, d_A=d_B=7 -> Q = 6/7 - 98/196 = 0.357143 (6dp)
    assert (r["m"], r["intra_edges"], r["deg_sq_sum"]) == (7, 6, 98)
    assert r["modularity"] == round(6 / 7 - 98 / 196, 6)

    # null-labeled vertices: no community, edges never intra, degree out
    lab2 = spark.createDataFrame(
        [(i, 0) for i in (0, 1, 2)] + [(i, None) for i in (3, 4, 5)],
        "id long, label long")
    r2 = modularity(df_edges(spark, E), lab2).collect()[0]
    assert (r2["m"], r2["intra_edges"], r2["deg_sq_sum"]) == (7, 3, 49)
    assert r2["modularity"] == round(3 / 7 - 49 / 196, 6)

    # loops + parallel edges ignored; single community Q = 0
    E3 = [(0, 1), (1, 0), (0, 0)]
    lab3 = spark.createDataFrame([(0, 9), (1, 9)], "id long, label long")
    r3 = modularity(df_edges(spark, E3), lab3).collect()[0]
    assert (r3["m"], r3["intra_edges"], r3["deg_sq_sum"]) == (1, 1, 4)
    assert r3["modularity"] == 0.0

    # empty graph -> m=0, NULL Q (not a crash, not a bogus 0)
    r4 = modularity(df_edges(spark, [(7, 7)]), lab3).collect()[0]
    assert r4["m"] == 0 and r4["modularity"] is None


def test_condensation_and_levels(spark):
    from combblas_spark.algorithms.scc import (
        condensation, condensation_levels, strongly_connected_components)

    # {0,1} <-> cycle, {2,3} <-> cycle, chain into singletons 4 -> 5;
    # parallel inter-SCC edges (1->2, 0->2) collapse with weight 2
    E = [(0, 1), (1, 0), (2, 3), (3, 2), (1, 2), (0, 2), (3, 4), (4, 5),
         (6, 7)]
    e = df_edges(spark, E)
    scc = strongly_connected_components(e)
    ce = condensation(e, scc)
    got = {(r["src_scc"], r["dst_scc"]): r["weight"] for r in ce.collect()}
    assert got == {(0, 2): 2, (2, 4): 1, (4, 5): 1, (6, 7): 1}

    lev = {r["scc"]: r["level"] for r in condensation_levels(ce).collect()}
    assert lev == {0: 0, 2: 1, 4: 2, 5: 3, 6: 0, 7: 1}

    # a cycle is not a condensation: must refuse, never emit stale levels
    cyc = spark.createDataFrame([(1, 2), (2, 1)], "src_scc long, dst_scc long")
    with pytest.raises(RuntimeError, match="cycle"):
        condensation_levels(cyc, max_rounds=8)


def test_edge_embeddedness_known(spark):
    from combblas_spark.algorithms.linkanalysis import edge_embeddedness

    # square + one diagonal + an isolated edge; direction/duplicates
    # must not matter (undirected canonicalization)
    E = [(0, 1), (1, 2), (2, 3), (3, 0), (0, 2), (2, 0), (4, 5)]
    got = {(r["u"], r["v"]): (r["n_common"], r["deg_u"], r["deg_v"], r["jaccard"])
           for r in edge_embeddedness(df_edges(spark, E)).collect()}
    assert got == {
        (0, 1): (1, 3, 2, 0.25),
        (1, 2): (1, 2, 3, 0.25),
        (2, 3): (1, 3, 2, 0.25),
        (0, 3): (1, 3, 2, 0.25),
        (0, 2): (2, 3, 3, 0.5),
        (4, 5): (0, 1, 1, 0.0),
    }


def test_rich_club_known(spark):
    from combblas_spark.algorithms.linkanalysis import rich_club

    E = [(0, 1), (1, 2), (2, 3), (3, 0), (0, 2), (4, 5)]
    e = df_edges(spark, E)
    r = rich_club(e, k=2).collect()[0]
    assert (r["k"], r["n_rich"], r["e_rich"], r["phi"]) == (2, 2, 1, 1.0)
    r0 = rich_club(e, k=0).collect()[0]
    assert (r0["n_rich"], r0["e_rich"], r0["phi"]) == (6, 6, 0.4)
    r9 = rich_club(e, k=9).collect()[0]
    assert r9["n_rich"] == 0 and r9["phi"] is None
    with pytest.raises(ValueError, match="k must be"):
        rich_club(e, k=-1)


def test_component_sizes_known(spark):
    from combblas_spark.algorithms.features import component_sizes

    # triangle {0,1,2} + edge {3,4} + edge {5,6} -> sizes {3:1, 2:2}
    E = [(0, 1), (1, 2), (2, 0), (3, 4), (5, 6)]
    got = {(r["size"], r["n_components"])
           for r in component_sizes(df_edges(spark, E)).collect()}
    assert got == {(3, 1), (2, 2)}


def test_vertex_features_known(spark):
    from combblas_spark.algorithms.features import vertex_features

    # directed: 0->1, 1->2, 2->0 (triangle), 0->2 (chord dup of und 0-2),
    # 3->4 (pendant pair); duplicates/reverse must not double-count
    E = [(0, 1), (1, 2), (2, 0), (0, 2), (3, 4)]
    rows = {r["id"]: r for r in vertex_features(df_edges(spark, E)).collect()}
    assert set(rows) == {0, 1, 2, 3, 4}
    r0 = rows[0]
    # out: 0->1, 0->2 ; in: 2->0 ; und deg 2; triangle 1; wedge 1; cc=1
    assert (r0["out_deg"], r0["in_deg"], r0["deg"], r0["tri"],
            r0["wedges"], r0["local_cc"]) == (2, 1, 2, 1, 1, 1.0)
    assert (r0["core"], r0["comp"], r0["comp_size"]) == (2, 0, 3)
    r3 = rows[3]
    assert (r3["out_deg"], r3["in_deg"], r3["deg"], r3["tri"]) == (1, 0, 1, 0)
    assert r3["local_cc"] is None and r3["wedges"] == 0
    assert (r3["core"], r3["comp"], r3["comp_size"]) == (1, 3, 2)
    # integer-moment identity: local_cc == round(tri/wedges, 6) wherever defined
    for r in rows.values():
        if r["wedges"] > 0:
            assert r["local_cc"] == round(r["tri"] / r["wedges"], 6)


def test_pagerank_warm_start_continues_power_iteration(spark):
    """initial_ranks=r_k for m more iterations must equal r_{k+m} from
    scratch (the renormalization of an already-sum-1 vector is a no-op
    up to float ulps) — the incremental crawl-refresh contract."""
    from combblas_spark.algorithms.pagerank import pagerank

    E = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 0), (0, 2), (4, 0)]
    g = df_edges(spark, E)
    r5 = pagerank(g, n_iter=5)
    warm = pagerank(g, n_iter=3, initial_ranks=r5)
    cold = pagerank(g, n_iter=8)
    w = {r["id"]: r["rank"] for r in warm.collect()}
    c = {r["id"]: r["rank"] for r in cold.collect()}
    assert set(w) == set(c)
    for i in w:
        assert abs(w[i] - c[i]) < 1e-12


def test_pagerank_warm_start_new_vertices_seed_uniform(spark):
    """Vertices absent from initial_ranks get 1/n before the
    renormalize — the grown-graph case must not NULL out."""
    from combblas_spark.algorithms.pagerank import pagerank

    old = df_edges(spark, [(0, 1), (1, 0)])
    grown = df_edges(spark, [(0, 1), (1, 0), (1, 2), (2, 0)])
    r_old = pagerank(old, n_iter=4)
    r = pagerank(grown, n_iter=2, initial_ranks=r_old)
    rows = {x["id"]: x["rank"] for x in r.collect()}
    assert set(rows) == {0, 1, 2}
    assert all(v is not None and v > 0 for v in rows.values())
    assert abs(sum(rows.values()) - 1.0) < 1e-9


def test_vertex_features_loop_only_vertex(spark):
    """A vertex whose only edge is a self-loop is still an endpoint:
    it must get a (deg 0, its own singleton component) feature row."""
    from combblas_spark.algorithms.features import vertex_features

    rows = {r["id"]: r for r in vertex_features(
        df_edges(spark, [(0, 1), (5, 5)])).collect()}
    assert set(rows) == {0, 1, 5}
    r5 = rows[5]
    assert (r5["out_deg"], r5["in_deg"], r5["deg"], r5["tri"]) == (0, 0, 0, 0)
    assert (r5["comp"], r5["comp_size"]) == (5, 1)
    assert r5["local_cc"] is None


def test_cc_incremental_warm_equals_cold(spark):
    """Grow-only delta: FastSV warm-started from the old labeling must
    reach the identical min-label fixpoint as a cold run."""
    from combblas_spark.algorithms.components import connected_components

    old = df_edges(spark, [(0, 1), (2, 3), (5, 6)])
    # delta merges {0,1} with {2,3} and adds a brand-new vertex 9
    grown = df_edges(spark, [(0, 1), (2, 3), (5, 6), (1, 2), (6, 9)])
    labels_old = connected_components(old)
    warm = {(r["id"], r["comp"]) for r in
            connected_components(grown, initial_labels=labels_old).collect()}
    cold = {(r["id"], r["comp"]) for r in
            connected_components(grown).collect()}
    assert warm == cold
    assert (9, 5) in warm  # new vertex joined the {5,6} component


def test_vertex_features_partition_invariance(spark):
    from combblas_spark.algorithms.features import vertex_features

    E = [(i, (i * 7 + 3) % 23) for i in range(60)] + [(2, 9), (9, 2), (4, 4)]
    e = df_edges(spark, E)
    a = sorted(map(tuple, vertex_features(e).collect()))
    b = sorted(map(tuple, vertex_features(e.repartition(13)).collect()))
    assert a == b


# ----------------------------------------------------------------- MST

def _kruskal(edges):
    """Matroid-greedy MSF under the (w, u, v) total order — the unique
    forest Boruvka must also produce under the same tie-break."""
    canon = {}
    for s, d, w in edges:
        if s == d:
            continue
        u, v = (s, d) if s < d else (d, s)
        if (u, v) not in canon or w < canon[(u, v)]:
            canon[(u, v)] = w
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    out = set()
    for (u, v), w in sorted(canon.items(), key=lambda kv: (kv[1], kv[0])):
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
            out.add((u, v, w))
    return out


def test_mst_known(spark):
    from combblas_spark.algorithms.mst import boruvka_msf

    # two components + a weight tie broken by (w, u, v) + a parallel
    # edge collapsing to its lighter copy
    E = [
        (0, 1, 1.0), (1, 2, 2.0), (0, 2, 2.0),   # tie 2.0: (0,2) beats (1,2)
        (2, 0, 5.0),                              # heavier parallel copy
        (3, 4, 7.0),                              # second component
    ]
    got = {(r["u"], r["v"], r["w"])
           for r in boruvka_msf(df_edges(spark, E)).collect()}
    assert got == {(0, 1, 1.0), (0, 2, 2.0), (3, 4, 7.0)}


def test_mst_matches_kruskal_on_rmat(spark):
    from combblas_spark.algorithms.mst import boruvka_msf
    from combblas_spark.graph import build_graph
    import pyspark.sql.functions as F

    raw = rmat_edges(spark, scale=7, edgefactor=4, seed=17)
    g = build_graph(raw.withColumn("val", ((F.col("src") * 7 + F.col("dst") * 13) % 10 + 1).cast("double")),
                    drop_loops=True, sum_duplicates=False)
    triples = [(r["src"], r["dst"], r["val"]) for r in g.collect()]
    want = _kruskal(triples)
    got = {(r["u"], r["v"], r["w"]) for r in boruvka_msf(g).collect()}
    assert got == want
    # spanning-forest size: |V| - #components
    from combblas_spark.algorithms.components import connected_components
    ncomp = connected_components(g).select("comp").distinct().count()
    nv = len({x for s, d, _ in triples for x in (s, d)})
    assert len(got) == nv - ncomp


def test_mst_partition_invariance(spark):
    from combblas_spark.algorithms.mst import boruvka_msf

    E = [(i, (i * 5 + 2) % 19, float((i * 3) % 7 + 1)) for i in range(40)]
    e = df_edges(spark, E)
    a = sorted(map(tuple, boruvka_msf(e).collect()))
    b = sorted(map(tuple, boruvka_msf(e.repartition(13)).collect()))
    assert a == b


def test_mst_raises_on_round_cap(spark):
    import pytest as _pytest
    from combblas_spark.algorithms.mst import boruvka_msf

    # two mutual-min pairs that only merge in round 2; max_rounds=1
    # must fail loudly, not return a partial forest
    e = df_edges(spark, [(0, 1, 1.0), (2, 3, 1.0), (1, 2, 5.0), (3, 0, 5.0)])
    with _pytest.raises(RuntimeError, match="max_rounds"):
        boruvka_msf(e, max_rounds=1)


# ----------------------------------------------------------------- coloring

def test_coloring_proper_total_deterministic(spark):
    from combblas_spark.algorithms.coloring import jp_coloring
    from combblas_spark.graph import build_graph

    raw = rmat_edges(spark, scale=7, edgefactor=4, seed=23)
    g = build_graph(raw, drop_loops=True, sum_duplicates=True)
    col = jp_coloring(g, seed=42)
    colors = {r["id"]: r["color"] for r in col.collect()}
    verts = {x for r in g.select("src", "dst").collect() for x in (r["src"], r["dst"])}
    assert set(colors) == verts  # total
    for r in g.select("src", "dst").collect():  # proper
        if r["src"] != r["dst"]:
            assert colors[r["src"]] != colors[r["dst"]]
    again = {r["id"]: r["color"]
             for r in jp_coloring(g.repartition(13), seed=42).collect()}
    assert again == colors  # partition-invariant

    import pytest as _pytest
    with _pytest.raises(RuntimeError, match="max_rounds"):
        jp_coloring(g, seed=42, max_rounds=1)


def test_luby_loops_regime_invariant(spark, monkeypatch):
    """The Luby wave (``operators.spmv.local_extrema``) takes its join
    regime from ``broadcastable``: MIS, JP colouring and the min-degree
    ordering return the same rows in the broadcast and the shuffle
    regime."""
    from combblas_spark.algorithms.coloring import jp_coloring
    from combblas_spark.algorithms.mis import maximal_independent_set
    from combblas_spark.algorithms.ordering import min_degree_ordering

    g = build_graph(rmat_edges(spark, scale=6, edgefactor=4, seed=11),
                    drop_loops=True, sum_duplicates=True).persist()
    got = {}
    for regime in regimes(monkeypatch):
        got[regime] = (
            sorted(r["id"] for r in maximal_independent_set(g).collect()),
            sorted(map(tuple, jp_coloring(g).collect())),
            sorted(map(tuple, min_degree_ordering(g).collect())),
        )
    assert got["broadcast"] == got["shuffle"]
    assert got["broadcast"][0] and got["broadcast"][1] and got["broadcast"][2]
    g.unpersist()


def test_local_extrema_broadcast_inflow_bounded(spark, monkeypatch):
    """The inflow a Luby round stitches back holds at most one row per
    candidate, the count its broadcast gate reads: on a star whose only
    candidate is the hub, the hub's 20 non-candidate leaves never reach
    the broadcast inflow. The hub has no candidate neighbour, so it
    wins in both regimes."""
    from combblas_spark.graph import simple_adjacency
    from combblas_spark.operators import spmv as spmv_mod
    from combblas_spark.runtime.plans import small_vector

    seen = []
    real_stitch = spmv_mod.stitch

    def spy(state, inflow, n, broadcast):
        seen.append((inflow.count(), n, broadcast and small_vector(n)))
        return real_stitch(state, inflow, n, broadcast)

    monkeypatch.setattr(spmv_mod, "stitch", spy)
    adj = simple_adjacency(df_edges(spark, [(0, i) for i in range(1, 21)]), "src")
    cand = spark.createDataFrame([(0, 0.5)], "id long, p double")
    for regime in regimes(monkeypatch):
        got = [r["id"] for r in spmv_mod.local_extrema(adj, cand, 1).collect()]
        assert got == [0], regime
    adj.unpersist()
    assert any(b for _, _, b in seen), seen  # the broadcast arm ran
    assert all(rows <= n for rows, n, b in seen if b), seen


# ----------------------------------------------------------------- adamic-adar

def test_adamic_adar_known(spark):
    import math

    from combblas_spark.algorithms.linkpred import adamic_adar

    # star center 0 over {1,2,3} plus edge 1-2: candidate pairs through
    # center 0 are (1,2),(1,3),(2,3); (1,2) is an existing edge -> out;
    # wedges through 1 and 2 (deg 2 each) add to (0-side pairs only)
    E = [(0, 1), (0, 2), (0, 3), (1, 2)]
    got = {(r["a"], r["b"]): (r["cn"], r["aa"])
           for r in adamic_adar(df_edges(spark, E), min_common=1,
                                max_center_degree=None).collect()}
    w3, w2 = 1 / math.log(3), 1 / math.log(2)
    assert set(got) == {(1, 3), (2, 3)}
    assert got[(1, 3)][0] == 1 and abs(got[(1, 3)][1] - round(w3, 6)) < 1e-9
    assert got[(2, 3)][0] == 1 and abs(got[(2, 3)][1] - round(w3, 6)) < 1e-9
    # cap=2 removes center 0 (deg 3): no wedge can see both ends of any
    # non-adjacent pair -> empty
    assert adamic_adar(df_edges(spark, E), min_common=1,
                       max_center_degree=2).count() == 0
    # min_common=2: a 4-cycle 0-1-2-3-0 gives (0,2) and (1,3) two
    # common neighbors each
    C = [(0, 1), (1, 2), (2, 3), (3, 0)]
    got2 = {(r["a"], r["b"]): r["cn"]
            for r in adamic_adar(df_edges(spark, C), min_common=2,
                                 max_center_degree=None).collect()}
    assert got2 == {(0, 2): 2, (1, 3): 2}


# ----------------------------------------------------------------- delta-stepping

def test_delta_stepping_equals_bellman_ford(spark, monkeypatch):
    import pyspark.sql.functions as F
    import pytest as _pytest

    from combblas_spark.algorithms.sssp import delta_stepping_sssp, sssp
    from combblas_spark.graph import build_graph

    raw = rmat_edges(spark, scale=7, edgefactor=4, seed=29)
    g = build_graph(raw.withColumn(
        "val", ((F.col("src") * 11 + F.col("dst") * 3) % 9 + 1).cast("double")),
        drop_loops=True, sum_duplicates=False)
    want = {(r["id"], round(r["dist"], 9)) for r in sssp(g, root=0).collect()}
    for regime in regimes(monkeypatch):
        for delta in (1.0, 4.0, 100.0):
            got = {(r["id"], round(r["dist"], 9))
                   for r in delta_stepping_sssp(g, root=0, delta=delta).collect()}
            assert got == want, f"{regime} delta={delta}"

    # undirected variant agrees too
    wu = {(r["id"], round(r["dist"], 9))
          for r in sssp(g, root=0, directed=False).collect()}
    gu = {(r["id"], round(r["dist"], 9))
          for r in delta_stepping_sssp(g, root=0, delta=3.0,
                                       directed=False).collect()}
    assert gu == wu

    with _pytest.raises(ValueError, match="delta"):
        delta_stepping_sssp(g, root=0, delta=0.0)
    bad = df_edges(spark, [(0, 1, 0.0)])
    with _pytest.raises(ValueError, match="weights"):
        delta_stepping_sssp(bad, root=0, delta=1.0)


def test_delta_stepping_known_and_bucket_schedule(spark):
    from combblas_spark.algorithms.sssp import delta_stepping_sssp

    # path with one heavy shortcut: 0-1-2 light (1+1), 0->2 heavy (5)
    e = df_edges(spark, [(0, 1, 1.0), (1, 2, 1.0), (0, 2, 5.0)])
    m = []
    got = {r["id"]: r["dist"]
           for r in delta_stepping_sssp(e, root=0, delta=2.0,
                                        metrics=m).collect()}
    assert got == {0: 0.0, 1: 1.0, 2: 2.0}
    # pin the SCHEDULE, not just the fixpoint: buckets are processed in
    # non-decreasing order, exactly buckets {0, 1} are visited (0 and 1
    # settle in bucket 0, vertex 2 at dist 2.0 in bucket 1), and the
    # heavy 0->2=5 edge never wins
    seq = [x["bucket"] for x in m]
    assert seq == sorted(seq) and set(seq) == {0, 1}, seq


def test_coloring_and_mis_ignore_self_loops(spark):
    """Self-loops must not make a vertex its own neighbor (r4 review):
    a loop vertex previously never won a wave/round and the loud cap
    fired on a perfectly colorable graph."""
    from combblas_spark.algorithms.coloring import jp_coloring
    from combblas_spark.algorithms.mis import maximal_independent_set

    e = df_edges(spark, [(0, 0, 1.0), (1, 2, 1.0), (3, 3, 1.0)])
    colors = {r["id"]: r["color"] for r in jp_coloring(e, seed=42).collect()}
    assert set(colors) == {0, 1, 2, 3}       # loop-only vertices colored
    assert colors[1] != colors[2]
    mis = {r["id"] for r in maximal_independent_set(e, seed=42).collect()}
    assert {0, 3} <= mis                      # loop-only vertices in MIS
    assert not ({1, 2} <= mis)                # 1-2 edge still respected
    assert len(mis) == 3


def test_delta_stepping_max_buckets_boundary_no_false_raise(spark):
    """A graph whose highest bucket index is exactly max_buckets-1 is
    complete, not a failure (r4 review: the while/else raised on it)."""
    from combblas_spark.algorithms.sssp import delta_stepping_sssp

    path = df_edges(spark, [(i, i + 1, 1.0) for i in range(5)])
    got = {r["id"]: r["dist"]
           for r in delta_stepping_sssp(path, root=0, delta=1.0,
                                        max_buckets=6).collect()}
    assert got == {i: float(i) for i in range(6)}


def test_pagerank_batch_matches_single_seed(spark, monkeypatch):
    """pagerank_batch: each array component equals the single-seed
    pagerank(teleport=...) run to the same fixed iteration count
    (bit-level in the broadcast regime, both sides are the same double
    recurrence; within 1e-12 in the shuffle regime, where the SpMV sums
    arrive in a different order). Graph has a dangling vertex so the
    per-seed dangling redistribution is covered."""
    from combblas_spark.algorithms.pagerank import pagerank, pagerank_batch

    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (1, 3)]
    e = df_edges(spark, edges)
    seeds = [0, 2, 3]
    for regime in regimes(monkeypatch):
        bmax = plans.BROADCAST_MAX_VERTICES
        batch = {(r["seed"], r["id"]): r["rank"]
                 for r in pagerank_batch(e, seeds, n_iter=8).collect()}
        assert len(batch) == 4 * len(seeds)
        for s in seeds:
            tele = spark.createDataFrame([(s, 1.0)], ["id", "t"])
            single = {r["id"]: r["rank"]
                      for r in pagerank(e, n_iter=8, tol=None, teleport=tele,
                                        broadcast_max_vertices=bmax).collect()}
            for v, rk in single.items():
                if regime == "broadcast":
                    assert batch[(s, v)] == rk
                else:
                    assert abs(batch[(s, v)] - rk) < 1e-12


def test_pagerank_batch_validates_seeds(spark):
    import pytest as _pytest

    from combblas_spark.algorithms.pagerank import pagerank_batch

    e = df_edges(spark, [(0, 1), (1, 0)])
    with _pytest.raises(ValueError, match="non-empty"):
        pagerank_batch(e, [])
    with _pytest.raises(ValueError, match="duplicate"):
        pagerank_batch(e, [0, 0])
    with _pytest.raises(ValueError, match="not in the graph"):
        pagerank_batch(e, [0, 99])


def test_butterflies(spark):
    """K_{2,2} closes exactly one butterfly; a random directed graph
    matches a pure-python wedge count; the hub cap drops wedges through
    capped destinations; duplicate edges and loops are ignored."""
    from itertools import combinations

    from combblas_spark.algorithms.butterflies import butterflies

    def df_e(pairs):
        return spark.createDataFrame(
            [(a, b, 1.0) for a, b in pairs], "src long, dst long, val double")

    k22 = [(0, 2), (0, 3), (1, 2), (1, 3), (0, 2), (2, 2)]
    got = {r["id"]: r["butterflies"] for r in butterflies(df_e(k22)).collect()}
    assert got == {0: 1, 1: 1, 2: 0, 3: 0}

    rng = np.random.default_rng(7)
    pairs = {(int(a), int(b)) for a, b in rng.integers(0, 12, (60, 2)) if a != b}
    outs = {}
    for a, b in pairs:
        outs.setdefault(a, set()).add(b)
    verts = {v for e in pairs for v in e}
    want = {v: 0 for v in verts}
    for s1, s2 in combinations(sorted(outs), 2):
        c = len(outs[s1] & outs[s2])
        if c >= 2:
            bf = c * (c - 1) // 2
            want[s1] += bf
            want[s2] += bf
    got = {r["id"]: r["butterflies"]
           for r in butterflies(df_e(sorted(pairs))).collect()}
    assert got == want

    # capping: in-degree-1 cap leaves no shared destinations at all
    got_cap = {r["id"]: r["butterflies"]
               for r in butterflies(df_e(sorted(pairs)), max_in_degree=1).collect()}
    assert set(got_cap) == verts and all(v == 0 for v in got_cap.values())


def test_greedy_modularity(spark):
    """Two disjoint triangles: after the round-1 synchronous swap each
    triangle collapses onto its min-id community in round 2 (hand-
    simulated: round 1 sends 0->1,1->0,2->0; round 2 resolves to all-0).
    Loops and duplicate edges are ignored."""
    from combblas_spark.algorithms.labelprop import greedy_modularity

    e = [(0, 1), (1, 2), (2, 0), (10, 11), (11, 12), (12, 10),
         (0, 0), (1, 2)]
    df = spark.createDataFrame(
        [(a, b, 1.0) for a, b in e], "src long, dst long, val double")
    got = {r["id"]: r["community"]
           for r in greedy_modularity(df, n_rounds=2).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 10: 10, 11: 10, 12: 10}, got


def test_hyperball_harmonic(spark, monkeypatch):
    """hyperball_harmonic matches an independent pure-python replica of
    the FM sketch pipeline (md5 seeds, ball ORs, lzb estimate, 1/h
    fold) on a small graph with a loop-only vertex (score 0), in both
    superstep regimes."""
    import hashlib
    import math

    from combblas_spark.algorithms.anf import PHI_FM, hyperball_harmonic

    E = [(0, 1), (1, 2), (2, 3), (3, 4), (9, 9)]
    df = spark.createDataFrame(
        [(a, b, 1.0) for a, b in E], "src long, dst long, val double")
    K, RB, SEED, HOPS = 4, 24, 42, 3
    cap = 1 << (RB - 1)
    adj = {}
    verts = set()
    for a, b in E:
        verts |= {a, b}
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)

    def mask(v, j):
        u = int(hashlib.md5(f"{SEED}:{j}:{v}".encode()).hexdigest()[:8], 16)
        low = u & -u
        return cap if low == 0 else min(low, cap)

    def est(ms):
        tot = 0
        for m in ms:
            tot += int(math.log2((~m) & (m + 1)))
        return (2.0 ** (tot / float(K))) / PHI_FM

    state = {v: [mask(v, j) for j in range(K)] for v in verts}
    prev = {v: est(state[v]) for v in verts}
    acc = {v: 0.0 for v in verts}
    for h in range(1, HOPS + 1):
        new = {v: list(ms) for v, ms in state.items()}
        for v in verts:
            for n in adj.get(v, ()):
                for j in range(K):
                    new[v][j] |= state[n][j]
        state = new
        for v in verts:
            e = est(state[v])
            acc[v] = acc[v] + (e - prev[v]) / float(h)
            prev[v] = e
    want = {v: round(acc[v], 6) for v in verts}
    for regime in regimes(monkeypatch):
        got = {r["id"]: r["harmonic_est"]
               for r in hyperball_harmonic(df, hops=HOPS, k=K, r_bits=RB,
                                           seed=SEED).collect()}
        assert got == want, (regime, got, want)
        assert got[9] == 0.0  # loop-only vertex: ball never grows


def _py_densest(E, eps=0.5):
    """Pure-python replica of the batched Charikar peel: returns
    (member set, round, n, m, density)."""
    adj = _undirected_adj(E)
    alive = set(adj)
    best = None
    r = 0
    while alive:
        degs = {v: len(adj[v] & alive) for v in alive}
        sum_d = sum(degs.values())
        density = 0.5 * sum_d / len(alive)
        if best is None or density > best[4]:
            best = (set(alive), r, len(alive), sum_d // 2, density)
        if sum_d == 0:
            break
        thr = (1.0 + eps) * sum_d / len(alive)
        alive = {v for v in alive if degs[v] > thr}
        r += 1
    return best


def test_densest_subgraph_vs_python_peel(spark, monkeypatch):
    from combblas_spark.algorithms.densest import densest_subgraph

    for regime in regimes(monkeypatch):
        for seed in (3, 11, 19):
            E = _rand_directed_edges(seed, n=18, m=60)
            rows = densest_subgraph(df_edges(spark, E)).collect()
            want_set, want_r, want_n, want_m, want_rho = _py_densest(E)
            case = (regime, seed)
            assert {r["id"] for r in rows} == want_set, case
            assert all(r["round"] == want_r and r["n"] == want_n
                       and r["m"] == want_m for r in rows), case
            # output column carries the 6dp-rounded density
            assert all(abs(r["density"] - want_rho) < 1e-6 for r in rows), case


def test_densest_subgraph_finds_planted_clique(spark):
    """K6 planted on a long path: the densest snapshot is exactly the
    clique (density 2.5 beats every path-heavy prefix)."""
    from combblas_spark.algorithms.densest import densest_subgraph

    clique = [(i, j) for i in range(6) for j in range(i + 1, 6)]
    path = [(100 + i, 101 + i) for i in range(40)] + [(5, 100)]
    rows = densest_subgraph(df_edges(spark, clique + path)).collect()
    assert {r["id"] for r in rows} == set(range(6))
    assert rows[0]["density"] == 2.5 and rows[0]["m"] == 15


def test_densest_subgraph_edge_cases(spark):
    from combblas_spark.algorithms.densest import densest_subgraph

    empty = spark.createDataFrame([], "src long, dst long, val double")
    assert densest_subgraph(empty).count() == 0
    # self-loops only: de-looped graph is edgeless -> density 0, round 0
    loops = df_edges(spark, [(1, 1), (2, 2)])
    rows = densest_subgraph(loops).collect()
    assert {r["id"] for r in rows} == {1, 2}
    assert rows[0]["density"] == 0.0 and rows[0]["round"] == 0
    # K6 + path needs two peel rounds (path first, then the clique)
    clique = [(i, j) for i in range(6) for j in range(i + 1, 6)]
    path = [(100 + i, 101 + i) for i in range(40)] + [(5, 100)]
    with pytest.raises(RuntimeError, match="densest_subgraph did not finish"):
        densest_subgraph(df_edges(spark, clique + path), max_rounds=1)


def test_community_graph_contraction(spark):
    """Louvain aggregation: condensed weights match a python contraction
    and conserve the undirected edge total (diagonal = internal)."""
    from combblas_spark.algorithms.labelprop import (
        community_graph, greedy_modularity)

    E = _rand_directed_edges(7, n=16, m=50)
    e = df_edges(spark, E)
    labels = {r["id"]: r["community"]
              for r in greedy_modularity(e, n_rounds=2).collect()}
    und = {(min(s, d), max(s, d)) for s, d in E if s != d}
    want = {}
    for u, v in und:
        key = tuple(sorted((labels[u], labels[v])))
        want[key] = want.get(key, 0) + 1
    lab_df = spark.createDataFrame(
        [(k, v) for k, v in labels.items()], "id long, community long")
    got = {(r["c_a"], r["c_b"]): r["weight"]
           for r in community_graph(e, lab_df).collect()}
    assert got == want
    assert sum(got.values()) == len(und)  # contraction conserves edges


def test_fastrp_matches_dense_numpy_twin_exactly(spark, monkeypatch):
    import hashlib
    import numpy as np
    from combblas_spark.algorithms.embeddings import fastrp

    edges = df_edges(spark, [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 2), (0, 3)])
    d, K, seed = 4, 3, 17
    ids = [0, 1, 2, 3, 4]
    n = len(ids)
    A = np.zeros((n, n), dtype=np.int64)  # A[v][u]=count of u->v (in-links)
    for s, dst in [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 2), (0, 3)]:
        A[ids.index(dst)][ids.index(s)] += 1
    R = np.array([[
        {0: 1, 1: -1}.get(int(hashlib.md5(f"{v}:{j}:{seed}".encode())
                              .hexdigest()[:8], 16) % 4, 0)
        for j in range(d)] for v in ids], dtype=np.int64)
    x, acc = R, np.zeros_like(R)
    for k in range(1, K + 1):
        x = A @ x
        acc += (1 << (K - k)) * x
    for regime in regimes(monkeypatch):
        got = {r["id"]: [r[f"e{j}"] for j in range(d)]
               for r in fastrp(edges, d=d, n_iter=K, seed=seed).collect()}
        assert sorted(got) == ids, regime
        for i, v in enumerate(ids):
            assert got[v] == acc[i].tolist(), f"{regime} vertex {v}"


def test_fastrp_l2_normalized_and_validation(spark):
    import math
    import pytest
    from combblas_spark.algorithms.embeddings import fastrp

    edges = df_edges(spark, [(0, 1), (1, 2), (2, 0)])
    rows = fastrp(edges, d=6, n_iter=2, l2_normalized=True).collect()
    for r in rows:
        vec = [r[f"e{j}"] for j in range(6)]
        nrm = math.sqrt(sum(v * v for v in vec))
        assert nrm == 0.0 or abs(nrm - 1.0) < 1e-4
    with pytest.raises(ValueError):
        fastrp(edges, d=0)
    with pytest.raises(ValueError):
        fastrp(edges, n_iter=0)
    # the int64 magnitude guard is WORST-CASE (ADVICE r4): even at max
    # in-degree 1 the level mix bounds |e_j| by 2^K - 1, so n_iter=70
    # trips 2^63 -> strict raises before running; overflow_check="off"
    # is the documented escape hatch (review r5) and a bogus value is
    # rejected
    with pytest.raises(ValueError, match="overflow"):
        fastrp(edges, n_iter=70)
    with pytest.raises(ValueError, match="overflow_check"):
        fastrp(edges, overflow_check="maybe")
    assert fastrp(edges, d=2, n_iter=2, overflow_check="off").count() == 3


def test_louvain_level1_equals_greedy_modularity(spark):
    from combblas_spark.algorithms.labelprop import greedy_modularity, louvain

    edges = df_edges(spark, [(0, 1), (1, 2), (2, 0), (3, 4), (4, 5), (5, 3), (2, 3),
                             (6, 0), (6, 1)])
    a = sorted(map(tuple, greedy_modularity(edges, n_rounds=2).collect()))
    b = sorted(map(tuple, louvain(edges, n_levels=1, n_rounds=2).collect()))
    assert a == b


def test_louvain_merges_bridged_cliques_and_preserves_weight(spark):
    import pytest
    from pyspark.sql import functions as F
    from combblas_spark.algorithms.labelprop import (
        louvain, _contract_weighted, greedy_modularity)

    # two 4-cliques joined by one bridge; a 2-level run must put each
    # clique in ONE community and keep the cliques apart.
    c1 = [(a, b) for a in range(4) for b in range(4) if a < b]
    c2 = [(a + 10, b + 10) for a in range(4) for b in range(4) if a < b]
    edges = df_edges(spark, c1 + c2 + [(3, 10)])
    got = {r["id"]: r["community"]
           for r in louvain(edges, n_levels=2, n_rounds=2).collect()}
    left = {got[v] for v in range(4)}
    right = {got[v + 10] for v in range(4)}
    assert len(left) == 1 and len(right) == 1 and left != right

    # contraction preserves total edge weight: sum(w)/2 + sum(lw) == m
    fwd = edges.select("src", "dst").where(F.col("src") != F.col("dst"))
    sym = (fwd.unionByName(fwd.select(F.col("dst").alias("src"),
                                      F.col("src").alias("dst")))
           .distinct().withColumn("w", F.lit(1).cast("long")))
    m = sym.count() // 2
    labels = greedy_modularity(edges, n_rounds=2) \
        .select("id", F.col("community").alias("c"))
    nsym, nloops = _contract_weighted(sym, None, labels)
    half = (nsym.agg(F.sum("w")).collect()[0][0] or 0) // 2
    lw = nloops.agg(F.sum("lw")).collect()[0][0] or 0
    assert half + lw == m

    with pytest.raises(ValueError):
        louvain(edges, n_levels=0)


def test_robustness_curve_monotone_and_edge_cases(spark):
    import pytest
    from combblas_spark.algorithms.components import robustness_curve

    # ring of 30 + a few chords: connected at keep=1000, fragments below
    ring = [(i, (i + 1) % 30) for i in range(30)]
    edges = df_edges(spark, ring + [(0, 15), (5, 20)])
    rows = {r["keep_permille"]: r
            for r in robustness_curve(edges, levels=(0, 400, 1000)).collect()}
    # keep=0: no edges, every vertex a singleton
    assert rows[0]["n_edges"] == 0
    assert rows[0]["n_components"] == 30 and rows[0]["giant_size"] == 1
    # keep=1000: the full graph, one component
    assert rows[1000]["n_edges"] == 32
    assert rows[1000]["n_components"] == 1 and rows[1000]["giant_size"] == 30
    # monotone in the keep rate: more edges, fewer-or-equal components,
    # bigger-or-equal giant
    assert 0 <= rows[400]["n_edges"] <= 32
    assert 1 <= rows[400]["n_components"] <= 30
    assert rows[400]["giant_size"] <= 30
    assert rows[400]["n_components"] >= rows[1000]["n_components"]
    assert rows[400]["giant_size"] >= rows[0]["giant_size"]
    with pytest.raises(ValueError):
        robustness_curve(edges, levels=())
    with pytest.raises(ValueError):
        robustness_curve(edges, levels=(1500,))


def test_topic_hits_base_set_restriction(spark):
    import pytest
    from combblas_spark.algorithms.hits import topic_hits

    # hub 0 is the unique top-in-degree root (1,2,3 -> 0); 0 -> 4; the
    # far pair 8 <-> 9 touches no root and must stay OUT of the base set.
    edges = df_edges(spark, [(1, 0), (2, 0), (3, 0), (0, 4), (8, 9), (9, 8)])
    rows = topic_hits(edges, n_roots=1, d=10, n_iter=3).collect()
    ids = {r["id"] for r in rows}
    assert ids == {0, 1, 2, 3, 4}
    by = {r["id"]: r for r in rows}
    assert by[0]["auth"] > 0  # the root is the authority
    assert by[1]["hub"] > 0   # its in-neighbors are hubs
    # in-neighbor cap: with d=1 only the smallest in-neighbor (1) stays
    capped = {r["id"] for r in topic_hits(edges, n_roots=1, d=1,
                                          n_iter=2).collect()}
    assert capped == {0, 1, 4}
    with pytest.raises(ValueError):
        topic_hits(edges, n_roots=0)


def test_seventh_session_ops_partition_invariance(spark):
    """This session's new operators are partitioning-invariant:
    identical rows regardless of how the input is partitioned (the
    determinism contract the north rule's resumability rests on)."""
    from pyspark.sql import functions as F
    from combblas_spark.algorithms.embeddings import fastrp
    from combblas_spark.algorithms.labelprop import louvain
    from combblas_spark.algorithms.components import robustness_curve
    from combblas_spark.algorithms.hits import topic_hits

    E = [(i, (i * 7 + 3) % 23) for i in range(60) if i != (i * 7 + 3) % 23]
    e1 = df_edges(spark, E)
    e2 = e1.repartition(11)
    for name, fn in (
        ("fastrp", lambda d: fastrp(d, d=4, n_iter=2)),
        ("louvain", lambda d: louvain(d, n_levels=2, n_rounds=2)),
        ("louvain_weighted", lambda d: louvain(d, n_levels=2, n_rounds=1,
                                               weighted=True)),
        ("robustness", lambda d: robustness_curve(d, levels=(300, 700))),
        ("topic_hits", lambda d: topic_hits(d, n_roots=2, d=5, n_iter=2)
         .select("id", F.round("hub", 6).alias("h"),
                 F.round("auth", 6).alias("a"))),
    ):
        a = sorted(map(tuple, fn(e1).collect()))
        b = sorted(map(tuple, fn(e2).collect()))
        assert a == b and a, name


def test_seventh_session_text_ops_partition_invariance(spark):
    from combblas_spark.functions.text import (lang_id_ngram, phrase_search,
                                               readability)
    from combblas_spark.functions.dedup import cdc_chunks, chunk_dedup_pairs

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{(i * j + j) % 13}tok" for j in range(40))
          + (" the rain in spain." if i % 3 == 0 else " und der wind."))
         for i in range(12)],
        "doc_id long, text string")
    d2 = docs.repartition(5)
    for name, fn in (
        ("lang_id_ngram", lang_id_ngram),
        ("phrase_search", lambda d: phrase_search(d, "the rain")),
        ("readability", readability),
        ("cdc_chunks", lambda d: cdc_chunks(d, mod=8)),
        ("chunk_dedup", lambda d: chunk_dedup_pairs(d, mod=8, min_shared=1)),
    ):
        a = sorted(map(tuple, fn(docs).collect()))
        b = sorted(map(tuple, fn(d2).collect()))
        assert a == b and a, name


def test_landmark_distances_and_estimate(spark):
    import pytest
    from combblas_spark.algorithms.closeness import (landmark_distances,
                                                     landmark_estimate)

    # path 0-1-2-3-4 plus hub 2 connected to 5,6: top-degree landmark is 2
    E = [(0, 1), (1, 2), (2, 3), (3, 4), (2, 5), (2, 6)]
    sk = landmark_distances(df_edges(spark, E), n_landmarks=1)
    rows = {(r["lm"], r["id"]): r["dist"] for r in sk.collect()}
    assert all(lm == 2 for lm, _ in rows)          # hub picked
    assert rows[(2, 2)] == 0 and rows[(2, 0)] == 2 and rows[(2, 4)] == 2
    # estimate = d(u,2)+d(2,v): upper bound, exact through the landmark
    est = {(r["id_a"], r["id_b"]): r["est"]
           for r in landmark_estimate(sk).collect()}
    assert est[(0, 4)] == 4          # true distance 4, path passes lm
    assert est[(3, 4)] == 3          # true 1 — upper bound via lm (1+2)
    assert est[(0, 4)] >= 4          # never an underestimate
    # two landmarks tighten: add landmark 3 (or tie-broken pick)
    sk2 = landmark_distances(df_edges(spark, E), n_landmarks=3)
    est2 = {(r["id_a"], r["id_b"]): r["est"]
            for r in landmark_estimate(sk2).collect()}
    assert est2[(3, 4)] <= est[(3, 4)]   # more landmarks never worsen
    with pytest.raises(ValueError):
        landmark_distances(df_edges(spark, E), n_landmarks=0)


def test_landmark_max_hops_cap(spark):
    from combblas_spark.algorithms.closeness import landmark_distances

    # path 0-1-...-9: cap at 3 hops -> no dist beyond 3 (the documented
    # oracle-twin contract; default cap 40 matches the recursive CTE)
    E = [(i, i + 1) for i in range(9)]
    sk = landmark_distances(df_edges(spark, E), n_landmarks=1, max_hops=3)
    ds = [r["dist"] for r in sk.collect()]
    # landmark = 1 (smallest deg-2 id): reaches 0 and 2,3,4 within 3 hops
    assert max(ds) == 3 and len(ds) == 5


def test_weighted_triangle_intensity(spark):
    from pyspark.sql import functions as F
    from combblas_spark.algorithms.triangles import (
        weighted_triangle_intensity, triangles_per_vertex)

    # triangle {0,1,2} with weights 2,3,5 (+ a reverse duplicate on
    # 0-1 making its undirected weight 2+4=6) and a pendant 3
    edges = spark.createDataFrame(
        [(0, 1, 2.0), (1, 0, 4.0), (1, 2, 3.0), (2, 0, 5.0), (2, 3, 1.0)],
        "src long, dst long, val double")
    got = {r["id"]: r["tri_w"]
           for r in weighted_triangle_intensity(edges).collect()}
    # one triangle, product 6*3*5 = 90 at each corner; pendant 0
    assert got == {0: 90, 1: 90, 2: 90, 3: 0}
    # unit weights on a one-direction edge list (undirected weight 1
    # per pair — a reciprocal duplicate would legitimately weight 2)
    # reduce to plain triangle counts
    unit = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 1.0), (2, 0, 1.0), (2, 3, 1.0)],
        "src long, dst long, val double")
    w1 = {r["id"]: r["tri_w"]
          for r in weighted_triangle_intensity(unit).collect()}
    tc = {r["id"]: r["tri"] for r in triangles_per_vertex(unit).collect()}
    assert all(w1[i] == tc.get(i, 0) for i in w1)
