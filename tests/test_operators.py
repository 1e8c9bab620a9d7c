"""Operator unit tests vs scipy/numpy oracles on the A_small fixture
(FIXTURES.md §3 — the analogue of the reference's golden-file CTest
suite, ReleaseTests/CMakeLists.txt:44-61)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from combblas_spark.operators.semiring import PLUS_TIMES, MIN_PLUS, SELECT2ND_MIN
from combblas_spark.operators.spmv import spmv
from combblas_spark.operators.spgemm import spgemm, square, masked_spgemm
from combblas_spark.operators.ewise import (
    apply_values, prune, ewise_mult, set_difference, ewise_apply, dim_apply,
    prune_rows_cols, prune_column,
)
from combblas_spark.operators.reduce import (
    reduce_dim, reduce_scalar, kselect, load_imbalance, bandwidth, min_element,
    masked_reduce,
)
from combblas_spark.operators.indexing import (
    transpose, remove_loops, add_loops, subsref, spasgn, vector_subsref,
    vector_assign, vector_extract, invert, rand_perm, uniq, setminus,
    induced_subgraphs,
)
from tests.conftest import df_edges, df_vec

N = 60
RNG = np.random.default_rng(42)


def _rand_sparse(n, density, seed):
    """Dense numpy matrix with ~density fill, integer-ish values (scipy
    is not in the container; numpy dense stands in at n=60)."""
    rng = np.random.default_rng(seed)
    M = np.where(rng.random((n, n)) < density, np.round(rng.random((n, n)) * 10) + 1.0, 0.0)
    return M


@pytest.fixture(scope="module")
def A_np():
    return _rand_sparse(N, 0.1, 42)


@pytest.fixture(scope="module")
def A_df(spark, A_np):
    r, c = np.nonzero(A_np)
    return df_edges(spark, list(zip(r.tolist(), c.tolist(), A_np[r, c].tolist())))


@pytest.fixture(scope="module")
def x_np():
    return np.round(RNG.random(N) * 10) + 1.0


@pytest.fixture(scope="module")
def x_df(spark, x_np):
    return df_vec(spark, list(enumerate(x_np.tolist())))


def vec_of(df, n, default=0.0, val="val"):
    out = np.full(n, default, dtype=float)
    for r in df.collect():
        out[r["id"]] = r[val]
    return out


def mat_of(df, n):
    M = np.zeros((n, n))
    for r in df.collect():
        M[r["src"], r["dst"]] = r["val"]
    return M


def test_spmv_plus_times_is_ATx(A_df, A_np, x_np):
    # default orientation: y(dst) = sum over src  ->  y = A^T x
    y = vec_of(spmv(A_df, df_vec(A_df.sparkSession, list(enumerate(x_np))), PLUS_TIMES), N)
    np.testing.assert_allclose(y, A_np.T @ x_np, rtol=1e-12)


def test_spmv_transpose_is_Ax(A_df, A_np, x_df, x_np):
    y = vec_of(spmv(A_df, x_df, PLUS_TIMES, transpose=True), N)
    np.testing.assert_allclose(y, A_np @ x_np, rtol=1e-12)


def test_spmv_min_plus(A_df, A_np, x_df, x_np):
    y = spmv(A_df, x_df, MIN_PLUS)
    dense = A_np
    expect = {}
    for j in range(N):
        vals = [dense[i, j] + x_np[i] for i in range(N) if dense[i, j] != 0]
        if vals:
            expect[j] = min(vals)
    got = {r["id"]: r["val"] for r in y.collect()}
    assert got.keys() == expect.keys()
    for k in expect:
        assert got[k] == pytest.approx(expect[k])


def test_spmv_sparse_frontier_select2nd_min(A_df, A_np):
    frontier = df_vec(A_df.sparkSession, [(3, 3.0), (7, 7.0)])
    y = {r["id"]: r["val"] for r in spmv(A_df, frontier, SELECT2ND_MIN, broadcast_vector=True).collect()}
    dense = A_np
    expect = {}
    for s, v in [(3, 3.0), (7, 7.0)]:
        for j in np.nonzero(dense[s])[0]:
            expect[j] = min(expect.get(j, np.inf), v)
    assert y == {int(k): pytest.approx(v) for k, v in expect.items()}


def test_spmv_index_is_value(A_df, A_np):
    frontier = df_vec(A_df.sparkSession, [(3, 99.0)])  # val ignored
    y = {r["id"]: r["val"] for r in spmv(A_df, frontier, SELECT2ND_MIN, index_is_value=True).collect()}
    for k, v in y.items():
        assert v == 3.0


def test_spgemm_matches_scipy(A_df, A_np):
    C = mat_of(spgemm(A_df, A_df), N)
    np.testing.assert_allclose(C, A_np @ A_np, rtol=1e-12)


def test_square(A_df, A_np):
    C = mat_of(square(A_df), N)
    np.testing.assert_allclose(C, A_np @ A_np, rtol=1e-12)


def test_masked_spgemm(A_df, A_np):
    C = masked_spgemm(A_df, A_df, A_df)
    expect = A_np @ A_np * (A_np != 0)
    np.testing.assert_allclose(mat_of(C, N), expect, rtol=1e-12)


def test_apply_prune(A_df, A_np):
    doubled = mat_of(apply_values(A_df, lambda c: c * 2), N)
    np.testing.assert_allclose(doubled, A_np * 2)
    pruned = mat_of(prune(A_df, F.col("val") > 5.0).withColumn("val", F.col("val")), N)
    expect = A_np.copy()
    expect[expect > 5.0] = 0
    np.testing.assert_allclose(pruned, expect)


def test_prune_rows_cols(spark, A_df, A_np):
    ri = spark.createDataFrame([(1,), (2,)], "id long")
    ci = spark.createDataFrame([(3,), (4,)], "id long")
    got_and = mat_of(prune_rows_cols(A_df, ri, ci).withColumn("val", F.col("val")), N)
    expect = A_np.copy()
    expect[np.ix_([1, 2], [3, 4])] = 0
    np.testing.assert_allclose(got_and, expect)
    got_or = mat_of(prune_rows_cols(A_df, ri, ci, full=True), N)
    expect2 = A_np.copy()
    expect2[[1, 2], :] = 0
    expect2[:, [3, 4]] = 0
    np.testing.assert_allclose(got_or, expect2)


def test_prune_column(spark, A_df, A_np):
    colmax = reduce_dim(A_df, "col", F.max)
    kept = prune_column(A_df, colmax, lambda v, p: v >= p)
    dense = A_np
    mx = dense.max(axis=0)
    expect = dense * (dense >= mx[None, :]) * (dense != 0)
    np.testing.assert_allclose(mat_of(kept, N), expect)


def test_ewise_mult_and_exclude(A_df, A_np, spark):
    B_np = _rand_sparse(N, 0.1, 7)
    r, c = np.nonzero(B_np)
    B_df = df_edges(spark, list(zip(r.tolist(), c.tolist(), B_np[r, c].tolist())))
    got = mat_of(ewise_mult(A_df, B_df), N)
    np.testing.assert_allclose(got, A_np * B_np, rtol=1e-12)
    excl = mat_of(ewise_mult(A_df, B_df, exclude=True), N)
    expect = A_np * (B_np == 0)
    np.testing.assert_allclose(excl, expect)
    sd = mat_of(set_difference(A_df, B_df), N)
    np.testing.assert_allclose(sd, expect)


def test_ewise_apply_union_intersect(spark):
    a = df_vec(spark, [(0, 1.0), (1, 2.0), (2, 3.0)])
    b = df_vec(spark, [(1, 10.0), (2, 20.0), (3, 30.0)])
    inter = {r["id"]: r["val"] for r in ewise_apply(a, b, lambda x, y: x + y).collect()}
    assert inter == {1: 12.0, 2: 23.0}
    union = {r["id"]: r["val"] for r in
             ewise_apply(a, b, lambda x, y: x + y, True, True, 0.0, 0.0).collect()}
    assert union == {0: 1.0, 1: 12.0, 2: 23.0, 3: 30.0}
    kept = {r["id"]: r["val"] for r in
            ewise_apply(a, b, lambda x, y: x + y, True, True, 0.0, 0.0,
                        keep=lambda x, y: y > 15.0).collect()}
    assert kept == {2: 23.0, 3: 30.0}


def test_dim_apply_colstochastic(A_df, A_np):
    colsums = reduce_dim(A_df, "col", F.sum)
    norm = dim_apply(A_df, colsums, "col", lambda v, s: v / s)
    M = mat_of(norm, N)
    nz_cols = np.array((A_np.sum(axis=0) != 0))
    np.testing.assert_allclose(M.sum(axis=0)[nz_cols], 1.0, rtol=1e-9)


def test_reduce_dim(A_df, A_np):
    rows = vec_of(reduce_dim(A_df, "row", F.sum), N)
    np.testing.assert_allclose(rows, A_np.sum(axis=1))
    cols = vec_of(reduce_dim(A_df, "col", F.max), N)
    dense = A_np
    np.testing.assert_allclose(cols, np.where(dense.any(axis=0), dense.max(axis=0), 0.0))


def test_masked_reduce(spark, A_df, A_np):
    mask = spark.createDataFrame([(i,) for i in range(0, N, 2)], "id long")
    got = vec_of(masked_reduce(A_df, "row", mask), N)
    dense = A_np
    np.testing.assert_allclose(got, dense[:, ::2].sum(axis=1))


def test_reduce_scalar_and_min_element(x_df, x_np):
    assert reduce_scalar(x_df, F.sum) == pytest.approx(x_np.sum())
    i, v = min_element(x_df)
    assert v == pytest.approx(x_np.min())
    assert x_np[i] == pytest.approx(x_np.min())


def test_kselect(A_df, A_np):
    k = 2
    kept = kselect(A_df, k, dim="col")
    dense = A_np
    for j in range(N):
        col = dense[:, j][dense[:, j] != 0]
        got = sorted(r["val"] for r in kept.collect() if r["dst"] == j)
        expect = sorted(sorted(col, reverse=True)[:k])
        assert got == pytest.approx(expect)


def test_transpose_roundtrip(A_df, A_np):
    np.testing.assert_allclose(mat_of(transpose(A_df), N), A_np.T)


def test_loops(spark):
    e = df_edges(spark, [(0, 0, 5.0), (0, 1, 1.0), (1, 2, 1.0)])
    assert remove_loops(e).count() == 2
    verts = spark.createDataFrame([(0,), (1,), (2,)], "id long")
    withloops = add_loops(remove_loops(e), verts, loop_val=9.0)
    diag = {r["src"]: r["val"] for r in withloops.filter("src=dst").collect()}
    assert diag == {0: 9.0, 1: 9.0, 2: 9.0}


def test_subsref_and_spasgn(spark, A_df, A_np):
    ri = spark.createDataFrame([(p, i) for p, i in enumerate([5, 1, 9])], "pos long, id long")
    ci = spark.createDataFrame([(p, i) for p, i in enumerate([2, 8])], "pos long, id long")
    sub = subsref(A_df, ri, ci)
    dense = A_np
    expect = dense[np.ix_([5, 1, 9], [2, 8])]
    got = np.zeros((3, 2))
    for r in sub.collect():
        got[r["src"], r["dst"]] = r["val"]
    np.testing.assert_allclose(got, expect)

    B = df_edges(spark, [(0, 0, 100.0), (2, 1, 200.0)])
    assigned = spasgn(A_df, ri, ci, B)
    expect2 = dense.copy()
    expect2[np.ix_([5, 1, 9], [2, 8])] = 0
    expect2[5, 2] = 100.0
    expect2[9, 8] = 200.0
    np.testing.assert_allclose(mat_of(assigned, N), expect2)


def test_vector_ops(spark, x_df, x_np):
    ri = spark.createDataFrame([(0, 4), (1, 7)], "pos long, id long")
    g = {r["id"]: r["val"] for r in vector_subsref(x_df, ri).collect()}
    assert g == {0: pytest.approx(x_np[4]), 1: pytest.approx(x_np[7])}

    upd = df_vec(spark, [(4, -1.0), (4, -5.0), (9, 0.5)])
    assigned = vec_of(vector_assign(x_df, upd, F.min), N)
    expect = x_np.copy()
    expect[4] = -5.0
    expect[9] = min(0.5, x_np[9])
    np.testing.assert_allclose(assigned, expect)

    ptr = df_vec(spark, [(0, 4.0), (1, 7.0)])
    ext = {r["id"]: r["val"] for r in vector_extract(x_df, ptr).collect()}
    assert ext == {0: pytest.approx(x_np[4]), 1: pytest.approx(x_np[7])}


def test_invert_uniq_setminus(spark):
    v = df_vec(spark, [(0, 5.0), (1, 5.0), (2, 7.0)])
    inv = {r["id"]: r["val"] for r in invert(v, F.min).collect()}
    assert inv == {5: 0.0, 7: 2.0}
    u = {r["val"] for r in uniq(v).collect()}
    assert u == {5.0, 7.0}
    sm = setminus(v, df_vec(spark, [(1, 0.0)]))
    assert {r["id"] for r in sm.collect()} == {0, 2}


def test_rand_perm_deterministic(spark):
    v = spark.createDataFrame([(i,) for i in range(20)], "id long")
    p1 = {(r["pos"], r["id"]) for r in rand_perm(v, seed=1).collect()}
    p2 = {(r["pos"], r["id"]) for r in rand_perm(v, seed=1).collect()}
    assert p1 == p2
    assert {p for p, _ in p1} == set(range(20))
    p3 = {(r["pos"], r["id"]) for r in rand_perm(v, seed=2).collect()}
    assert p1 != p3


def test_rand_perm_partition_invariant(spark):
    """Positions must not depend on input partitioning (the distributed
    sort + zipWithIndex path is total-ordered; no single-partition
    window)."""
    v = spark.range(0, 500).select("id")
    a = {(r["pos"], r["id"]) for r in rand_perm(v.repartition(1), seed=9).collect()}
    b = {(r["pos"], r["id"]) for r in rand_perm(v.repartition(13), seed=9).collect()}
    assert a == b
    assert {p for p, _ in a} == set(range(500))


def test_sort_perm(spark):
    from combblas_spark.operators.indexing import sort_perm

    vec = spark.createDataFrame(
        [(i, float(10 - i)) for i in range(10)], "id long, val double")
    asc = {r["id"]: r["pos"] for r in sort_perm(vec, ascending=True).collect()}
    assert asc == {i: 9 - i for i in range(10)}
    desc = {r["id"]: r["pos"] for r in sort_perm(vec, ascending=False).collect()}
    assert desc == {i: i for i in range(10)}
    # partition invariance on ties: equal vals fall back to id order
    ties = spark.createDataFrame([(i, 1.0) for i in range(50)], "id long, val double")
    t1 = {(r["pos"], r["id"]) for r in sort_perm(ties.repartition(1)).collect()}
    t7 = {(r["pos"], r["id"]) for r in sort_perm(ties.repartition(7)).collect()}
    assert t1 == t7 == {(i, i) for i in range(50)}


def test_induced_subgraphs(spark):
    e = df_edges(spark, [(0, 1), (1, 2), (2, 3), (3, 4)])
    assign = df_vec(spark, [(0, 0.0), (1, 0.0), (2, 0.0), (3, 1.0), (4, 1.0)])
    got = {(r["src"], r["dst"]) for r in induced_subgraphs(e, assign).collect()}
    assert got == {(0, 1), (1, 2), (3, 4)}


def test_load_imbalance_and_bandwidth(A_df):
    assert load_imbalance(A_df) >= 1.0
    assert bandwidth(A_df) >= 0


def test_salted_spmv_identical_to_spmv(spark, A_df, A_np, x_df, x_np):
    """Salted heavy-hitter path must produce identical results to the
    plain join (FIXTURES.md power_law_hub invariant)."""
    from combblas_spark.operators.spmv import salted_spmv

    # threshold 0 -> EVERY vertex is treated as heavy (maximal salting)
    y = vec_of(salted_spmv(A_df, x_df, PLUS_TIMES, degree_threshold=0, n_salts=8), N)
    assert np.allclose(y, A_np.T @ x_np)

    y2 = vec_of(salted_spmv(A_df, x_df, PLUS_TIMES, degree_threshold=3, n_salts=4), N)
    assert np.allclose(y2, A_np.T @ x_np)


def test_salted_spmv_power_law_hub(spark):
    """Hub vertex 0 with in-edges from everyone plus a ring; salted and
    unsalted SpMV agree for both an arithmetic and a min semiring."""
    from combblas_spark.operators.spmv import salted_spmv

    n = 200
    triples = [(i, 0, 1.0) for i in range(1, n)]          # hub in-edges
    triples += [(i, (i + 1) % n, 1.0) for i in range(n)]  # ring
    g = df_edges(spark, triples)
    x = df_vec(spark, [(i, float(i + 1)) for i in range(n)])

    base = {r["id"]: r["val"] for r in spmv(g, x, PLUS_TIMES).collect()}
    salted = {r["id"]: r["val"]
              for r in salted_spmv(g, x, PLUS_TIMES, degree_threshold=10, n_salts=8).collect()}
    assert base.keys() == salted.keys()
    for k in base:
        assert base[k] == pytest.approx(salted[k])

    base_m = {r["id"]: r["val"] for r in spmv(g, x, SELECT2ND_MIN).collect()}
    salted_m = {r["id"]: r["val"]
                for r in salted_spmv(g, x, SELECT2ND_MIN, degree_threshold=10, n_salts=8).collect()}
    assert base_m == salted_m


def test_spgemm_phased_equals_spgemm(spark, A_df, A_np):
    from combblas_spark.operators.spgemm import spgemm_phased

    got = mat_of(spgemm_phased(A_df, A_df, phases=3), N)
    assert np.allclose(got, A_np @ A_np)


def test_spgemm_phased_auto_phase_count(spark, A_df, A_np):
    """VERDICT r4 #5: phases='auto' derives the phase count from the
    FLOP estimate vs the memory budget (CalculateNumberOfPhases,
    ParFriends.h:780) — a forced-small budget must RAISE the phase
    count while the result stays identical to the unphased product."""
    import math

    from combblas_spark.operators.spgemm import (
        _BYTES_PER_PRODUCT, estimate_spgemm_flops, spgemm_phased)

    flops = estimate_spgemm_flops(A_df, A_df)
    # exact expected products: sum_j nnz(A(:,j)) * nnz(A(j,:))
    want = int(sum(int((A_np[:, j] != 0).sum()) * int((A_np[j, :] != 0).sum())
                   for j in range(N)))
    assert flops == want and flops > 0

    # huge budget -> 1 phase; budget sized for ~1/3 of the products ->
    # more phases, same values
    small = max(1, math.floor(flops * _BYTES_PER_PRODUCT / 3))
    n_small = max(1, math.ceil(flops * _BYTES_PER_PRODUCT / small))
    assert n_small > 1
    got_big = mat_of(spgemm_phased(A_df, A_df, phases="auto"), N)
    got_small = mat_of(
        spgemm_phased(A_df, A_df, phases="auto",
                      memory_budget_bytes=small), N)
    assert np.allclose(got_big, A_np @ A_np)
    assert np.allclose(got_small, A_np @ A_np)

    with pytest.raises(ValueError):
        spgemm_phased(A_df, A_df, phases="bogus")


def test_prune_recovery_select(spark):
    from combblas_spark.operators.reduce import prune_recovery_select

    # col 0: strong entries survive the threshold; col 1: everything is
    # tiny -> recovered top-2 kept instead of emptying the column
    triples = [(0, 0, 5.0), (1, 0, 4.0), (2, 0, 0.1),
               (0, 1, 0.3), (1, 1, 0.2), (2, 1, 0.1)]
    g = df_edges(spark, triples)
    out = {(r["src"], r["dst"]): r["val"]
           for r in prune_recovery_select(g, threshold=1.0, recover_num=2).collect()}
    assert out == {(0, 0): 5.0, (1, 0): 4.0, (0, 1): 0.3, (1, 1): 0.2}


def test_prune_recovery_reference_rule(spark):
    """ParFriends.h:208-222 rule (ADVICE r2 fix): recover iff kept mass
    < recover_pct * mass AND post-prune nnz < recover_num — both
    preconditions, not >90% mass loss alone."""
    from combblas_spark.operators.reduce import prune_recovery_select

    triples = [
        # col 0: loses 14% of mass AND drops to 1 < 2 entries -> RECOVER
        # (round-2 rule would NOT have recovered: kept 5.0 >= 0.1*5.8)
        (0, 0, 5.0), (1, 0, 0.4), (2, 0, 0.4),
        # col 1: drops to 1 < 2 entries but keeps 95% of mass -> no recovery
        (0, 1, 10.0), (1, 1, 0.5),
        # col 2: keeps only 47% of mass but still 2 >= 2 entries ->
        # no recovery, plain pruning applies
        (0, 2, 2.0), (1, 2, 2.0), (2, 2, 0.9), (3, 2, 0.9),
        (4, 2, 0.9), (5, 2, 0.9),
    ]
    g = df_edges(spark, [(s, d, v) for s, d, v in triples])
    out = {(r["src"], r["dst"]): r["val"]
           for r in prune_recovery_select(g, threshold=1.0, recover_num=2,
                                          recover_pct=0.9).collect()}
    assert out == {
        (0, 0): 5.0, (1, 0): 0.4,            # recovered top-2
        (0, 1): 10.0,                        # pruned normally
        (0, 2): 2.0, (1, 2): 2.0,            # pruned normally, no recovery
    }


def test_symmetrize_partitioned_single_exchange(spark):
    """symmetrize_partitioned must dedup ON TOP of the layout
    partitioning: exactly one Exchange in the whole plan (the
    repartition), none for the (src,dst) dedup aggregate — and the
    result must equal plain symmetrize."""
    from pyspark.sql import functions as F

    from combblas_spark.graph import symmetrize, symmetrize_partitioned

    e = df_edges(spark, [(i % 9, (i * 5 + 1) % 9) for i in range(40)])
    fused = symmetrize_partitioned(e, "src", 8)
    fused.collect()
    plan = fused._jdf.queryExecution().executedPlan().toString()
    final = plan.split("+- == Initial Plan ==")[0]
    assert final.count("Exchange") == 1, final
    got = sorted(map(tuple, fused.select("src", "dst").collect()))
    ref = sorted(map(tuple, symmetrize(e).select("src", "dst").collect()))
    assert got == ref


def test_degree_assortativity(spark):
    """Star graph is perfectly disassortative (-1); regular graphs are
    undefined (NULL); a random graph matches numpy's Pearson over the
    symmetrized endpoint-degree pairs."""
    from combblas_spark.operators.reduce import degree_assortativity

    def df_e(pairs):
        return spark.createDataFrame(
            [(a, b, 1.0) for a, b in pairs], "src long, dst long, val double")

    star = degree_assortativity(df_e([(0, 1), (0, 2), (0, 3)])).collect()[0]
    assert star["r"] == -1.0 and star["n_edges"] == 3
    tri = degree_assortativity(df_e([(0, 1), (1, 2), (2, 0)])).collect()[0]
    assert tri["r"] is None and tri["n_edges"] == 3
    # random simple graph vs numpy (duplicate + reverse edges collapse)
    rng = np.random.default_rng(5)
    pairs = {tuple(sorted((int(a), int(b))))
             for a, b in rng.integers(0, 12, (40, 2)) if a != b}
    got = degree_assortativity(df_e(sorted(pairs))).collect()[0]
    deg = {}
    for a, b in pairs:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    xs, ys = [], []
    for a, b in pairs:
        xs += [deg[a], deg[b]]
        ys += [deg[b], deg[a]]
    want = np.corrcoef(xs, ys)[0, 1]
    assert got["n_edges"] == len(pairs)
    assert abs(got["r"] - want) < 1e-6


def test_avg_neighbor_degree(spark):
    """knn(k) on a star (hub sees 1.0, leaves see 3.0), on a path, and
    on a random simple graph vs a pure-python computation. Reverse /
    duplicate / loop edges must collapse before degrees are counted."""
    from combblas_spark.operators.reduce import avg_neighbor_degree

    def df_e(pairs):
        return spark.createDataFrame(
            [(a, b, 1.0) for a, b in pairs], "src long, dst long, val double")

    star = {r["deg"]: (r["knn"], r["n_vertices"])
            for r in avg_neighbor_degree(
                df_e([(0, 1), (0, 2), (0, 3), (1, 0), (0, 0)])).collect()}
    assert star == {3: (1.0, 1), 1: (3.0, 3)}
    # path 0-1-2-3: ends (deg 1) see deg-2 neighbors; middles (deg 2)
    # average one end + one middle = 1.5
    path = {r["deg"]: r["knn"]
            for r in avg_neighbor_degree(df_e([(0, 1), (1, 2), (2, 3)])).collect()}
    assert path == {1: 2.0, 2: 1.5}
    rng = np.random.default_rng(11)
    pairs = {tuple(sorted((int(a), int(b))))
             for a, b in rng.integers(0, 15, (50, 2)) if a != b}
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    by_deg = {}
    for v, ns in adj.items():
        by_deg.setdefault(len(ns), []).append(
            sum(len(adj[u]) for u in ns) / len(ns))
    want = {k: (round(sum(vs) / len(vs), 6), len(vs))
            for k, vs in by_deg.items()}
    got = {r["deg"]: (r["knn"], r["n_vertices"])
           for r in avg_neighbor_degree(df_e(sorted(pairs))).collect()}
    assert set(got) == set(want)
    for k in want:
        assert got[k][1] == want[k][1]
        assert abs(got[k][0] - want[k][0]) < 1e-6, (k, got[k], want[k])


def test_transitivity_query(spark):
    """Hand-checkable transitivity: K4 -> 1.0; star -> 0.0; triangle
    with a tail -> 3*1/5."""
    import importlib.util
    spec = importlib.util.spec_from_file_location(
        "entrymod", "/root/repo/__spark_entry__.py")
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)

    def run(pairs):
        df = spark.createDataFrame(
            [(a, b, 1.0) for a, b in pairs], "src long, dst long, val double")
        import combblas_spark.graph as G
        orig = m.events_graph
        try:
            m.events_graph = lambda s, sf: df
            return m.q_transitivity(spark, "").collect()[0]
        finally:
            m.events_graph = orig

    k4 = run([(a, b) for a in range(4) for b in range(a + 1, 4)])
    assert k4["transitivity"] == 1.0 and k4["triangles"] == 4 and k4["wedges"] == 12
    star = run([(0, 1), (0, 2), (0, 3)])
    assert star["transitivity"] == 0.0 and star["triangles"] == 0 and star["wedges"] == 3
    tail = run([(0, 1), (1, 2), (2, 0), (2, 3)])
    assert tail["transitivity"] == 0.6 and tail["triangles"] == 1 and tail["wedges"] == 5


def test_reciprocity_query(spark):
    """Hand-checkable reciprocity: one mutual pair among three directed
    edges -> 2/3 (both directions of the pair count as reciprocated)."""
    import importlib.util
    spec = importlib.util.spec_from_file_location(
        "entrymod2", "/root/repo/__spark_entry__.py")
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    df = spark.createDataFrame(
        [(0, 1, 1.0), (1, 0, 1.0), (1, 2, 1.0), (2, 2, 1.0)],
        "src long, dst long, val double")
    orig = m.events_graph
    try:
        m.events_graph = lambda s, sf: df
        r = m.q_reciprocity(spark, "").collect()[0]
    finally:
        m.events_graph = orig
    assert r["n_edges"] == 3 and r["n_mutual"] == 2      # self-loop dropped
    assert abs(r["reciprocity"] - 2 / 3) < 1e-6


def test_prefix_sum(spark):
    """Exclusive scan matches python cumsum under the total order,
    independent of input partitioning; empty input keeps the schema."""
    from combblas_spark.operators.indexing import prefix_sum

    rows = [(i, (i * 7) % 13 + 1) for i in range(200)]
    want = {}
    acc = 0
    for i, w in rows:
        want[i] = acc
        acc += w
    for parts in (1, 7):
        df = spark.createDataFrame(rows, "id long, w long").repartition(parts)
        got = {r["id"]: r["start"]
               for r in prefix_sum(df, [F.col("id").asc()], "w",
                                   ["id", "w"]).collect()}
        assert got == want, parts
    empty = prefix_sum(
        spark.createDataFrame([], "id long, w long"),
        [F.col("id").asc()], "w", ["id", "w"])
    assert empty.columns == ["start", "id", "w"] and empty.count() == 0


def test_pack_sequences(spark):
    """Hand corpus: known token counts -> known chunk spans; token-free
    docs omitted; capacity validated."""
    import pytest as _pytest

    from combblas_spark.functions.text import pack_sequences

    docs = spark.createDataFrame(
        [(0, "a b c"), (1, ""), (2, "d e f g"), (3, "h i")],
        "doc_id long, text string")
    # counts: 0->3, 2->4, 3->2; capacity 4; concat order by id:
    # 0: start 0, chunks 0..0 ; 2: start 3, chunks 0..1, offset 3
    # 3: start 7, chunks 1..2, offset 3
    got = {r["id"]: (r["n_tokens"], r["start"], r["first_chunk"],
                     r["last_chunk"], r["n_chunks"], r["offset_in_first"])
           for r in pack_sequences(docs, capacity=4).collect()}
    assert got == {0: (3, 0, 0, 0, 1, 0),
                   2: (4, 3, 0, 1, 2, 3),
                   3: (2, 7, 1, 2, 2, 3)}, got
    with _pytest.raises(ValueError, match="capacity"):
        pack_sequences(docs, capacity=0)


def test_events_graph_empty_table_raises_cleanly(spark, tmp_path):
    """Review batch 6: an empty events table must raise ValueError, not
    TypeError from int(None)."""
    import pytest
    from combblas_spark.graph import events_graph

    spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, value double"
    ).write.parquet(f"{tmp_path}/events.parquet")
    with pytest.raises(ValueError, match="empty"):
        events_graph(spark, str(tmp_path))
