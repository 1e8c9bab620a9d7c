"""Regenerate the PLANS.md evidence: print `.explain("formatted")` for
the audited plans (scan pushdown, zero-exchange SpMV, masked wedge
count). Usage: python scripts/explain_audit.py"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from combblas_spark import get_spark
from combblas_spark.algorithms.triangles import (_four_cliques, lower_triangle,
                                                 oriented_triangles)
from combblas_spark.graph import events_graph, vertices


def shuffles(df) -> list[str]:
    """The shuffle Exchanges of ``df``'s physical plan, expression and
    plan ids stripped. A cached input's own plan is not a child of its
    scan, so it is not counted."""
    root = df._jdf.queryExecution().executedPlan()
    if root.nodeName() == "AdaptiveSparkPlan":
        root = root.initialPlan()
    out, stack = [], [root]
    while stack:
        node = stack.pop()
        if node.nodeName() == "Exchange":
            out.append(re.sub(r"#\d+L?|, \[plan_id=\d+\]", "", node.simpleString(25)))
        kids = node.children()
        stack += [kids.apply(i) for i in range(kids.size())]
    return out


def main() -> None:
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark(app_name="explain-audit", cores=8, shuffle_partitions=16,
                      driver_memory="8g")

    print("=== 1. parquet scan: pushdown + column pruning ===")
    ev = spark.read.parquet(f"{sf}/events.parquet")
    ev.filter(F.col("user_id") < 10).select("user_id", "event_id").explain("formatted")

    print("=== 2. zero-exchange SpMV (dst-partitioned cached edges + broadcast vector) ===")
    g = events_graph(spark, sf).repartition(16, "dst").persist()
    g.count()
    from combblas_spark.operators.spmv import spmv_agg, spmv_step

    spmv_agg(g, vertices(g).select("id", F.lit(1.0).alias("_r")),
             [F.sum(F.col("val") * F.col("_r")).alias("v")], True).explain("formatted")

    print("=== 3. triangle count: mask as semi-join before aggregation ===")
    tri_count = oriented_triangles(lower_triangle(g)).agg(F.count(F.lit(1)))
    tri_count.explain("formatted")
    plan = tri_count._jdf.queryExecution().executedPlan().toString()
    # the wedge join is the one inner join; the closing mask L(a,c) is a
    # semi-join, never a materialized second join
    assert plan.count("LeftSemi") == 1, plan
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan, plan
    assert "Window" not in plan, plan
    assert all(m not in plan for m in
               ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                "PythonRDD")), plan
    print("triangle_count: closing mask is a LeftSemi join, no window, "
          "no cartesian, PYTHON-FREE (asserted)")

    print("=== 4. id-dictionary (ReadGeneralizedTuples path): Python-free ===")
    from combblas_spark.graph import relabel_to_dense_ids

    e = spark.createDataFrame(
        [(f"u{i}", f"u{(i * 7) % 50}") for i in range(200)],
        "src_url string, dst_url string")
    _, d = relabel_to_dense_ids(e)
    d.explain("formatted")
    lineage = d._jdf.queryExecution().toRdd().toDebugString()
    assert "PythonRDD" not in lineage, "PythonRDD in dictionary lineage"
    plan = d._jdf.queryExecution().executedPlan().toString()
    assert all(m not in plan for m in
               ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"))
    print("dictionary plan + lineage: PYTHON-FREE (asserted)")

    print("=== 5. the library's superstep vector exchange in both regimes "
          "(ANF hop, HITS half-step, FastRP superstep, BFS-family wave, Luby "
          "round) and a k-core round ===")
    from combblas_spark.algorithms.anf import _init_mask, _or_hop
    from combblas_spark.algorithms.embeddings import projection_entry
    from combblas_spark.graph import simple_adjacency, symmetrize_partitioned
    from combblas_spark.operators.spmv import frontier_wave, local_extrema
    from combblas_spark.runtime import plans
    from combblas_spark.runtime.plans import layout_vector, superstep_checkpoint

    sym = symmetrize_partitioned(g, "dst", 16).select("src", "dst").persist()
    sym.count()
    adj_src = simple_adjacency(g, "src", directed=True)
    sym_src = simple_adjacency(g, "src")
    e_dst = g.select("src", "dst").repartition(16, "dst").persist()
    e_dst.count()
    n_v = vertices(g).count()
    masks, xs = [f"m{j}" for j in range(4)], [f"x{j}" for j in range(4)]
    anf_aggs = [F.bit_or(c).alias(f"_n{j}") for j, c in enumerate(masks)]
    frp_aggs = [F.sum("_" + x).alias("i" + x) for x in xs]

    def loop_state(df):
        """A vector laid out and checkpointed as the loops do it."""
        return superstep_checkpoint(layout_vector(df, n_v, 16), 0)

    def id_partitioned(df):
        """A filled cache keeps repartition(16, "id"); a localCheckpoint
        does not on Spark 4.1 (ROADMAP open item 5)."""
        df = df.repartition(16, "id").persist()
        df.count()
        return df

    def assert_step_shape(name, df):
        """Equi-joins only, no window, no Python evaluation."""
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Cartesian" not in plan, name
        assert "BroadcastNestedLoop" not in plan, name
        assert plan.count("Window") == 0, (name, plan.count("Window"))
        assert all(m not in plan for m in
                   ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                    "PythonRDD")), name

    by_id = "Exchange hashpartitioning(id, 16), ENSURE_REQUIREMENTS"
    # regime, (BROADCAST_MAX_VERTICES, SMALL_VECTOR_MAX) as regimes() in
    # the tests sets them, vector layout, exchanges of the join-aggregate
    # half, exchanges the stitch adds. Without size-based broadcasts the
    # small test frames plan as at scale.
    cases = (
        # vector broadcast in, agg satisfied by the dst-partitioned
        # cache, small inflow broadcast back onto the state
        ("broadcast regime: no exchange above the cached edges",
         (plans.BROADCAST_MAX_VERTICES, plans.SMALL_VECTOR_MAX), loop_state, 0, []),
        # edges and the checkpointed vector move to the join key,
        # contributions to dst; the stitch re-exchanges the state by id
        ("shuffle regime, checkpointed state as in the loops: edges, vector "
         "and contributions exchanged, the stitch exchanges the state by id",
         (0, 0), loop_state, 3, [by_id]),
        # the design target of ROADMAP open item 5: the id-partitioned
        # vector is not exchanged and the stitch adds nothing
        ("shuffle regime, id-partitioned state (design target): the stitch "
         "adds no exchange", (0, 0), id_partitioned, 2, []),
    )
    defaults = plans.BROADCAST_MAX_VERTICES, plans.SMALL_VECTOR_MAX
    old_auto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    for label, consts, layout, n_half, stitch_adds in cases:
        plans.BROADCAST_MAX_VERTICES, plans.SMALL_VECTOR_MAX = consts
        bc = plans.broadcastable(n_v)

        def vec(*cols):
            return layout(vertices(g).select("id", *cols))

        state = vec(*[_init_mask(j, 42, 24) for j in range(4)])
        x = vec(*[projection_entry(F.col("id"), j, 17).alias(c) for j, c in enumerate(xs)])
        xv = x.select("id", *[F.col(c).alias("_" + c) for c in xs])
        # name -> (superstep, its join-aggregate half)
        steps = {
            "anf_hop": (_or_hop(sym, state, masks, [], bc, n_v),
                        spmv_agg(sym, state.select("id", *masks), anf_aggs, bc)),
            "fastrp_superstep": (spmv_step(e_dst, xv, frp_aggs, x, n_v, bc),
                                 spmv_agg(e_dst, xv, frp_aggs, bc)),
            "hits_half_step": (spmv_agg(e_dst, vec(F.lit(1.0).alias("v")),
                                        [F.sum("v").alias("v")], bc), None),
        }
        for name, (df, half) in steps.items():
            assert_step_shape(name, df)
            got_half = shuffles(half or df)
            assert len(got_half) == n_half, (name, got_half)
            want = sorted(got_half + (stitch_adds if half is not None else []))
            assert sorted(shuffles(df)) == want, (name, shuffles(df))
        print(label, "(anf_hop, fastrp_superstep, hits_half_step), equi-joins, "
              "no window, PYTHON-FREE (asserted)")
        if layout is id_partitioned:
            continue
        # the BFS family's wave over src-partitioned simple adjacency, a
        # frontier and visited set checkpointed as frontier_closure
        # checkpoints them (both broadcast in the broadcast regime).
        # Keyed (closeness): broadcast regime, the (root, id) aggregation;
        # shuffle regime also the frontier to src and the visited set for
        # the anti-join. Reversed with within (SCC): broadcast regime, the
        # aggregation and the colour semi-join; shuffle regime also the
        # edges and the frontier to dst and the visited set.
        start = vertices(g).select(F.col("id").alias("root"), "id", F.col("id").alias("color"))
        fr = start.withColumn("level", F.lit(0)).localCheckpoint(eager=True)
        colour = vertices(g).select("id", F.col("id").alias("color")).localCheckpoint(eager=True)
        waves = {
            "closeness_wave": (frontier_wave(adj_src, fr.drop("color"), fr, [], ["root"], bc,
                                             broadcast_visited=bc),
                               1 if bc else 3),
            "scc_backward_wave": (frontier_wave(adj_src, fr.drop("root"), fr, [], ["color"], bc,
                                                on="dst", out="src", within=colour,
                                                broadcast_visited=bc),
                                  2 if bc else 5),
        }
        for name, (df, n_ex) in waves.items():
            assert_step_shape(name, df)
            assert len(shuffles(df)) == n_ex, (name, shuffles(df))
            print(f"{name}: {n_ex} exchanges, equi-joins, no window, PYTHON-FREE (asserted)")
        # one Luby round over a checkpointed (id, p) candidate vector as
        # mis lays it out. Broadcast regime: candidates broadcast into the
        # edge join and onto the neighbour minimum (a row per neighbour of
        # a candidate), the losers (at most one row per candidate)
        # broadcast back, only the aggregation exchanged. Shuffle regime:
        # also the candidates to src (once per join) and, for the stitch,
        # to id.
        cand = vertices(g).select("id", F.md5(F.col("id").cast("string")).alias("p"))
        luby = local_extrema(sym_src, cand.localCheckpoint(eager=True), n_v)
        assert_step_shape("luby_round", luby)
        plan, n_ex = luby._jdf.queryExecution().executedPlan().toString(), 1 if bc else 4
        assert len(shuffles(luby)) == n_ex, shuffles(luby)
        assert plan.count("BroadcastHashJoin") == (3 if bc else 0), plan
        assert plan.count("SortMergeJoin") == (0 if bc else 3), plan
        print(f"luby_round: {n_ex} exchanges{', three broadcast joins' if bc else ''}, "
              "equi-joins, no window, PYTHON-FREE (asserted)")
    plans.BROADCAST_MAX_VERTICES, plans.SMALL_VECTOR_MAX = defaults
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_auto)

    # simple_adjacency: distinct loop-free pairs in ONE exchange, by key,
    # from edges with no known partitioning
    raw = g.select("src", "dst").localCheckpoint()
    for key, directed in (("src", True), ("src", False), ("dst", True), ("dst", False)):
        adj = simple_adjacency(raw, key, directed)
        adj.unpersist()
        got = shuffles(adj.select("src", "dst"))
        assert got == [f"Exchange hashpartitioning({key}, 16), REPARTITION_BY_NUM"], (
            key, directed, got)
    print("simple_adjacency: one Exchange hashpartitioning(key) (asserted)")

    alive = F.broadcast(vertices(g).select("id").coalesce(1).localCheckpoint())
    kcore_round = (
        sym.join(alive.withColumnRenamed("id", "src"), "src", "left_semi")
        .groupBy(F.col("dst").alias("id")).agg(F.count(F.lit(1)).alias("_d"))
        .join(alive, "id", "left_semi")
    )
    plan = kcore_round._jdf.queryExecution().executedPlan().toString()
    above = plan.split("InMemoryRelation", 1)[0]
    assert "Exchange" not in above, "kcore_round: exchange above the cache"
    assert all(m not in plan for m in
               ("BatchEvalPython", "ArrowEvalPython", "MapInPandas")), "kcore_round"
    print("kcore_round: zero-exchange above cache, PYTHON-FREE (asserted)")

    print("=== 6. SCC color superstep / walks step / skipgram band join: "
          "Python-free, no cartesian ===")
    from pyspark.sql import Window

    c = vertices(g).select("id", F.col("id").alias("color")) \
        .repartition(16, "id").localCheckpoint()
    e_src = g.select("src", "dst").repartition(16, "src").persist()
    e_src.count()
    inc = (
        e_src.join(c.select(F.col("id").alias("src"),
                            F.col("color").alias("_cu")), "src")
        .groupBy(F.col("dst").alias("id")).agg(F.max("_cu").alias("_cin"))
    )
    scc_color = (
        c.join(inc, "id", "left")
        .select("id", F.greatest(F.col("color"),
                                 F.coalesce(F.col("_cin"), F.lit(-1))).alias("color"))
    )
    w = Window.partitionBy("src").orderBy("dst")
    adj = e_src.select(
        "src", "dst", (F.row_number().over(w) - 1).alias("idx"),
        F.count(F.lit(1)).over(Window.partitionBy("src")).alias("deg")).persist()
    adj.count()
    st = vertices(g).select(F.col("id").alias("start"), F.lit(0).alias("walk"),
                            F.col("id").alias("vertex")).localCheckpoint()
    pick = F.conv(F.substring(F.md5(F.concat_ws(
        ":", F.col("start").cast("string"), F.col("walk").cast("string"),
        F.lit("1"), F.lit("42")).cast("binary")), 1, 8), 16, 10).cast("long")
    walk_step = (st.join(adj, [st["vertex"] == adj["src"]])
                 .where(F.col("idx") == pick % F.col("deg"))
                 .select("start", "walk", F.col("dst").alias("vertex")))
    corpus = st.select("start", "walk", F.lit(0).alias("step"), "vertex")
    band = (corpus.alias("a").join(corpus.alias("b"), ["start", "walk"])
            .where(F.abs(F.col("a.step") - F.col("b.step")) <= 2))
    for name, df in (("scc_color_superstep", scc_color),
                     ("walk_step_join", walk_step),
                     ("skipgram_band_join", band)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan, name
        assert all(m not in plan for m in
                   ("BatchEvalPython", "ArrowEvalPython", "MapInPandas")), name
        print(f"{name}: equi-join planned, PYTHON-FREE (asserted)")

    print("=== 7. prefix-filter similarity join: equi-join on prefix "
          "shingle, Python-free, no cartesian ===")
    from combblas_spark.functions.dedup import prefix_filter_pairs

    docs = spark.createDataFrame(
        [(i, f"w{i % 5} w{i % 3} w{i % 7} common tail words here") for i in range(64)],
        "doc_id long, text string")
    pp = prefix_filter_pairs(docs, threshold=0.8)
    plan = pp._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan, plan
    assert all(m not in plan for m in
               ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "PythonRDD")), plan
    print("prefix_filter_pairs: equi-join planned, PYTHON-FREE (asserted)")

    print("=== 8. one-sided sidecar incremental join (r4): equi-join on "
          "prefix shingle vs PRECOMPUTED corpus tables, Python-free ===")
    from combblas_spark.functions.dedup import incremental_prefix_pairs
    from combblas_spark.functions.text import shingles as _sh

    corpus = docs.where("doc_id % 2 = 0")
    batch = docs.where("doc_id % 2 = 1")
    # mirror the real ingest path: sidecars are MATERIALIZED tables
    # (parquet on disk in streaming/corpus.py; checkpointed here)
    csh = corpus.select(
        F.col("doc_id").alias("id"),
        F.explode(F.array_distinct(_sh(F.col("text"), 3))).alias("sh"),
    ).localCheckpoint(eager=True)
    csz = csh.groupBy("id").agg(F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
    cdf = csh.groupBy("sh").agg(F.count(F.lit(1)).alias("df")).localCheckpoint(eager=True)
    ip = incremental_prefix_pairs(batch, csh, csz, df_table=cdf, threshold=0.8)
    plan = ip._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan, plan
    assert all(m not in plan for m in
               ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "PythonRDD")), plan
    # the sidecar contract: with corpus tables materialized, the plan
    # contains NO text re-shingling at all (the batch side's explode is
    # checkpointed inside incremental_prefix_pairs before the joins)
    n_explode = plan.count("Generate explode")
    assert n_explode == 0, f"text re-exploded in the loop plan? {n_explode}\n{plan}"
    print("incremental_prefix_pairs: equi-join planned, PYTHON-FREE, "
          "zero re-shingling above the sidecar tables (asserted)")

    print("=== 9. ktips walk step / selective prune: joins only, no "
          "cartesian, no Python ===")
    from combblas_spark.algorithms.mcl import selective_prune

    A = g.select("src", "dst", "val")
    mask = A.where((F.col("src") + F.col("dst")) % 3 == 0).select("src", "dst")
    isold = vertices(g).select("id", (F.col("id") % 2 == 0).alias("old"))
    sp = selective_prune(A, mask, isold, 3.0)
    plan = sp._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan, plan
    assert all(m not in plan for m in
               ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "PythonRDD")), plan
    print("selective_prune: anti-join + flag joins, PYTHON-FREE (asserted)")

    print("=== 10. keep-first paragraph dedup: min-struct hash agg, NO "
          "window, no Python ===")
    from combblas_spark.functions.text import dedup_paragraphs

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    pd_plan = dedup_paragraphs(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in pd_plan, pd_plan        # winner is an aggregate, not a rank
    assert "Cartesian" not in pd_plan and "BroadcastNestedLoop" not in pd_plan, pd_plan
    assert all(m not in pd_plan for m in
               ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "PythonRDD")), pd_plan
    print("dedup_paragraphs: explode + min-struct hash agg + joins, "
          "window-free, PYTHON-FREE (asserted)")

    print("=== 11. r4d ops: Boruvka pick round / AA wedge join / JP wave "
          "/ DSIR score — joins+aggs only, no cartesian, no Python ===")
    cedges = (g.select(F.least("src", "dst").alias("u"),
                       F.greatest("src", "dst").alias("v"),
                       F.col("val").alias("w"))
              .groupBy("u", "v").agg(F.min("w").alias("w"))
              .repartition(16, "u").persist())
    cedges.count()
    comp = vertices(g).select("id", F.col("id").alias("c")).localCheckpoint()
    ce = (cedges
          .join(comp.select(F.col("id").alias("u"), F.col("c").alias("cu")), "u")
          .join(comp.select(F.col("id").alias("v"), F.col("c").alias("cv")), "v")
          .filter(F.col("cu") != F.col("cv")))
    mst_pick = (
        ce.select(F.col("cu").alias("c"),
                  F.struct("w", "u", "v", F.col("cv").alias("oc")).alias("s"))
        .unionByName(ce.select(F.col("cv").alias("c"),
                               F.struct("w", "u", "v", F.col("cu").alias("oc")).alias("s")))
        .groupBy("c").agg(F.min("s").alias("s"))
    )
    from combblas_spark.algorithms.linkpred import adamic_adar
    from combblas_spark.functions.sampling import dsir_weights

    # materialize=False keeps the REAL plan inspectable — with the
    # default eager checkpoint the executedPlan is a Scan ExistingRDD
    # and every assertion below would be vacuous
    aa = adamic_adar(g, min_common=2, max_center_degree=64, materialize=False)
    pri = vertices(g).select(
        "id", F.md5(F.concat_ws(":", F.lit("42"), F.col("id").cast("string"))
                    .cast("binary")).alias("p")).localCheckpoint()
    live = (sym.join(pri.withColumnsRenamed({"id": "src", "p": "_ps"}), "src")
            .join(pri.select(F.col("id").alias("dst")), "dst", "left_semi"))
    jp_wave = (pri.join(live.groupBy(F.col("dst").alias("id"))
                        .agg(F.max("_ps").alias("_np")), "id", "left")
               .filter(F.col("_np").isNull() | (F.col("p") > F.col("_np"))))
    dsir = dsir_weights(docs, F.col("lang") == "en", materialize=False)
    for name, df in (("mst_pick_round", mst_pick), ("adamic_adar", aa),
                     ("jp_coloring_wave", jp_wave), ("dsir_weights", dsir)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        # guard against vacuous checks: a checkpointed result plans as a
        # bare ExistingRDD scan with nothing left to assert on
        assert "HashAggregate" in plan or "SortAggregate" in plan, \
            f"{name}: plan is not inspectable (checkpointed?)\n{plan}"
        assert "Cartesian" not in plan, name
        if name == "dsir_weights":
            # the ONE BroadcastNestedLoopJoin is the sanctioned 1-row
            # broadcast totals join (same pattern as pagerank's dangling
            # mass); anything more would be a real nested loop
            assert plan.count("BroadcastNestedLoop") <= 1, plan
        else:
            assert "BroadcastNestedLoop" not in plan, name
        assert "Window" not in plan, name  # all four are window-free
        assert all(m not in plan for m in
                   ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                    "PythonRDD")), name
        print(f"{name}: equi-joins + hash aggs, window-free, "
              "PYTHON-FREE (asserted)")

    print("=== 12. r4 third-session ops: butterfly wedges / bigram "
          "fluency / int8 quantize — shapes asserted ===")
    from combblas_spark.algorithms.butterflies import butterflies
    from combblas_spark.functions.similarity import quantize_embeddings
    from combblas_spark.functions.text import bigram_fluency

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    for name, df, windows_ok in (
            ("butterflies", butterflies(g), 0),
            ("bigram_fluency", bigram_fluency(docs), 0),
            ("quantize_embeddings", quantize_embeddings(emb), 0)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "HashAggregate" in plan or "SortAggregate" in plan, \
            f"{name}: plan is not inspectable\n{plan}"
        assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan, name
        assert plan.count("Window") <= windows_ok, name
        assert all(m not in plan for m in
                   ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                    "PythonRDD")), name
        print(f"{name}: equi-joins + hash aggs, window-free, "
              "PYTHON-FREE (asserted)")

    print("=== 13. r4 fourth-session ops: densest peel round / count-min "
          "sketch / community contraction — shapes asserted ===")
    from combblas_spark.algorithms.labelprop import community_graph
    from combblas_spark.functions.sketch import cms_sketch
    from combblas_spark.functions.text import word_tokens

    # one densest peel ROUND (the loop checkpoints each round, so the
    # whole-loop plan is not inspectable — audit the per-round shape)
    av = vertices(g).localCheckpoint()
    peel_deg = (sym.join(F.broadcast(av.withColumnRenamed("id", "src")),
                         "src", "left_semi")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.count(F.lit(1)).alias("_d"))
                .join(F.broadcast(av), "id", "left_semi"))
    toks = docs.select(F.explode(word_tokens(F.col("text"))).alias("tok"))
    lab = vertices(g).select("id", (F.col("id") % 7).alias("community")) \
        .localCheckpoint()
    for name, df in (("densest_peel_round", peel_deg),
                     ("cms_sketch", cms_sketch(toks, "tok")),
                     ("community_graph", community_graph(g, lab))):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "HashAggregate" in plan or "SortAggregate" in plan, \
            f"{name}: plan is not inspectable\n{plan}"
        assert "Cartesian" not in plan, name
        if name == "cms_sketch":
            # the ONE BroadcastNestedLoopJoin is the sanctioned d-row
            # hash-row fan-out (broadcast range(d) crossJoin)
            assert plan.count("BroadcastNestedLoop") <= 1, plan
        else:
            assert "BroadcastNestedLoop" not in plan, name
        assert "Window" not in plan, name
        assert all(m not in plan for m in
                   ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                    "PythonRDD")), name
        print(f"{name}: equi-joins + hash aggs, window-free, "
              "PYTHON-FREE (asserted)")

    print("=== 14. r4 fifth-session ops: K4 clique extension — shapes "
          "asserted ===")
    # four_cliques_per_vertex materializes via localCheckpoint (cache
    # release), so audit the pre-checkpoint shape: the oriented triangle
    # join + one (c,d) extension + two semi-join clique masks.
    k4df = (_four_cliques(lower_triangle(g))
            .groupBy(F.col("a").alias("id")).agg(F.count(F.lit(1)).alias("k4")))
    for name, df in (("four_cliques", k4df),):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "HashAggregate" in plan or "SortAggregate" in plan, \
            f"{name}: plan is not inspectable\n{plan}"
        assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan, name
        # the two clique masks must stay semi-joins (never materialized)
        assert plan.count("LeftSemi") >= 3, plan
        assert "Window" not in plan, name
        assert all(m not in plan for m in
                   ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                    "PythonRDD")), name
        print(f"{name}: oriented-edge equi-joins, closing masks as "
              "semi-joins (>=3 asserted), window-free, PYTHON-FREE")

    print("=== 15. r4 sixth-session ops: simrank iteration / winnowing / "
          "s-core round / MNN / node2vec step — shapes asserted ===")
    from combblas_spark.functions.dedup import winnow_fingerprints
    from combblas_spark.functions.similarity import (brute_force_topk,
                                                     mutual_topk_pairs)

    # (a) one simrank iteration: pair table x two capped out-edge
    # equi-joins + one sum agg + full-outer stitch — window-free
    de = g.select("src", "dst").where(F.col("src") != F.col("dst")) \
        .distinct().localCheckpoint()
    ex = de.select(F.col("src").alias("x"), F.col("dst").alias("a"))
    ey = de.select(F.col("src").alias("y"), F.col("dst").alias("b"))
    simpairs = ex.join(ey, ex["x"] == ey["y"]).where(F.col("a") < F.col("b")) \
        .groupBy("a", "b").agg(F.count(F.lit(1)).cast("double").alias("s")) \
        .localCheckpoint()
    sim_iter = (
        simpairs.select(F.col("a").alias("x"), F.col("b").alias("y"), "s")
        .join(ex, "x").join(ey, "y")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b").agg(F.sum("s").alias("ss"))
    )
    # (b) winnowing: per-doc windows ONLY (partitioned by id — the
    # plan must have no single-partition exchange)
    wfp = winnow_fingerprints(docs, k=5, w=4)
    # (c) one s-core strength round (weighted degree agg, semi-joins)
    from combblas_spark.algorithms.kcore import s_core  # noqa: F401  (shape below)
    svm = g.filter(F.col("src") != F.col("dst")) \
        .select("src", "dst", F.col("val").cast("long").alias("w"))
    ssym = svm.unionByName(svm.select(F.col("dst").alias("src"),
                                      F.col("src").alias("dst"), "w"))
    s_round = (
        ssym.join(F.broadcast(av.withColumnRenamed("id", "src")),
                  "src", "left_semi")
        .groupBy(F.col("dst").alias("id")).agg(F.sum("w").alias("_s"))
        .join(F.broadcast(av), "id", "left_semi")
        .filter(F.col("_s") >= 18)
    )
    # (d) MNN: reciprocal semi-join over the top-k table (the top-k
    # window is per-query, never global)
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").limit(200) \
        .localCheckpoint()
    mnn = mutual_topk_pairs(brute_force_topk(emb, emb, k=3))
    for name, df, win_ok in (("simrank_iter", sim_iter, 0),
                             ("winnow_fingerprints", wfp, 2),
                             ("s_core_round", s_round, 0),
                             # the per-query top-k window subtree appears
                             # on BOTH sides of the reciprocal self-join
                             ("mnn_pairs", mnn, 4)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Cartesian" not in plan, name
        if name != "mnn_pairs":
            # mnn's brute-force top-k stage IS the sanctioned broadcast
            # cross join (small query side) — every other op bans it
            assert "BroadcastNestedLoop" not in plan, name
        assert plan.count("Window") <= win_ok, (name, plan.count("Window"))
        assert "Exchange SinglePartition" not in plan, \
            f"{name}: global window/exchange\n{plan}"
        assert all(m not in plan for m in
                   ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                    "PythonRDD")), name
        print(f"{name}: equi-joins + hash aggs, windows <= {win_ok} "
              "(all key-partitioned), no single-partition exchange, "
              "PYTHON-FREE (asserted)")

    print("=== 18. round-4g ops: langid / louvain "
          "contraction / phrase intersection / CDC chunking + dedup ===")
    from combblas_spark.functions.text import lang_id_ngram, phrase_search
    from combblas_spark.functions.dedup import cdc_chunks, chunk_dedup_pairs
    from combblas_spark.algorithms.labelprop import (
        greedy_modularity, _contract_weighted)

    docs18 = spark.read.parquet(f"{sf}/documents.parquet").localCheckpoint()
    lid = lang_id_ngram(docs18)
    lvsym = g.select("src", "dst").where(F.col("src") != F.col("dst")) \
        .distinct().withColumn("w", F.lit(1).cast("long")).localCheckpoint()
    lab18 = greedy_modularity(g, n_rounds=1) \
        .select("id", F.col("community").alias("c")).localCheckpoint()
    lcon = _contract_weighted(lvsym, None, lab18)[0]
    phr = phrase_search(docs18, "join part filter")
    cdc = cdc_chunks(docs18, mod=16)
    cdp = chunk_dedup_pairs(docs18, mod=16)
    from combblas_spark.functions.urls import path_rollup, mirror_hosts
    from combblas_spark.algorithms.closeness import landmark_estimate

    urls18 = docs18.select(
        F.concat(F.lit("https://site"), F.col("doc_id") % 7,
                 F.lit(".example/a"), F.col("doc_id") % 3,
                 F.lit("/b"), F.col("doc_id") % 5,
                 F.lit("/p"), F.col("doc_id")).alias("url"),
        F.col("text"))
    pru = path_rollup(urls18, max_depth=3)
    mh = mirror_hosts(urls18, min_shared=2)
    sk18 = g.select(F.lit(0).cast("long").alias("lm"),
                    F.col("src").alias("id"),
                    (F.col("dst") % 5).alias("dist")).localCheckpoint()
    lme = landmark_estimate(sk18, max_id=50)
    from combblas_spark.functions.sketch import bloom_build, bloom_contains
    from combblas_spark.algorithms.triangles import weighted_triangle_intensity

    blm = bloom_build(docs18.select(F.col("text").alias("v")).limit(100)
                      .localCheckpoint(), m_words=8)
    bprobe = bloom_contains(docs18.select("doc_id", "text"), "text",
                            blm.localCheckpoint(), m_words=8)
    wtri = weighted_triangle_intensity(g)
    for name, df, win_ok in (("lang_id_ngram", lid, 0),
                             ("louvain_contract", lcon, 0),
                             ("phrase_search", phr, 0),
                             ("cdc_chunks", cdc, 0),
                             ("chunk_dedup_pairs", cdp, 0),
                             ("path_rollup", pru, 0),
                             ("mirror_hosts", mh, 0),
                             ("landmark_estimate", lme, 0),
                             ("bloom_probe", bprobe, 0),
                             ("weighted_triangles", wtri, 0)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Cartesian" not in plan, name
        assert "BroadcastNestedLoop" not in plan, name
        assert plan.count("Window") <= win_ok, (name, plan.count("Window"))
        assert "Exchange SinglePartition" not in plan, \
            f"{name}: global window/exchange\n{plan}"
        assert all(m not in plan for m in
                   ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                    "PythonRDD")), name
        print(f"{name}: equi-joins + hash aggs, NO window, no "
              "single-partition exchange, PYTHON-FREE (asserted)")

    print("=== 19. round-5 ops: tf_cosine df hub-cap path ===")
    from combblas_spark.functions.similarity import tf_cosine_pairs

    tfc = tf_cosine_pairs(docs18.where(F.col("doc_id") % 13 == 0),
                          min_cos=0.3, max_df=40)
    plan = tfc._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
    # the df cap must land as a semi-join BEFORE the pair self-join so
    # hub tokens never enter the quadratic stage
    assert "LeftSemi" in plan, "df cap not pushed as semi-join"
    assert plan.count("Window") == 0
    assert "Exchange SinglePartition" not in plan, plan
    assert all(m not in plan for m in
               ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                "PythonRDD"))
    print("tf_cosine_capped: df cap as pre-join LeftSemi, equi-joins + "
          "hash aggs only, no single-partition exchange, PYTHON-FREE "
          "(asserted). spgemm_phased's auto phase estimator is a "
          "histogram equi-join ending in a sanctioned 1-row scalar agg "
          "(the MPI_Allreduce analogue class).")

    print("=== 20. PageRank setup placement: cached normalized edges ===")
    # results never depend on placement, so value tests cannot see a
    # lost repartition — assert the cached edge layout directly
    import shutil
    import tempfile

    from combblas_spark.algorithms.pagerank import _normalized_edges
    from combblas_spark.sources.io import read_bucketed_edges, write_bucketed_edges

    def cached_setup_plan(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.split("InMemoryRelation", 1)[1]

    raw = events_graph(spark, sf)
    enorm = _normalized_edges(raw, weighted=False, can_broadcast=True)
    setup = cached_setup_plan(enorm)
    top = next(ln for ln in setup.splitlines() if "Exchange" in ln).strip(" :+-")
    assert re.match(r"Exchange hashpartitioning\(dst#\d+L?, 16\)", top), top
    enorm.unpersist()
    print("broadcast regime: cached edges hash-partitioned by dst (asserted)")

    tmp = tempfile.mkdtemp(prefix="explain-audit-")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # a broadcast degree table would hide the co-partitioned join; at
    # scale the degree table is edge-sized and never broadcast
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # 8 buckets != 16 shuffle partitions: a repartition the skip
        # should have dropped cannot be elided as already satisfied
        write_bucketed_edges(raw, "explain_audit_bkt", buckets=8, key="src",
                             path=f"{tmp}/edges")
        enorm = _normalized_edges(read_bucketed_edges(spark, "explain_audit_bkt"),
                                  weighted=False, can_broadcast=False,
                                  edge_layout="src")
        setup = cached_setup_plan(enorm)
        assert "Exchange" not in setup, setup
        enorm.unpersist()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS explain_audit_bkt")
        shutil.rmtree(tmp, ignore_errors=True)
    print("shuffle regime, bucketed-by-src + edge_layout='src': "
          "setup plan exchange-free (asserted)")
    spark.stop()


if __name__ == "__main__":
    main()
