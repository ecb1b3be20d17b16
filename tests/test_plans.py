"""Plan-property regression tests: the scale claims of PLANS.md asserted
so a refactor can't silently regress them."""

import io
import re
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from vscode_parquet_visualizer_spark.operators.scale import has_exchange
from vscode_parquet_visualizer_spark.sources import registry


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def lineitem(spark, sf_dir):
    # other modules persist these tables (workload.load_tables); cached
    # plans substitute InMemoryRelation for identical scans, which hides
    # the scan-level properties these tests assert
    spark.catalog.clearCache()
    return registry.read(spark, f"{sf_dir}/lineitem.parquet", "parquet")


def test_filters_push_to_scan(lineitem):
    df = lineitem.filter(
        (F.col("l_quantity") < 24) & (F.col("l_discount") > 0.05)
    ).select("l_extendedprice")
    plan = plan_of(df)
    assert "LessThan(l_quantity,24.0)" in plan
    assert "GreaterThan(l_discount,0.05)" in plan


def test_column_pruning_reaches_scan(lineitem):
    df = lineitem.select("l_orderkey", "l_quantity")
    plan = plan_of(df)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(m.group(1).split(",")) == {
        "l_orderkey:bigint", "l_quantity:double"
    }


def test_dim_join_broadcasts(spark, sf_dir, lineitem):
    nation = registry.read(spark, f"{sf_dir}/nation.parquet", "parquet")
    supplier = registry.read(spark, f"{sf_dir}/supplier.parquet", "parquet")
    df = lineitem.join(supplier, F.col("l_suppkey") == F.col("s_suppkey")).join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    )
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan


def test_range_join_avoids_nested_loop(spark, sf_dir, lineitem):
    from vscode_parquet_visualizer_spark.operators.range_join import range_join

    orders = registry.read(spark, f"{sf_dir}/orders.parquet", "parquet")
    iv = orders.select(
        "o_orderkey",
        F.unix_millis(F.col("o_orderdate").cast("timestamp")).alias("lo"),
        (F.unix_millis(F.col("o_orderdate").cast("timestamp")) + 86400000).alias("hi"),
    )
    pt = lineitem.select(
        F.unix_millis(F.col("l_shipdate").cast("timestamp")).alias("t")
    )
    plan = plan_of(range_join(pt, iv, "t", "lo", "hi", bucket_width=86400000))
    assert "NestedLoop" not in plan
    # the naive BETWEEN theta join IS a nested loop — prove the contrast
    naive = pt.join(iv, F.col("t").between(F.col("lo"), F.col("hi")))
    assert "NestedLoop" in plan_of(naive)


def test_limit_pushes_into_scan(lineitem):
    plan = plan_of(lineitem.limit(20))
    assert re.search(r"(GlobalLimit|CollectLimit)", plan)


def test_asof_join_is_single_window_shuffle(spark, sf_dir):
    from vscode_parquet_visualizer_spark.operators.asof import asof_join

    ev = registry.read(spark, f"{sf_dir}/events.parquet", "parquet")
    p = ev.filter("event_type = 'purchase'").select(
        "user_id", "event_id", F.unix_millis("ts").alias("ms")
    )
    v = ev.filter("event_type = 'view'").select(
        "user_id", F.col("event_id").alias("vid"), F.unix_millis("ts").alias("ms")
    )
    plan = plan_of(asof_join(p, v, on="ms", by=["user_id"]))
    # one shuffle for the window partitioning, no join operators at all
    assert "Join" not in plan.replace("Window", "")
    assert plan.count("Exchange") <= 2  # union sides coalesce into one shuffle


def test_session_window_is_single_shuffle_no_sort_pass(spark, sf_dir):
    """q71's shape: session merging happens inside the aggregate after ONE
    shuffle on the grouping key — no self-join and no window-function
    operator (the gaps-and-islands formulation would need a sort + running
    sum + second aggregate)."""
    ev = registry.read(spark, f"{sf_dir}/events.parquet", "parquet")
    df = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("sess"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("sess.start").alias("s"), "user_id", "n_events")
    )
    plan = plan_of(df)
    assert "Join" not in plan
    # formatted output names each node twice (tree + details): count nodes
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "MergingSessions" in plan  # merge inside the agg, no window op
    # only (ts, user_id) leave the scan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and {c.split(":")[0] for c in m.group(1).split(",")} == {
        "ts", "user_id"
    }


def test_distinct_on_is_window_not_join(spark, sf_dir):
    """q73's lowering: one window pass over one shuffle — not the
    groupBy+self-join a naive DISTINCT ON translation would produce."""
    from vscode_parquet_visualizer_spark.plans import dialect

    spark.catalog.clearCache()
    registry.read(spark, f"{sf_dir}/orders.parquet", "parquet").createOrReplaceTempView(
        "plans_orders"
    )
    plan = plan_of(
        spark.sql(
            dialect.transpile(
                "SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, o_totalprice "
                "FROM plans_orders ORDER BY o_custkey, o_totalprice DESC, o_orderkey"
            )
        )
    )
    assert "Join" not in plan
    assert "Window" in plan


def test_topk_partial_limit_before_shuffle(spark, sf_dir):
    """brute_force_topk's exchange must carry only k-bounded survivors:
    Spark's rank-limit pushdown plants a PARTIAL WindowGroupLimit on the
    map side, BELOW the exchange feeding the final rank window — so the
    shuffle moves ≤ k rows per (query, partition), never the full scored
    set."""
    from pyspark.sql import functions as F

    from vscode_parquet_visualizer_spark.operators.similarity import (
        brute_force_topk,
    )
    from vscode_parquet_visualizer_spark.sources import registry

    emb = registry.read(spark, f"{sf_dir}/embeddings.parquet", "parquet")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    plan = plan_of(brute_force_topk(emb, queries, k=10))
    # no Python round-trip in the ranking path
    assert "MapInPandas" not in plan
    # the partial group limit must appear upstream of the shuffle: in
    # formatted explain the tree prints top-down, so the Partial
    # WindowGroupLimit sits BELOW the Exchange line feeding the Window
    ex = plan.index("Exchange")
    assert "WindowGroupLimit" in plan[ex:]
    assert "Partial" in plan[ex:]


def test_ann_join_does_not_duplicate_python_udf(spark, sf_dir, monkeypatch):
    """A join key produced by a nullable Python UDF gets an implicit
    IsNotNull, which Catalyst pushes below the projection by DUPLICATING
    the ArrowEvalPython — the corpus then crosses the Python boundary
    twice in series (measured 10x the pass cost). The coalesce(udf, -1)
    non-nullable-key guard must keep exactly ONE ArrowEvalPython per
    join side: corpus assign/bucketize + broadcast probe/bucketize.

    Round 15: bucketization is size-routed (similarity.py
    `_bucketize_all_tables`) — below the JVM-route budget there are ZERO
    Python nodes; the duplication guard is exercised on the GEMM route,
    where the pin stays exactly 2 (one per join side). The test moves
    `_LSH_JVM_MAX_BYTES` to pin each route."""
    from vscode_parquet_visualizer_spark.operators import similarity
    from vscode_parquet_visualizer_spark.operators.similarity import (
        ivf_neighbors,
        lsh_neighbors,
    )

    emb = registry.read(spark, f"{sf_dir}/embeddings.parquet", "parquet")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def simple_plan(df) -> str:
        # simple mode: formatted/AQE output prints operators twice
        return df._jdf.queryExecution().executedPlan().toString()

    # round 5: IVF assignment/probe are pure JVM expressions (unit
    # centroids → argmax-dot) — zero Python boundary crossings, and the
    # coalesce guard still prevents the expensive argmax expression from
    # being duplicated by an injected IsNotNull.
    plan = simple_plan(ivf_neighbors(emb, queries, threshold=0.9))
    assert plan.count("ArrowEvalPython") == 0  # fully JVM-side
    # both bucketization routes pinned by the JVM-route ceiling, not by
    # the fixture's size estimate. JVM route: no Python
    monkeypatch.setattr(similarity, "_LSH_JVM_MAX_BYTES", 1 << 63)
    plan = simple_plan(lsh_neighbors(emb, queries, threshold=0.9, dim=64))
    assert plan.count("ArrowEvalPython") == 0
    # GEMM route: the duplication guard must hold the count at exactly
    # one ArrowEvalPython per join side
    monkeypatch.setattr(similarity, "_LSH_JVM_MAX_BYTES", -1)
    plan = simple_plan(lsh_neighbors(emb, queries, threshold=0.9, dim=64))
    assert plan.count("ArrowEvalPython") == 2  # corpus + query bucketize


def test_ivf_centroids_are_data_not_literal_tree(spark, sf_dir):
    """Round 6: at a 100 TB-realistic cell count (k=256 × dim 64) the
    per-centroid literal form is ~16k Catalyst nodes — past codegen
    method limits, silently dropping the corpus pass to the volcano
    path. The centroid matrix must ride as ONE constant-folded literal
    (from_json of a string literal), so the plan stays O(1) nodes at
    any k: still zero Python passes, and the physical plan string stays
    small (a 16k-node literal tree prints megabytes)."""
    from vscode_parquet_visualizer_spark.operators.similarity import (
        ivf_neighbors,
    )

    emb = registry.read(spark, f"{sf_dir}/embeddings.parquet", "parquet")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    df = ivf_neighbors(
        emb, queries, threshold=0.9, n_centroids=256, fit_sample_rows=2000
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 0
    # the folded literal prints its VALUE (16k doubles) in the plan
    # string, so string length is no proxy — count expression NODES:
    # the literal form emitted one zip_with+aggregate pair per centroid
    # (~256 each per pass); the data form has one transform per pass.
    assert plan.count("zip_with") < 20, plan.count("zip_with")
    assert plan.count("transform") >= 1
    # the probe stage still executes end-to-end at k=256
    assert df.limit(1).count() >= 0


def test_partkey_projection_queries_plan_exchange_free(spark, sf_dir):
    """q17/q66 read the cached l_partkey projection
    (workload.lineitem_partkey_projection): HashPartitioning(l_partkey)
    must satisfy the agg + probe-join (q17) and the exact-distinct
    dedup (q66) with NO data exchange above the cache — only the final
    scalar/3-row aggregation may shuffle. The projection build (inside
    InMemoryRelation) is excluded: it is the one amortized shuffle."""
    from vscode_parquet_visualizer_spark import workload

    # the lineitem fixture clearCache()s — rebuild and REmaterialize the
    # projection so its HashPartitioning is known at planning time
    workload._projection_cache.pop((id(spark), sf_dir), None)
    proj = workload.lineitem_partkey_projection(spark, sf_dir)
    proj.count()
    for name, allowed in [
        ("q17_correlated_subquery", 1),  # final global agg only
        # two per-flag aggs (3 rows each) + one 3-row broadcast; the
        # (flag, partkey) dedup exchange is the one that must be gone
        ("q66_approx_distinct", 3),
    ]:
        df = workload.QUERIES[name](spark, sf_dir)

        def count_ex(p):
            # walk the JVM plan, stopping at cache boundaries — the
            # projection's one build shuffle lives INSIDE the
            # InMemoryTableScan and is the amortized exception
            kind = p.getClass().getSimpleName()
            if "InMemoryTableScan" in kind:
                return 0
            n = 1 if ("Exchange" in kind and "Reused" not in kind) else 0
            ch = p.children()
            for i in range(ch.size()):
                n += count_ex(ch.apply(i))
            return n

        jp = df._jdf.queryExecution().executedPlan()
        if "AdaptiveSparkPlan" in jp.getClass().getSimpleName():
            jp = jp.initialPlan()
        n_ex = count_ex(jp)
        assert n_ex <= allowed, f"{name}: {n_ex} exchanges\n{plan_of(df)}"


def test_q18_distinct_agg_has_no_expand(spark, sf_dir):
    # r10 verdict item 1: mixing count(DISTINCT) with FILTER aggregates
    # in one Aggregate forces Spark's Expand-based plan (~2x row
    # inflation through the first shuffle on the fact table). q18 is
    # restructured as a two-level aggregation; pin Expand out of the
    # plan so a rewrite can't silently reintroduce it.
    from vscode_parquet_visualizer_spark import workload

    df = workload.QUERIES["q18_filtered_distinct_agg"](spark, sf_dir)
    p = plan_of(df)
    assert "Expand" not in p, p
    # and exactly two exchanges: (flag, supp) pre-aggregate + final
    # (count the tree section only — node details repeat each name)
    tree = p.split("\n\n")[0]
    assert tree.count("Exchange") <= 2, p


def test_exclude_peer_aligned_shapes_avoid_collect_fold(spark, sf_dir):
    # r10 verdict item 7: the general EXCLUDE lowering materializes the
    # frame per row (collect_list + fold, O(frame) memory — documented
    # bound, COVERAGE.md round-10). The SCALE path — peer-aligned and
    # frameless shapes — must keep the algebraic/two-level lowering
    # with NO collect_list in the optimized plan.
    from vscode_parquet_visualizer_spark.plans.sql_gateway import run_sql

    spark.catalog.clearCache()
    registry.read(
        spark, f"{sf_dir}/lineitem.parquet", "parquet"
    ).createOrReplaceTempView("lineitem_xp")
    shapes = {
        "sum_current_row": """
            SELECT l_orderkey,
                   sum(l_quantity) OVER (
                     PARTITION BY l_returnflag ORDER BY l_orderkey
                     EXCLUDE CURRENT ROW) AS s
            FROM lineitem_xp""",
        "count_group_frameless": """
            SELECT l_orderkey,
                   count(*) OVER (
                     PARTITION BY l_returnflag ORDER BY l_orderkey
                     EXCLUDE GROUP) AS c
            FROM lineitem_xp""",
        "avg_ties_range": """
            SELECT l_orderkey,
                   avg(l_extendedprice) OVER (
                     PARTITION BY l_returnflag ORDER BY l_orderkey
                     RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     EXCLUDE TIES) AS a
            FROM lineitem_xp""",
        "min_frameless_exclude": """
            SELECT l_orderkey,
                   min(l_quantity) OVER (
                     PARTITION BY l_returnflag ORDER BY l_orderkey
                     EXCLUDE CURRENT ROW) AS m
            FROM lineitem_xp""",
    }
    for name, sql in shapes.items():
        p = plan_of(run_sql(spark, sql))
        assert "collect_list" not in p, f"{name} routed through the O(frame) fold:\n{p}"
