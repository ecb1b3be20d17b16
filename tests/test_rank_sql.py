"""Gateway lowering of pass-through rank-family window SQL onto the
distributed rank operator (plans/rank_sql.py) — round-11 verdict item
5: q59's own SQL text at forced-large size must produce the distributed
plan (no WindowExec over the fact table), row-equal to the window plan.
The reference passes this SQL verbatim to its engine
(src/worker.ts:516-541)."""

import warnings

import pytest
from pyspark.sql import functions as F

from vscode_parquet_visualizer_spark.plans.sql_gateway import run_sql

Q59_SQL = """
    SELECT o_orderkey,
           CAST(rank() OVER w AS BIGINT) AS rnk,
           CAST(dense_rank() OVER w AS BIGINT) AS drnk,
           round(percent_rank() OVER w, 6) AS prnk,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           first_value(o_orderkey) OVER w AS first_in_status,
           nth_value(o_orderkey, 2) OVER (PARTITION BY o_orderstatus
                     ORDER BY o_totalprice DESC, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS second_best
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus
                 ORDER BY o_totalprice DESC, o_orderkey)
"""


@pytest.fixture(scope="module", autouse=True)
def views(spark):
    spark.read.parquet(
        "/root/testdata/sf0.01/orders.parquet"
    ).createOrReplaceTempView("orders")
    # tie-heavy table: 4 partitions x heavily duplicated order keys,
    # NULLs in both the partition and the order column
    spark.range(400).select(
        F.when(F.col("id") % 10 == 0, None)
        .otherwise(F.col("id") % 4)
        .alias("g"),
        F.when(F.col("id") % 7 == 0, None)
        .otherwise(F.col("id") % 5)
        .alias("k"),
        F.col("id").alias("uid"),
    ).createOrReplaceTempView("ties")


def _rows(spark, sql):
    return sorted(tuple(r) for r in run_sql(spark, sql).collect())


def test_q59_sql_forced_distributed_row_equal(spark, rank_route):
    rank_route("window")
    want = _rows(spark, Q59_SQL)
    rank_route("distributed")
    df = run_sql(spark, Q59_SQL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, "lowered q59 SQL must not plan WindowExec"
    got = sorted(tuple(r) for r in df.collect())
    assert got == want and len(got) == 15000


def test_ties_and_nulls_tie_correct(spark, rank_route):
    # rank/dense_rank/percent_rank/cume_dist under heavy ties and NULL
    # keys — the tie-CORRECT paths (keystats join, distinct-key rank);
    # row_number/ntile excluded: their tie order is engine-arbitrary
    sql = """
        SELECT uid,
               rank() OVER w AS r,
               dense_rank() OVER w AS dr,
               round(percent_rank() OVER w, 9) AS pr,
               round(cume_dist() OVER w, 9) AS cd,
               first_value(uid) OVER w AS fv
        FROM ties
        WINDOW w AS (PARTITION BY g ORDER BY k DESC NULLS FIRST)
    """
    rank_route("window")
    want = _rows(spark, sql)
    rank_route("distributed")
    df = run_sql(spark, sql)
    assert "Window" not in df._jdf.queryExecution().executedPlan().toString()
    assert sorted(tuple(r) for r in df.collect()) == want


def test_default_frame_nth_and_last_value(spark, rank_route):
    # default frame: nth_value is NULL until the k-th row; last_value's
    # frame ends at the current row (the row's own value). Total order
    # so the window oracle is deterministic.
    sql = """
        SELECT uid,
               nth_value(uid, 3) OVER w AS n3,
               last_value(uid) OVER w AS lv,
               last_value(uid) OVER (PARTITION BY g ORDER BY uid
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                   AS lv_all,
               row_number() OVER w AS rn
        FROM ties
        WINDOW w AS (PARTITION BY g ORDER BY uid)
    """
    rank_route("window")
    want = _rows(spark, sql)
    rank_route("distributed")
    assert _rows(spark, sql) == want


def test_auto_mode_small_input_keeps_window_plan(spark):
    df = run_sql(
        spark,
        "SELECT o_orderkey, rank() OVER (PARTITION BY o_orderstatus "
        "ORDER BY o_totalprice) AS r FROM orders",
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan  # below the 64 MiB gate: plain window plan


def test_unsupported_shape_warns_loudly(spark, rank_route):
    # a wall-shaped query the lowering can't cover (rank + a bounded
    # frame on another call sharing the spec) must warn, not silently
    # plan the non-scaling WindowExec
    rank_route("distributed")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        df = run_sql(
            spark,
            "SELECT rank() OVER (PARTITION BY o_orderstatus ORDER BY "
            "o_totalprice ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS r "
            "FROM orders",
        )
        df.limit(1).collect()
    assert any(
        "WindowExec" in str(x.message) or "distributed-rank" in str(x.message)
        for x in w
    )


def test_where_and_tail_survive_lowering(spark, rank_route):
    sql = """
        SELECT uid, dense_rank() OVER (PARTITION BY g ORDER BY k, uid) AS dr
        FROM ties WHERE uid >= 100 ORDER BY uid LIMIT 7
    """
    rank_route("window")
    want = [tuple(r) for r in run_sql(spark, sql).collect()]
    rank_route("distributed")
    got = [tuple(r) for r in run_sql(spark, sql).collect()]
    assert got == want and len(got) == 7 and got[0][0] == 100


def test_default_null_order_parity(spark, rank_route):
    # no explicit NULLS modifier: the lowered path must apply the same
    # default null placement as the transpiled window path (DuckDB:
    # NULLS LAST in both directions)
    for spec in ("ORDER BY k", "ORDER BY k DESC"):
        sql = (
            "SELECT uid, rank() OVER (PARTITION BY g " + spec + ", uid) "
            "AS r, dense_rank() OVER (PARTITION BY g " + spec + ", uid) "
            "AS dr FROM ties"
        )
        rank_route("window")
        want = _rows(spark, sql)
        rank_route("distributed")
        assert _rows(spark, sql) == want, spec


def test_lag_lead_lowering(spark, rank_route):
    # lag/lead via the ghost-row blocked window; total order so the
    # window oracle is deterministic; includes an explicit offset and a
    # default value
    sql = """
        SELECT uid,
               lag(uid) OVER w AS prev1,
               lag(k, 2, -1) OVER w AS prev2_dflt,
               lead(uid, 3) OVER w AS next3
        FROM ties
        WINDOW w AS (PARTITION BY g ORDER BY uid)
    """
    rank_route("window")
    want = _rows(spark, sql)
    rank_route("distributed")
    df = run_sql(spark, sql)
    # the distributed lag DOES use a Window node — but only over the
    # blocked high-cardinality (keys, __blk) key, never the raw
    # low-NDV partition key (that would be the one-task wall)
    plan = df._jdf.queryExecution().executedPlan().toString()
    win_lines = [ln for ln in plan.splitlines() if "Window [" in ln]
    assert win_lines and all("__blk" in ln for ln in win_lines), plan
    assert sorted(tuple(r) for r in df.collect()) == want


def test_whole_partition_aggregates(spark, rank_route):
    # sum/avg/min/count(*) OVER (PARTITION BY p) — no ORDER BY: lowered
    # to one groupBy + broadcast attach, no WindowExec
    sql = """
        SELECT uid,
               sum(k) OVER (PARTITION BY g) AS s,
               round(avg(k) OVER (PARTITION BY g), 9) AS a,
               min(uid) OVER (PARTITION BY g) AS mn,
               count(*) OVER (PARTITION BY g) AS cnt
        FROM ties
    """
    rank_route("window")
    want = _rows(spark, sql)
    rank_route("distributed")
    df = run_sql(spark, sql)
    assert "Window" not in df._jdf.queryExecution().executedPlan().toString()
    assert sorted(tuple(r) for r in df.collect()) == want


def test_global_aggregate_over_empty_partition(spark, rank_route):
    sql = "SELECT uid, count(*) OVER () AS n, max(k) OVER () AS mx FROM ties"
    rank_route("window")
    want = _rows(spark, sql)
    rank_route("distributed")
    assert _rows(spark, sql) == want


def test_running_avg_lowering(spark, rank_route):
    # running avg = running exact-int sum / running count inside the
    # segmented-prefix kernel; integral measure so the division operands
    # are bit-identical to the window plan's
    sql = (
        "SELECT uid, avg(k) OVER w AS ra, avg(uid) OVER w AS rb "
        "FROM ties WINDOW w AS (PARTITION BY g ORDER BY k, uid)"
    )
    rank_route("window")
    want = _rows(spark, sql)
    rank_route("distributed")
    df = run_sql(spark, sql)
    _assert_no_wall_windows(df)
    assert sorted(tuple(r) for r in df.collect()) == want


def _assert_no_wall_windows(df):
    # r14 optimization round: the distributed running-agg routes never
    # plan WindowExec with a data-cardinality partition key. Two Window
    # shapes are the design, both bounded: the all-RANGE group-broadcast
    # route's Window over the GROUP TABLE (per-group partials,
    # recognizable by __gv/__gc, capped by the broadcast budget), and
    # the JVM finish's Window partitioned by (__rwkey, __rpid[, tie]) —
    # the task id in the key caps every group at one substrate
    # partition. Any other WindowExec is the one-task-per-window-
    # partition wall and fails here.
    plan = df._jdf.queryExecution().executedPlan().toString()
    for ln in plan.splitlines():
        if "Window [" in ln:
            assert "__gv" in ln or "__gc" in ln or "__rpid" in ln, ln


def test_optin_families_keep_window_plan_in_auto_mode(spark):
    # lag and running aggregates route only past the task budget: the
    # default gates keep the window plan (the wall warning only fires
    # above the size gate, which no test-scale input reaches).
    sql = (
        "SELECT uid, lag(uid) OVER (PARTITION BY g ORDER BY uid) AS pv "
        "FROM ties"
    )
    df = run_sql(spark, sql)
    assert "Window" in df._jdf.queryExecution().executedPlan().toString()


def test_running_aggregates_lowering(spark, rank_route):
    # running sum/min/max/count via the distributed segmented prefix;
    # total order so rows- and range-frames agree and the oracle is
    # deterministic
    sql = """
        SELECT uid,
               sum(k) OVER w AS rs,
               min(k) OVER w AS rmin,
               max(uid) OVER w AS rmax,
               count(k) OVER w AS rck,
               count(*) OVER w AS rc,
               sum(uid) OVER (PARTITION BY g ORDER BY uid
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rs_rows
        FROM ties
        WINDOW w AS (PARTITION BY g ORDER BY uid)
    """
    rank_route("window")
    want = _rows(spark, sql)
    rank_route("distributed")
    df = run_sql(spark, sql)
    _assert_no_wall_windows(df)
    assert sorted(tuple(r) for r in df.collect()) == want


def test_running_aggregates_tie_inclusive(spark, rank_route):
    # the DEFAULT frame is RANGE ... CURRENT ROW: all peers of the
    # current row are in frame, so tied order keys share one running
    # value — deterministic even though the tie ORDER is not. k is
    # heavily duplicated and NULL-bearing in the ties fixture.
    sql = """
        SELECT uid,
               sum(uid) OVER w AS rs,
               count(*) OVER w AS rc,
               min(uid) OVER w AS rmin
        FROM ties
        WINDOW w AS (PARTITION BY g ORDER BY k)
    """
    rank_route("window")
    want = _rows(spark, sql)
    rank_route("distributed")
    assert _rows(spark, sql) == want


# ---- round 14 optimization: group-broadcast RANGE running aggregates ----


def test_range_running_aggs_use_group_broadcast(spark, rank_route):
    # all-RANGE running aggregates route as per-group partials + a
    # Window over the bounded GROUP TABLE + a broadcast join back —
    # no sort substrate, no Python kernel (rank.py
    # _attach_running_aggs_grouped; guide §8 "decide with small rows").
    sql = """
        SELECT uid,
               sum(uid) OVER w AS rs,
               avg(uid) OVER w AS ra,
               count(*) OVER w AS rc
        FROM ties
        WINDOW w AS (PARTITION BY g ORDER BY k)
    """
    rank_route("window")
    want = _rows(spark, sql)
    rank_route("distributed")
    df = run_sql(spark, sql)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "MapInArrow" not in plan, "all-RANGE specs must skip the kernel"
    assert sorted(tuple(r) for r in df.collect()) == want


def test_range_running_aggs_group_budget_falls_back_to_window_finish(
    spark, monkeypatch, rank_route
):
    # a group table over _RAGG_BCAST_MAX rows cannot be
    # broadcast: the route must fall back to the positional finish
    # (the JVM tie-aware window finish), correct at any order-key NDV
    # for every measure kind.
    from vscode_parquet_visualizer_spark.operators import rank

    monkeypatch.setattr(rank, "_RAGG_BCAST_MAX", 1)  # auto-restored
    sql = """
        SELECT uid,
               sum(uid) OVER w AS rs,
               avg(k)   OVER w AS ra,
               min(uid) OVER w AS rmin,
               count(k) OVER w AS rc
        FROM ties
        WINDOW w AS (PARTITION BY g ORDER BY k)
    """
    rank_route("window")
    want = _rows(spark, sql)
    rank_route("distributed")
    df = run_sql(spark, sql)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" not in plan, "tie-aware JVM finish, not the kernel"
    assert "Window" in plan
    # r15 (r14 verdict item 3): the pure-RANGE over-budget finish is a
    # SINGLE window — the RANGE frame's peers are the tie group, so the
    # r14 second (tie-last) window and its extra in-task sort are gone
    assert plan.count("Window") == 1, plan
    assert sorted(tuple(r) for r in df.collect()) == want


def test_range_overbudget_fallback_releases_group_table(
    spark, monkeypatch, rank_route
):
    # r14 ADVICE (medium): the budget fallback must unpersist the
    # abandoned group table immediately, not leave it in the columnar
    # cache until 4 later builds retire it
    from vscode_parquet_visualizer_spark.operators import persist, rank

    released = []
    real = persist.release_salted

    def spy(df):
        released.append(df)
        real(df)

    monkeypatch.setattr(rank, "release_salted", spy)
    monkeypatch.setattr(rank, "_RAGG_BCAST_MAX", 1)
    rank_route("distributed")
    df = run_sql(
        spark,
        "SELECT uid, sum(uid) OVER (PARTITION BY g ORDER BY k) AS rs "
        "FROM ties",
    )
    df.collect()
    assert len(released) == 1, "fallback must release the group table"
    src = getattr(released[0], "_salted_source", None)
    assert src is not None and src not in persist._LIVE


def test_range_ndv_preprobe_skips_group_table_build(
    spark, monkeypatch, rank_route
):
    # r15 (r14 verdict item 6 + ADVICE): above the probe size floor, an
    # obviously over-budget approx NDV skips building (and persisting)
    # the group table entirely; the query still answers row-identically
    # through the JVM finish
    from vscode_parquet_visualizer_spark.operators import rank

    substrates = []
    real = rank._persist_substrate

    def spy(df):
        substrates.append(df)
        return real(df)

    monkeypatch.setattr(rank, "_persist_substrate", spy)
    monkeypatch.setattr(rank, "_RAGG_BCAST_MAX", 1)
    monkeypatch.setattr(rank, "_RAGG_PROBE_MIN_BYTES", 0)
    sql = (
        "SELECT uid, sum(uid) OVER (PARTITION BY g ORDER BY k) AS rs "
        "FROM ties"
    )
    rank_route("window")
    want = _rows(spark, sql)
    rank_route("distributed")
    assert _rows(spark, sql) == want
    # nothing persisted: the probe skipped the group-table build, and
    # the window finish re-executes its sort rather than caching it
    assert len(substrates) == 0


def test_rows_running_aggs_use_jvm_window_finish(spark, rank_route):
    # all-ROWS running aggregates finish JVM-side (rank.py
    # _finish_running_aggs_window; guide §4 "eliminate the Python
    # boundary"): sorted substrate + driver-folded carries as before,
    # but the per-row running values come from Spark's own WindowExec
    # over (rendered key, task id) — no MapInArrow kernel. Mixed
    # sum/avg/min/count over tie-heavy NULL-bearing data, row-equal to
    # WindowExec.
    sql = """
        SELECT uid,
               sum(k) OVER w AS rs,
               avg(k) OVER w AS ra,
               min(k) OVER w AS rmin,
               count(*) OVER w AS rc
        FROM ties
        WINDOW w AS (PARTITION BY g ORDER BY k, uid
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """
    rank_route("window")
    want = _rows(spark, sql)
    rank_route("distributed")
    df = run_sql(spark, sql)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" not in plan, "all-ROWS specs must skip the kernel"
    assert "Window" in plan, "in-task running values come from WindowExec"
    assert sorted(tuple(r) for r in df.collect()) == want


def test_mixed_rows_range_running_aggs_jvm_finish(
    spark, monkeypatch, rank_route
):
    # ROWS and RANGE frames over ONE (PARTITION BY g ORDER BY k): the
    # JVM finish computes ROWS per-row and RANGE through a RANGE-frame
    # window, both over the same substrate. Tie-heavy NULL-bearing
    # order key; the ROWS aggregates are running min/max of the order
    # key itself, so their values do not depend on how ties are ordered.
    sql = """
        SELECT uid,
               max(k)   OVER (PARTITION BY g ORDER BY k
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rmx,
               min(k)   OVER (PARTITION BY g ORDER BY k
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rmn,
               sum(uid) OVER (PARTITION BY g ORDER BY k) AS ts,
               avg(uid) OVER (PARTITION BY g ORDER BY k) AS ta
        FROM ties
    """
    from vscode_parquet_visualizer_spark.operators import rank

    # force past the group-broadcast route so the finish itself is on
    # trial even for the all-RANGE members
    monkeypatch.setattr(rank, "_RAGG_BCAST_MAX", 1)
    rank_route("window")
    want = _rows(spark, sql)
    assert _lowered_rows(spark, monkeypatch, rank_route, sql) == want


def test_in_memory_view_without_estimate_keeps_window_plan(spark):
    # a createDataFrame view has no statistics: Catalyst sizes it at
    # Long.MaxValue, which must read as "no estimate" (WindowExec, no
    # warning) and never as a size past the gate
    from vscode_parquet_visualizer_spark.plans import rank_sql

    spark.createDataFrame(
        [(i % 3, i) for i in range(30)], "g int, uid int"
    ).createOrReplaceTempView("mem_rank")
    sql = (
        "SELECT uid, rank() OVER (PARTITION BY g ORDER BY uid) AS r "
        "FROM mem_rank"
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        assert rank_sql.try_rewrite_rank(spark, sql, run_sql) is None
        df = run_sql(spark, sql)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window [" in plan, plan
    assert df.count() == 30


# ---- round 13: subquery guard, bounded NDV probe, size-scaled route ----


def test_scalar_subquery_over_falls_back(spark, rank_route):
    # r13 ADVICE item 1: an OVER inside a scalar subquery must not be
    # parsed as a window over the outer child. `other_uid` shares the
    # column NAME uid with ties but different values — the old parse
    # computed max(uid) over TIES and spliced the result column into
    # the subquery (outer-reference resolution → silently 399). The
    # guard aborts the lowering; the normal path answers 1004.
    spark.range(5).select((F.col("id") + 1000).alias("uid")) \
        .createOrReplaceTempView("other_uid")
    sql = (
        "SELECT uid, (SELECT max(uid) OVER () FROM other_uid LIMIT 1) "
        "AS m FROM ties"
    )
    rank_route("window")
    want = _rows(spark, sql)
    assert want[0][1] == 1004
    rank_route("distributed")
    assert _rows(spark, sql) == want


def test_ndv_probe_plan_is_limited(spark):
    # r12 verdict item 4: the routing probe must not scan the full
    # child — its plan carries a LIMIT that pushes into the scan
    from vscode_parquet_visualizer_spark.plans.rank_sql import (
        _NDV_PROBE_ROWS,
        _ndv_probe_df,
    )

    df = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
    probe = _ndv_probe_df(df, ["o_orderstatus"])
    plan = probe._jdf.queryExecution().optimizedPlan().toString()
    assert f"GlobalLimit {_NDV_PROBE_ROWS}" in plan, plan
    # key-column pruning reaches the scan too
    assert "o_comment" not in plan.split("ReadSchema")[-1]
    assert probe.first()["__ndv"] > 0


def test_size_scaled_auto_route_lag(spark, monkeypatch, rank_route):
    # r12 verdict item 1a: past the size and NDV gates, a window
    # partition whose estimated bytes exceed the single-task budget
    # routes the lag family distributed (WindowExec would not finish);
    # below the budget the gateway keeps WindowExec and warns.
    from vscode_parquet_visualizer_spark.plans import rank_sql

    sql = (
        "SELECT uid, lag(uid) OVER (PARTITION BY g ORDER BY uid) AS p "
        "FROM ties"
    )
    rank_route("window")
    want = _rows(spark, sql)
    monkeypatch.setattr(rank_sql, "_SIZE_GATE", 1)
    monkeypatch.setattr(rank_sql, "_TASK_BUDGET", 1)
    rank_sql.note_catalog_change()
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        df = run_sql(spark, sql)
    plan = df._jdf.queryExecution().executedPlan().toString()
    win_lines = [ln for ln in plan.splitlines() if "Window [" in ln]
    assert win_lines and all("__blk" in ln for ln in win_lines), plan
    assert sorted(tuple(r) for r in df.collect()) == want
    # huge budget: the plain window plan stays, warning loudly
    monkeypatch.setattr(rank_sql, "_TASK_BUDGET", 1 << 60)
    rank_sql.note_catalog_change()
    with pytest.warns(RuntimeWarning, match="still fits one task"):
        df2 = run_sql(spark, sql)
    plan2 = df2._jdf.queryExecution().executedPlan().toString()
    assert any(
        "Window [" in ln and "__blk" not in ln
        for ln in plan2.splitlines()
    ), plan2
    assert sorted(tuple(r) for r in df2.collect()) == want


def test_lowering_prunes_child_columns(spark, rank_route):
    # r13: the lowering prunes the child to referenced + window-key
    # columns (WindowExec gets this from Catalyst for free; the eager
    # child must do it by hand or every shuffle carries the full row)
    rank_route("distributed")
    df = run_sql(
        spark,
        "SELECT o_orderkey, rank() OVER (PARTITION BY o_orderstatus "
        "ORDER BY o_totalprice) AS r FROM orders",
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "o_comment" not in plan, "unreferenced wide column shuffled"
    assert "o_clerk" not in plan


def test_lowered_views_do_not_leak(spark, rank_route):
    # r13 ADVICE item 5a: the lowering's temp view is dropped after the
    # outer select is analyzed — no per-query catalog growth
    rank_route("distributed")
    df = run_sql(
        spark,
        "SELECT uid, rank() OVER (PARTITION BY g ORDER BY uid) AS r "
        "FROM ties",
    )
    leaked = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("__rank_lowered")
    ]
    assert leaked == []
    assert df.count() == 400  # result stays usable after the drop


def test_gate_caches_invalidate_on_ddl(spark):
    # r13 ADVICE item 5b: re-registering a relation must not reuse
    # stale size/NDV gate probes keyed by the same child text
    from vscode_parquet_visualizer_spark.plans import rank_sql

    rank_sql._SIZE_CACHE["SELECT * FROM r13_stale"] = 1 << 40
    rank_sql._NDV_CACHE[("SELECT * FROM r13_stale", ("g",))] = 3
    run_sql(spark, "CREATE OR REPLACE TABLE r13_cachebust AS SELECT 1 AS a")
    assert rank_sql._SIZE_CACHE == {}
    assert rank_sql._NDV_CACHE == {}


def test_quoted_identifier_survives_pruning(spark, rank_route):
    # r14 ADVICE item 2: the r13 column pruning scanned the outer text
    # with a bare-identifier regex, but quoted identifiers travel as
    # \x00IDQn\x00 placeholders at that stage — a child column
    # referenced only as "My Col" was pruned and the rewritten outer
    # SELECT failed with an unresolved-column AnalysisException.
    from pyspark.sql import functions as F

    spark.range(100).select(
        (F.col("id") % 4).alias("g"),
        F.col("id").alias("uid"),
        (F.col("id") * 2).alias("My Col"),
    ).createOrReplaceTempView("r14_quoted")
    sql = (
        'SELECT "My Col", rank() OVER (PARTITION BY g ORDER BY uid) AS r '
        "FROM r14_quoted"
    )
    rank_route("window")
    want = _rows(spark, sql)
    rank_route("distributed")
    df = run_sql(spark, sql)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window [" not in plan, "distributed force must lower"
    assert sorted(tuple(r) for r in df.collect()) == want


def test_unquoted_columns_still_pruned_alongside_quoted(spark, rank_route):
    # the quoted-identifier fix must not disable pruning for the rest
    # of the row: an unreferenced wide column still stays out of the
    # lowered plan even when a quoted identifier appears in the SELECT
    from pyspark.sql import functions as F

    spark.range(100).select(
        (F.col("id") % 4).alias("g"),
        F.col("id").alias("uid"),
        (F.col("id") * 2).alias("My Col"),
        F.lit("x" * 50).alias("wide_unused"),
    ).createOrReplaceTempView("r14_quoted_wide")
    rank_route("distributed")
    df = run_sql(
        spark,
        'SELECT "My Col", rank() OVER (PARTITION BY g ORDER BY uid) AS r '
        "FROM r14_quoted_wide",
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "wide_unused" not in plan, "unreferenced column shuffled"
    assert df.count() == 100


def test_dataset_open_invalidates_gate_caches(spark, tmp_path):
    # r14 ADVICE item 1: Dataset.__init__ re-binds the ``data`` temp
    # view — reusing a stale size/NDV probe keyed on the same child
    # text (``... FROM data``) can mis-route the next window query
    from vscode_parquet_visualizer_spark.engine import Engine
    from vscode_parquet_visualizer_spark.plans import rank_sql

    p = str(tmp_path / "cachebust.parquet")
    spark.range(10).write.parquet(p)
    rank_sql._SIZE_CACHE["SELECT * FROM data"] = 1 << 40
    rank_sql._NDV_CACHE[("SELECT * FROM data", ("g",))] = 3
    Engine(spark=spark).open(p)
    assert rank_sql._SIZE_CACHE == {}
    assert rank_sql._NDV_CACHE == {}


def test_large_offset_lag_plans_blocked_shape(spark, rank_route):
    # r14 verdict item 5: offsets >= 65536 used to fall back to a keyed
    # self-join (the last data-sized build side in the window family);
    # the block size now scales with the offset, so the ghost-row
    # blocked window handles ANY offset — plan shows a __blk window and
    # no join.
    rank_route("distributed")
    sql = (
        "SELECT uid, lag(uid, 70000, -1) OVER "
        "(PARTITION BY g ORDER BY uid) AS pv FROM ties"
    )
    rank_route("window")
    want = _rows(spark, sql)
    rank_route("distributed")
    df = run_sql(spark, sql)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "__blk" in plan, "large offset must use the blocked window"
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert sorted(tuple(r) for r in df.collect()) == want


# ---- window-partition keys: one lossless rendering on both substrates ----

_ROWS_SUM = (
    "sum(uid) OVER (PARTITION BY s ORDER BY uid "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c"
)
_RN_RANK = (
    "row_number() OVER (PARTITION BY {p} ORDER BY uid) AS rn, "
    "rank() OVER (PARTITION BY {p} ORDER BY uid) AS rk"
)


@pytest.mark.parametrize(
    "ddl,keys,select",
    [
        # key columns, then the key of the first and the second window
        # partition: they differ only in a byte an earlier string
        # rendering used as a separator or NULL sentinel, or (-0.0/0.0)
        # they are one partition to WindowExec
        ("s string", [("a\x00b",), ("a\x1eb",)], _ROWS_SUM),
        ("s string", [(None,), ("\x1eNULL",)], _ROWS_SUM),
        ("s string", [(None,), ("\x00NULL",)], _RN_RANK.format(p="s")),
        (
            "s string, s2 string",
            [("a\x1fb", "c"), ("a", "b\x1fc")],
            _RN_RANK.format(p="s, s2"),
        ),
        ("s double", [(-0.0,), (0.0,)], _RN_RANK.format(p="s")),
        ("s array<string>", [(["a, b"],), (["a", "b"],)],
         _RN_RANK.format(p="s")),
        ("s array<double>", [([-0.0],), ([0.0],)], _RN_RANK.format(p="s")),
        ("s struct<x: double>", [((-0.0,),), ((0.0,),)],
         _RN_RANK.format(p="s")),
    ],
    ids=["nul_vs_rs", "null_vs_rs_sentinel", "null_vs_nul_sentinel",
         "separator_in_value", "negative_zero", "separator_in_array",
         "negative_zero_in_array", "negative_zero_in_struct"],
)
def test_partition_keys_never_merge_or_split(
    spark, monkeypatch, ddl, keys, select, rank_route
):
    # the lowered routes must neither merge nor split window partitions
    rows = [(uid, *keys[uid // 10 % 2]) for uid in range(40)]
    spark.createDataFrame(
        rows, f"uid int, {ddl}"
    ).createOrReplaceTempView("keyt")
    sql = f"SELECT uid, {select} FROM keyt"
    rank_route("window")
    want = _rows(spark, sql)
    assert _lowered_rows(spark, monkeypatch, rank_route, sql) == want


def _lowered_rows(spark, monkeypatch, rank_route, sql):
    """``_rows`` on the pinned distributed route, asserting the query
    lowered."""
    from vscode_parquet_visualizer_spark.plans import rank_sql

    lowered = []
    real = rank_sql.try_rewrite_rank

    def spy(*a, **kw):
        out = real(*a, **kw)
        lowered.append(out is not None)
        return out

    monkeypatch.setattr(rank_sql, "try_rewrite_rank", spy)
    rank_route("distributed")
    rows = _rows(spark, sql)
    assert any(lowered), "the query must take the distributed route"
    return rows


# ---- running aggregates: tie groups never span a task, and it is checked ----


@pytest.mark.parametrize(
    "extra",
    ["", "rank() OVER (PARTITION BY g ORDER BY k) AS rk, "],
    ids=["order_sorted", "presorted_mixed"],
)
@pytest.mark.parametrize(
    "keys",
    [
        [1.0],  # every row one tie group
        [-0.0, 0.0, 1.0],  # one peer group to WindowExec
        [float("nan"), 1.0, 2.0],  # NaN sorts last and ties with NaN
        [None, 1.0],  # NULL order keys are peers
    ],
    ids=["all_tie", "negative_zero", "nan", "null"],
)
def test_range_running_sum_adversarial_ties(
    spark, monkeypatch, keys, extra, rank_route
):
    # the window finish (no group-broadcast route) over 4 range
    # partitions must complete every tie group inside one task. With
    # rank() beside it the finish runs on with_row_numbers' (partition,
    # order)-sorted substrate, where adjacent tasks share an order key
    # across two window partitions — not a spanning tie group
    from vscode_parquet_visualizer_spark.operators import rank

    assert spark.sparkContext.defaultParallelism >= 4
    rows = [(uid, uid % 2, keys[uid % len(keys)]) for uid in range(400)]
    spark.createDataFrame(
        rows, "uid int, g int, k double"
    ).createOrReplaceTempView("tiet")
    sql = (
        f"SELECT uid, {extra}"
        "sum(uid) OVER (PARTITION BY g ORDER BY k) AS ts, "
        "count(*) OVER (PARTITION BY g ORDER BY k) AS tc FROM tiet"
    )
    monkeypatch.setattr(rank, "_RAGG_BCAST_MAX", 1)
    rank_route("window")
    want = _rows(spark, sql)
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)  # no fallback
        assert _lowered_rows(spark, monkeypatch, rank_route, sql) == want


def test_running_aggs_tie_group_spanning_tasks_raises(spark, monkeypatch):
    # a presorted substrate whose tie group spans tasks (here: one tie
    # group hash-scattered over 4 tasks) cannot be finished per task —
    # the edge check must raise, not return wrong running values
    from vscode_parquet_visualizer_spark.operators import rank

    monkeypatch.setattr(rank, "_RAGG_BCAST_MAX", 0)  # one group: skip it
    df = spark.range(100).select(
        F.lit(0).alias("g"), F.lit(1).alias("k"), F.col("id").alias("uid")
    ).repartition(4, "uid")
    with pytest.raises(ValueError, match="tie group spans tasks"):
        rank._attach_running_aggs(
            df,
            ["g"],
            ["k"],
            [("ts", ("ragg", "sum", F.col("uid"), False))],
            sort_cols=[F.col("k").asc_nulls_last()],
            presorted=True,
        )
