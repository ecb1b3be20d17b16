"""Pagination math + navigation semantics (reference src/paginator.ts:31-79,
src/util.ts:77-85)."""

import pytest

from vscode_parquet_visualizer_spark.operators.pagination import (
    PAGE_ALL,
    Paginator,
    page_count,
)


def test_page_count_math():
    assert page_count(0, 20) == 1
    assert page_count(1, 20) == 1
    assert page_count(20, 20) == 1
    assert page_count(21, 20) == 2
    assert page_count(1500, 500) == 3
    assert page_count(1500, PAGE_ALL) == 1


def test_page_count_invalid():
    with pytest.raises(ValueError):
        page_count(10, 0)


@pytest.fixture(scope="module")
def pager(spark):
    df = spark.range(95).orderBy("id")
    return Paginator(df, 95, 10)


def test_navigation(pager):
    assert [r.id for r in pager.first().collect()][:3] == [0, 1, 2]
    assert pager.total_pages == 10
    nxt = pager.next().collect()
    assert nxt[0].id == 10
    last = pager.last().collect()
    assert len(last) == 5 and last[0].id == 90
    prev = pager.previous().collect()
    assert prev[0].id == 80


def test_goto_bounds(pager):
    with pytest.raises(IndexError):
        pager.goto(0)
    with pytest.raises(IndexError):
        pager.goto(11)


def test_next_clamps_at_last(pager):
    pager.goto(10)
    rows = pager.next().collect()  # clamped to last page
    assert rows[0].id == 90


def test_page_all(spark):
    df = spark.range(30)
    p = Paginator(df, 30, PAGE_ALL)
    assert p.total_pages == 1
    assert len(p.first().collect()) == 30


@pytest.fixture(scope="module")
def result(spark):
    from vscode_parquet_visualizer_spark.engine import ResultSet

    rs = ResultSet(spark.range(0, 1000, 1, 4), name="plan_shape")
    yield rs
    rs.unpersist()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_deep_unsorted_page_reads_a_row_id_span(result):
    plan = _plan(result.page_df(5, 100))
    assert "TakeOrderedAndProject(limit=100, orderBy=" in plan
    assert "offset=" not in plan
    assert "(__row_id#" in plan.split("InMemoryTableScan")[1]  # batch pruning
    assert [r.id for r in result.page_df(5, 100).collect()] == list(range(400, 500))


def test_sorted_and_all_pages_keep_their_plans(result):
    assert "Filter" not in _plan(result.page_df(1, PAGE_ALL))
    assert "TakeOrdered" not in _plan(result.page_df(1, PAGE_ALL))
    result.sort("id", "desc")
    try:
        plan = _plan(result.page_df(5, 100))
        assert "TakeOrderedAndProject(limit=500, offset=400," in plan
        assert "Filter" not in plan
    finally:
        result.sort(None)


def test_first_unsorted_page_reads_a_row_id_span(result):
    plan = _plan(result.page_df(1, 100))
    assert "TakeOrderedAndProject(limit=100, orderBy=" in plan
    assert "offset=" not in plan
    assert "(__row_id#" in plan.split("InMemoryTableScan")[1]
    assert [r.id for r in result.page_df(1, 100).collect()] == list(range(100))


def test_dataset_first_page_is_one_top_k_job(spark, sf_dir):
    from vscode_parquet_visualizer_spark.engine import Engine

    ds = Engine(spark=spark).open(f"{sf_dir}/orders.parquet")
    sc = spark.sparkContext
    sc.setJobGroup("first_page_probe", "Dataset.page(1, n)")
    try:
        rows = ds.page(1, 100)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(rows) == 100
    assert len(sc.statusTracker().getJobIdsForGroup("first_page_probe")) == 1
    assert ds._parts is None  # no position index for the first page
    executions = spark._jsparkSession.sharedState().statusStore().executionsList()
    plan = executions.last().physicalPlanDescription()  # formatted
    assert "Arguments: 100, [__row_id" in plan  # TakeOrderedAndProject
    assert "Filter" not in plan
    ds.close()
