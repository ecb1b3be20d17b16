import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from vscode_parquet_visualizer_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.warehouse.dir": "/tmp/spark-warehouse-tests"},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture
def rank_route(monkeypatch):
    """``rank_route("distributed")`` / ``rank_route("window")`` pins the
    rank gateway's route at any input size until the test ends, by
    moving its gate constants (tools/rank_fuzz.pin_route)."""
    from tools.rank_fuzz import pin_route

    return lambda route: pin_route(route, monkeypatch.setattr)
