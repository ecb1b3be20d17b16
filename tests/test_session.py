"""The local-mode heap default (session.local_heap)."""

import pytest

from vscode_parquet_visualizer_spark.session import local_heap

GIB = 2**30


@pytest.mark.parametrize(
    "ram_gib, heap",
    [
        (0.5, "1g"),  # floor: never below 1g
        (4, "1g"),
        (7.9, "1g"),
        (8, "2g"),
        (15.7, "3g"),  # a "16 GB" box reports a little less
        (16, "4g"),
        (64, "16g"),
        (192, "48g"),
        (1024, "48g"),  # cap: one JVM never gets more than 48g
    ],
)
def test_local_heap_is_a_quarter_of_ram(ram_gib, heap):
    assert local_heap(int(ram_gib * GIB)) == heap

