"""Deterministic LIMIT/OFFSET pagination over a DataFrame.

Reference semantics (src/duckdb-paginator.ts:29-60, src/paginator.ts:27-79):
``SELECT * FROM <src> [ORDER BY ...] LIMIT pageSize OFFSET (page-1)*size``;
page size "all" omits the LIMIT; navigation ops are first/prev/next/last/goto
with clamping at both ends.

The one semantic trap in Spark (SURVEY.md §7 "hard parts" #1): DuckDB tables
have a stable scan order, Spark DataFrames do not — row order can differ
between jobs. Pages must therefore be anchored to a total order. The engine
attaches a ``__row_id`` column at materialization time (partition-ordered,
stable for a cached/deterministic plan) and every page query sorts by the
user sort (if any) *then* ``__row_id`` as tiebreaker, making page boundaries
deterministic even under duplicate sort keys.

The row id doubles as a position index. ``monotonically_increasing_id`` is
``(partition << 33) + offset-in-partition``, so one ``(partition, rows)``
list (``partition_rows``: one aggregate job) maps any position to a row id.
A page in row-id order is a contiguous run of positions, hence one
``__row_id`` span (``row_id_span``), and every page of an indexed frame,
the first one included, reads ``filter(span).limit(n)``: a cached scan
skips every column batch outside the span, an uncached scan returns at
most n rows per partition, and a deep page costs about what the first
one does. Pages under a user sort
have no such index and keep ``offset().limit()``, which Catalyst plans as
a top-(offset+n) sort whose cost grows with the offset (as it does in
every engine, including the reference's LIMIT/OFFSET SQL).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ROW_ID = "__row_id"
PAGE_ALL = -1  # reference's "all" page size
_PARTITION_SHIFT = 33  # monotonically_increasing_id's partition bit offset


def page_count(total_rows: int, page_size: int) -> int:
    """Mirror of the reference's getPageCount (src/util.ts:77-85)."""
    if page_size == PAGE_ALL:
        return 1
    if page_size <= 0:
        raise ValueError(f"invalid page size {page_size}")
    return max(1, math.ceil(total_rows / page_size))


def partition_rows(df: DataFrame) -> list[tuple[int, int]]:
    """``(partition, rows)`` of every non-empty partition of a frame
    anchored by ``__row_id``, in partition order — one aggregate job."""
    part = F.shiftright(F.col(ROW_ID), _PARTITION_SHIFT)
    return sorted(tuple(r) for r in df.groupBy(part).count().collect())


def _row_id_at(parts: list[tuple[int, int]], position: int) -> int:
    for part, rows in parts:
        if position < rows:
            return (part << _PARTITION_SHIFT) + position
        position -= rows
    raise IndexError(position)


def row_id_span(
    parts: list[tuple[int, int]], offset: int, n: int
) -> tuple[int, int]:
    """The ``[lo, hi)`` ``__row_id`` span holding positions
    ``offset .. offset+n-1`` in row-id order. Ids between the first and
    the last row of the page belong to no other row (offsets are dense
    within a partition, and partitions in between are wholly inside the
    page), so one span is exact."""
    last = min(offset + n, sum(rows for _, rows in parts)) - 1
    if last < offset:
        return (0, 0)
    return _row_id_at(parts, offset), _row_id_at(parts, last) + 1


@dataclass
class Paginator:
    """Stateful page navigation mirroring src/paginator.ts:31-79.

    Holds (df, total_rows, page_size, page_number); the df must already
    carry a total order (engine sorts by user-sort + __row_id before
    handing it over). ``partition_rows`` is the df's position index; pass
    it only when that order is ``__row_id`` alone.
    """

    df: DataFrame
    total_rows: int
    page_size: int
    page_number: int = 1
    partition_rows: list[tuple[int, int]] | None = None

    @property
    def total_pages(self) -> int:
        return page_count(self.total_rows, self.page_size)

    def _slice(self) -> DataFrame:
        if self.page_size == PAGE_ALL:
            return self.df
        offset = (self.page_number - 1) * self.page_size
        if self.partition_rows is None:
            if not offset:
                return self.df.limit(self.page_size)
            return self.df.offset(offset).limit(self.page_size)
        lo, hi = row_id_span(self.partition_rows, offset, self.page_size)
        row_id = F.col(ROW_ID)
        return self.df.filter((row_id >= lo) & (row_id < hi)).limit(self.page_size)

    def goto(self, page_number: int) -> DataFrame:
        # Reference raises on page < 1 or page > pageCount
        # (src/paginator.ts:66-79); we clamp-or-raise identically.
        if page_number < 1 or page_number > self.total_pages:
            raise IndexError(
                f"page {page_number} out of range 1..{self.total_pages}"
            )
        self.page_number = page_number
        return self._slice()

    def first(self) -> DataFrame:
        return self.goto(1)

    def last(self) -> DataFrame:
        return self.goto(self.total_pages)

    def next(self) -> DataFrame:
        return self.goto(min(self.page_number + 1, self.total_pages))

    def previous(self) -> DataFrame:
        return self.goto(max(self.page_number - 1, 1))
