"""Single-column sort (SURVEY.md §2 A8).

Reference: ``ORDER BY "<field>" ASC|DESC`` injected into page/search/export
queries (src/duckdb-paginator.ts:46-50, src/worker.ts:168-176,313-317).

Spark shape: ``df.orderBy`` with the engine's ``__row_id`` appended as a
tiebreaker so pages under a non-unique sort key stay deterministic (DuckDB
gets this for free from its stable scan order; Spark does not).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vscode_parquet_visualizer_spark.operators.pagination import ROW_ID

ASC = "asc"
DESC = "desc"


def sort_keys(df: DataFrame, field: str | None, direction: str = ASC) -> list:
    """The one key list of a sorted view: the field, then __row_id when
    present. DuckDB — the engine whose injected ``ORDER BY "<field>"
    ASC|DESC`` this mirrors — defaults to NULLS LAST in *both*
    directions (its ``default_null_order`` setting), so both branches
    pin nulls last. ``sort`` orders a frame globally by these keys; the
    engine's one-partition driver copy sorts within its one partition by
    the same keys, so both give one order."""
    keys = []
    if field is not None:
        col = F.col(f"`{field}`")
        if direction.lower() == DESC:
            keys.append(col.desc_nulls_last())
        else:
            keys.append(col.asc_nulls_last())
    if ROW_ID in df.columns:
        keys.append(F.col(ROW_ID).asc())
    return keys


def sort(df: DataFrame, field: str | None, direction: str = ASC) -> DataFrame:
    """Order by one column, tiebroken by __row_id when present."""
    keys = sort_keys(df, field, direction)
    return df.orderBy(*keys) if keys else df
