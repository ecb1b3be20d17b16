"""Result export (SURVEY.md §2 A13-A18).

Reference: ``COPY (<subquery with search+sort applied>) TO '<path>'`` in
five formats (src/worker.ts:268-469): CSV (HEADER, ','), JSON array, ndJSON,
Parquet, and Excel. Excel applies type rules first (src/worker.ts:327-424):
drop LIST/ARRAY/DECIMAL columns, ``TO_JSON`` structs, ``CAST`` unsigned
ints to BIGINT.

Two modes:
- **single-file** (reference parity): the export is one local file,
  written by the driver. CSV, JSON, ndJSON and Excel stream rows through
  ``toLocalIterator``: one partition of the frame is driver-resident at a
  time. Parquet runs ``toArrow()``, which holds the whole result on the
  driver (650 MB RSS at sf1 lineitem), like the reference is bounded by
  its single process. Avro writes through ``coalesce(1)`` (or streams
  rows when spark-avro is missing). Jobs: over a globally sorted frame, a
  range-partitioning sample, the sort's shuffle, then one job per sorted
  partition for the streaming exporters (3-6 on 4 cores; Parquet 3,
  Avro 6 measured). Over the engine's
  one-partition ordered frame of a small view (``engine``, views at most
  ``_LOCAL_VIEW_MAX_BYTES`` of cache), every format is one job, and CSV
  none once the engine holds the view's rows (``export_csv(rows=...)``).
- **distributed** (scale path): ``df.write.*`` to a directory — the only
  honest way to export a 100 TB result; executors write in parallel.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _excel_projection(df: DataFrame) -> DataFrame:
    """The reference's Excel type rules (src/worker.ts:347-387):
    drop LIST/ARRAY and DECIMAL columns, TO_JSON structs and maps.
    (Unsigned-int widening doesn't apply — Spark has no unsigned types.)"""
    cols = []
    for f in df.schema.fields:
        if isinstance(f.dataType, (T.ArrayType, T.DecimalType)):
            continue
        if isinstance(f.dataType, (T.StructType, T.MapType)):
            cols.append(F.to_json(F.col(f"`{f.name}`")).alias(f.name))
        else:
            cols.append(F.col(f"`{f.name}`"))
    return df.select(*cols)


def export_csv(
    df: DataFrame, path: str, distributed: bool = False,
    partition_by: list[str] | None = None,
    delimiter: str = ",", header: bool = True,
    rows: Iterable[Row] | None = None,
) -> None:
    """CSV export (reference ``COPY … WITH (HEADER, DELIMITER ',')``,
    src/worker.ts:319-320). Single-file mode writes ``rows`` when the
    caller already holds ``df``'s rows on the driver, in order (the
    engine's copy of a small view, at most ``_LOCAL_VIEW_MAX_BYTES`` of
    cache: no job); otherwise it streams ``df`` through
    ``toLocalIterator``, one partition resident at a time (module
    docstring for the job counts)."""
    if distributed or partition_by:
        w = (
            df.write.mode("overwrite")
            .option("header", header)
            .option("sep", delimiter)
        )
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.csv(path)
        return
    import csv

    with open(path, "w", newline="") as fh:
        writer = csv.writer(fh, delimiter=delimiter)
        if header:
            writer.writerow(df.columns)
        for row in df.toLocalIterator() if rows is None else rows:
            writer.writerow(
                ["" if v is None else v for v in row]
            )


def _nullable(dtype: T.DataType) -> T.DataType:
    """``dtype`` with every struct field, array element and map value
    nullable, at any depth."""
    if isinstance(dtype, T.StructType):
        return T.StructType([
            T.StructField(f.name, _nullable(f.dataType), True, f.metadata)
            for f in dtype.fields
        ])
    if isinstance(dtype, T.ArrayType):
        return T.ArrayType(_nullable(dtype.elementType), True)
    if isinstance(dtype, T.MapType):
        return T.MapType(dtype.keyType, _nullable(dtype.valueType), True)
    return dtype


def export_parquet(
    df: DataFrame, path: str, distributed: bool = False,
    partition_by: list[str] | None = None,
) -> None:
    """Parquet export: single file (reference parity) or distributed dir,
    optionally hive-partitioned (``partition_by``) — the layout downstream
    Spark/DuckDB readers partition-prune on."""
    if distributed or partition_by:
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)
        return
    import pyarrow.parquet as pq

    # A NULL struct row leaves nulls in its non-nullable fields' Arrow
    # arrays, which ``toArrow`` refuses to view under Spark's schema:
    # relax nullability inside every nested column first.
    cols = []
    for f in df.schema.fields:
        col, relaxed = F.col(f"`{f.name}`"), _nullable(f.dataType)
        cols.append(col if relaxed == f.dataType else col.cast(relaxed).alias(f.name))
    pq.write_table(df.select(*cols).toArrow(), path)


def export_ndjson(df: DataFrame, path: str, distributed: bool = False) -> None:
    if distributed:
        df.write.mode("overwrite").json(path)
        return
    with open(path, "w") as fh:
        for line in df.toJSON().toLocalIterator():
            fh.write(line)
            fh.write("\n")


def export_json_array(df: DataFrame, path: str) -> None:
    """One JSON array file (reference: COPY ... (FORMAT JSON, ARRAY true)).
    Inherently single-file; streamed so the driver holds one row at a time."""
    with open(path, "w") as fh:
        fh.write("[")
        first = True
        for line in df.toJSON().toLocalIterator():
            if not first:
                fh.write(",\n")
            fh.write(line)
            first = False
        fh.write("]")


def export_excel(df: DataFrame, path: str) -> None:
    """Excel with the reference's type-filtering rules (src/worker.ts:327-424)
    through the stdlib OOXML writer (functions/xlsx.py) — no openpyxl
    dependency. Rows stream through the driver one at a time."""
    from vscode_parquet_visualizer_spark.functions.xlsx import write_xlsx

    projected = _excel_projection(df)
    write_xlsx(
        path,
        projected.columns,
        (list(row) for row in projected.toLocalIterator()),
    )


def export_avro(
    df: DataFrame, path: str, distributed: bool = False, codec: str = "deflate"
) -> None:
    """Avro export: spark-avro when on the classpath (splittable
    distributed write), else the pure-Python container writer
    (sources/avro.write_avro_fallback — single file, rows streamed
    through the driver). Closes the A13-A17 export asymmetry: every
    format the engine reads, it can now also write."""
    from pyspark.errors import AnalysisException

    from vscode_parquet_visualizer_spark.sources.avro import (
        write_avro_fallback,
    )

    if distributed:
        # distributed multi-file write needs the connector; fail loudly
        df.write.mode("overwrite").format("avro").save(path)
        return
    import glob
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="avro_export_")
    try:
        df.coalesce(1).write.mode("overwrite").format("avro").save(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.avro"))
        if not part:
            raise FileNotFoundError(
                f"avro write produced no part-*.avro file under {tmp}"
            )
        shutil.move(part[0], path)
        return
    except AnalysisException as exc:
        if "Failed to find data source" not in str(exc):
            raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    write_avro_fallback(df, path, codec=codec)


EXPORTERS = {
    "csv": export_csv,
    "parquet": export_parquet,
    "ndjson": export_ndjson,
    "json": export_json_array,
    "excel": export_excel,
    "avro": export_avro,
}


def export(df: DataFrame, path: str, fmt: str, **kwargs) -> None:
    """Dispatch on format name (reference's exportResults message types)."""
    try:
        fn = EXPORTERS[fmt.lower()]
    except KeyError:
        raise ValueError(f"unknown export format {fmt!r}; one of {sorted(EXPORTERS)}")
    fn(df, path, **kwargs)
