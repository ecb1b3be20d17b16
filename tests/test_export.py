"""Export round-trips (SURVEY.md §2 A13-A18) incl. Excel projection rules."""

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vscode_parquet_visualizer_spark.operators.export import (
    _excel_projection,
    export,
    export_csv,
    export_json_array,
    export_ndjson,
    export_parquet,
)


@pytest.fixture(scope="module")
def df(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/nation.parquet").orderBy("n_nationkey")


def test_csv_roundtrip(df, spark, tmp_path):
    p = str(tmp_path / "out.csv")
    export_csv(df, p)
    back = spark.read.option("header", True).option("inferSchema", True).csv(p)
    assert back.count() == 25
    assert set(back.columns) == set(df.columns)


def test_parquet_roundtrip(df, spark, tmp_path):
    p = str(tmp_path / "out.parquet")
    export_parquet(df, p)
    back = spark.read.parquet(p)
    assert back.count() == 25
    assert back.schema == df.schema


def test_ndjson_roundtrip(df, tmp_path):
    p = str(tmp_path / "out.ndjson")
    export_ndjson(df, p)
    lines = [json.loads(line) for line in open(p)]
    assert len(lines) == 25
    assert lines[0]["n_nationkey"] == 0


def test_json_array(df, tmp_path):
    p = str(tmp_path / "out.json")
    export_json_array(df, p)
    arr = json.load(open(p))
    assert isinstance(arr, list) and len(arr) == 25


def test_distributed_writes(df, spark, tmp_path):
    p = str(tmp_path / "dist_csv")
    export_csv(df, p, distributed=True)
    assert spark.read.option("header", True).csv(p).count() == 25


def test_export_dispatch_unknown(df, tmp_path):
    with pytest.raises(ValueError, match="unknown export format"):
        export(df, str(tmp_path / "x"), "tsv")


def test_excel_projection_rules(spark):
    """Reference rules (src/worker.ts:347-387): drop LIST/ARRAY + DECIMAL,
    TO_JSON structs/maps, keep scalars."""
    df = spark.createDataFrame(
        [(1, [1, 2], {"k": 1}, (1, "a"))],
        T.StructType(
            [
                T.StructField("i", T.LongType()),
                T.StructField("arr", T.ArrayType(T.LongType())),
                T.StructField("m", T.MapType(T.StringType(), T.LongType())),
                T.StructField(
                    "st",
                    T.StructType(
                        [
                            T.StructField("x", T.LongType()),
                            T.StructField("y", T.StringType()),
                        ]
                    ),
                ),
            ]
        ),
    ).withColumn("dec", F.lit("1.5").cast("decimal(10,2)"))
    out = _excel_projection(df)
    assert set(out.columns) == {"i", "m", "st"}  # arr + dec dropped
    row = out.first()
    assert json.loads(row["st"]) == {"x": 1, "y": "a"}
    assert json.loads(row["m"]) == {"k": 1}


def test_partitioned_parquet_export(spark, sf_dir, tmp_path):
    import os

    src = spark.read.parquet(f"{sf_dir}/orders.parquet")
    d = str(tmp_path / "part_out")
    export_parquet(src, d, partition_by=["o_orderstatus"])
    subdirs = {p for p in os.listdir(d) if p.startswith("o_orderstatus=")}
    assert len(subdirs) == 3  # F / O / P
    back = spark.read.parquet(d)
    assert back.count() == 1500


def test_excel_writes_real_xlsx(spark, tmp_path):
    """The stdlib OOXML writer produces a file that plain zipfile +
    xml.etree can re-read: header row, typed cells, nulls omitted,
    projection rules applied (array column dropped, struct JSON'd)."""
    import datetime as dt
    import xml.etree.ElementTree as ET
    import zipfile

    from vscode_parquet_visualizer_spark.operators.export import export_excel

    df = spark.createDataFrame(
        [
            (1, 2.5, "hello <&> 'quote'", True, dt.date(2024, 1, 31), [1, 2], (7,)),
            (2, None, None, False, None, [3], (8,)),
        ],
        "i LONG, f DOUBLE, s STRING, b BOOLEAN, d DATE, arr ARRAY<LONG>, st STRUCT<x: LONG>",
    )
    p = str(tmp_path / "out.xlsx")
    export_excel(df, p)

    ns = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
    with zipfile.ZipFile(p) as zf:
        names = set(zf.namelist())
        assert {"[Content_Types].xml", "_rels/.rels", "xl/workbook.xml",
                "xl/_rels/workbook.xml.rels", "xl/worksheets/sheet1.xml"} <= names
        sheet = ET.fromstring(zf.read("xl/worksheets/sheet1.xml"))

    rows = sheet.findall(".//m:row", ns)
    assert len(rows) == 3  # header + 2 data rows

    def cells(row):
        out = {}
        for c in row.findall("m:c", ns):
            ref = c.get("r")
            col = "".join(ch for ch in ref if ch.isalpha())
            if c.get("t") == "inlineStr":
                out[col] = c.find("m:is/m:t", ns).text
            else:
                out[col] = c.find("m:v", ns).text
        return out

    header = cells(rows[0])
    # arr dropped by projection; st JSON'd — column order preserved
    assert list(header.values()) == ["i", "f", "s", "b", "d", "st"]
    r1 = cells(rows[1])
    assert r1["A"] == "1" and r1["B"] == "2.5"
    assert r1["C"] == "hello <&> 'quote'"
    assert r1["D"] == "1"
    assert r1["E"] == "2024-01-31"
    assert r1["F"] == '{"x":7}'
    r2 = cells(rows[2])
    # nulls omitted: only i, b, st present
    assert set(r2) == {"A", "D", "F"}


def test_excel_via_engine_dispatch(spark, sf_dir, tmp_path):
    import zipfile

    from vscode_parquet_visualizer_spark.operators.export import export

    df = spark.read.parquet(f"{sf_dir}/region.parquet")
    p = str(tmp_path / "region.xlsx")
    export(df, p, "excel")
    assert zipfile.is_zipfile(p)


@pytest.mark.parametrize("gate", [-1, 1 << 62], ids=["spark", "local"])
def test_parquet_export_of_null_struct_rows(spark, tmp_path, monkeypatch, gate):
    # a NULL struct row (top level, as an array element, as a map value)
    # over non-nullable fields: both ResultSet routes reach export_parquet
    import pyarrow.parquet as pq

    from vscode_parquet_visualizer_spark import engine

    monkeypatch.setattr(engine, "_LOCAL_VIEW_MAX_BYTES", gate)
    row = "CASE WHEN i = 2 THEN NULL ELSE named_struct('{0}', i) END"
    rs = engine.ResultSet(spark.sql(
        f"SELECT i, {row.format('x')} AS s, array({row.format('y')}) AS a, "
        f"map('k', {row.format('z')}) AS m FROM range(1, 3) AS r(i)"
    ), name="null_struct_rows")
    p = str(tmp_path / "out.parquet")
    try:
        rs.export(p, "parquet")
    finally:
        rs.unpersist()
    assert pq.read_table(p).to_pylist() == [
        {"i": 1, "s": {"x": 1}, "a": [{"y": 1}], "m": [("k", {"z": 1})]},
        {"i": 2, "s": None, "a": [None], "m": [("k", None)]},
    ]
