"""Local emulation of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
over the same sf dir, then compares row count, column names, and values
(order-insensitive: rows sorted by all columns, columns sorted by name).

Usage: python tools/oracle_check.py [--vanilla] [sf_dir] [query_name ...]

``--vanilla`` builds a bare ``SparkSession.builder.getOrCreate()`` exactly
like the correctness driver does, instead of session.get_spark — this is
the only way to catch "works in our session, dies in the driver's"
regressions (rounds 6 AND 7 both shipped a red q74 with a green pytest
because every test path went through get_spark).
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from vscode_parquet_visualizer_spark import workload
from vscode_parquet_visualizer_spark.session import get_spark


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in workload.TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):  # make_sf1.py writes one file per copy
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def canonical(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize cell values to comparable primitives
    def norm(v):
        if v is None:
            return None
        if isinstance(v, float):
            if math.isnan(v):
                return None
            return v
        return v
    df = df.map(norm)
    if len(df):
        df = df.sort_values(by=list(df.columns), na_position="last").reset_index(drop=True)
    return df


# Query -> {column: justification}. Dtype divergences listed here are reported
# as warnings instead of failures; everything else is a FAILURE (the driver's
# value-hash serializes dtype-dependently — int64 "3" vs float64 "3.0" — so an
# unjustified mismatch here is a future driver red, see VERDICT r4 q74).
JUSTIFIED_DTYPES: dict[str, dict[str, str]] = {}


def dtype_mismatches(
    name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame
) -> tuple[list[str], list[str]]:
    """Column-width/type divergences that survive the value comparison but
    trip the driver's value-hash (int64 3 vs float64 3.0 serialize apart).

    Returns (failures, justified_warnings)."""
    bad, warned = [], []
    allow = JUSTIFIED_DTYPES.get(name, {})
    for c in spark_pdf.columns:
        if c not in duck_pdf.columns:
            continue
        s, d = str(spark_pdf[c].dtype), str(duck_pdf[c].dtype)
        if s != d:
            msg = f"{c}: spark={s} duck={d}"
            if c in allow:
                warned.append(f"{msg} ({allow[c]})")
            else:
                bad.append(msg)
    return bad, warned


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rowcount spark={len(spark_pdf)} duck={len(duck_pdf)}")
    scols, dcols = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if scols != dcols:
        problems.append(f"columns spark={scols} duck={dcols}")
        return problems
    a, b = canonical(spark_pdf), canonical(duck_pdf)
    if len(a) == len(b):
        for col in a.columns:
            av, bv = a[col].tolist(), b[col].tolist()
            bad = 0
            first = None
            for x, y in zip(av, bv):
                eq = (x == y) or (x is None and y is None)
                if not eq and isinstance(x, float) and isinstance(y, float):
                    eq = abs(x - y) < 1e-9 or (math.isnan(x) and math.isnan(y))
                if not eq:
                    # pandas timestamps vs datetimes etc.
                    eq = str(x) == str(y)
                if not eq:
                    bad += 1
                    if first is None:
                        first = (x, y)
            if bad:
                problems.append(f"col {col}: {bad} mismatches, first {first}")
    return problems


def main() -> int:
    args = sys.argv[1:]
    vanilla = "--vanilla" in args
    args = [a for a in args if a != "--vanilla"]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.001"
    only = [a for a in args if "/" not in a]
    if vanilla:
        # Exactly what the driver does: no get_spark, no conf beyond what
        # workload.load_tables pins defensively on first use.
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.getOrCreate()
    else:
        spark = get_spark(shuffle_partitions=8)
    con = duck_connection(sf_dir)
    qs, oracles = workload.queries(), workload.oracle_sql()
    failures = 0
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spark_pdf = sdf.toPandas()
        except Exception as exc:
            print(f"FAIL  {name}: spark error: {exc}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ok*   {name}: rows={len(spark_pdf)} (rows-only, no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            duck_pdf = con.sql(oracles[name]).df()
        except Exception as exc:
            print(f"FAIL  {name}: duckdb error: {exc}")
            failures += 1
            continue
        problems = compare(name, spark_pdf, duck_pdf)
        dt_bad, dt_warn = dtype_mismatches(name, spark_pdf, duck_pdf)
        problems.extend(f"dtype {m}" for m in dt_bad)
        if problems:
            failures += 1
            print(f"FAIL  {name}: {'; '.join(problems)} [{time.time()-t0:.1f}s]")
        else:
            note = f" dtypes⚠ {dt_warn}" if dt_warn else ""
            print(f"ok    {name}: rows={len(spark_pdf)}{note} [{time.time()-t0:.1f}s]")
    print(f"\n{failures} failures / {len(only) if only else len(qs)} queries")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
