"""In-suite slice of the round-11 composite script fuzz
(tools/composite_fuzz.py): a fixed-seed batch of multi-statement
scripts — CTAS × expression grammar × quoted identifiers × literal
encodings × UPDATE/DELETE/ALTER/VIEW × window/subquery finals — run
whole-script through the gateway and compared against DuckDB executing
the identical statements. The offline sweeps run 60+ scripts per seed;
this keeps a small deterministic net in CI so the four round-11 fix
classes (UPDATE quoted-identifier parsing, backtick-span protection,
intermediate-restore duck-form, unicode re-backtick) can't silently
regress in composition.
"""

import os
import random
import sys

import duckdb
import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
)


def _gen(seed, n):
    import composite_fuzz as cf

    rng = random.Random(seed)
    return [cf.gen_script(rng, 1000 + i) for i in range(n)]


def _null_first(row):
    # NULL cells sort first without comparing None to a value
    return tuple((v is not None, 0 if v is None else v) for v in row)


@pytest.mark.parametrize("seed", [101, 202])
def test_composite_scripts_match_duckdb(spark, seed):
    import composite_fuzz as cf
    import test_properties as tp

    from vscode_parquet_visualizer_spark.plans.sql_gateway import run_sql

    for stmts in _gen(seed, 5):
        script = ";\n".join(stmts)
        con = duckdb.connect()
        try:
            cur = None
            for s in stmts:
                cur = con.execute(s)
            want_rows = cur.fetchall()
            want_cols = [d[0] for d in cur.description]
        except Exception:
            continue  # only DuckDB-valid scripts count
        df = run_sql(spark, script)
        assert df.columns == want_cols, script
        got = sorted(
            (tuple(tp._fuzz_norm(v) for v in r) for r in df.collect()),
            key=_null_first,
        )
        want = sorted(
            (tuple(tp._fuzz_norm(v) for v in r) for r in want_rows),
            key=_null_first,
        )
        assert got == want, script
