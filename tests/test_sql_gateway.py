"""SQL gateway: DuckDB PIVOT shorthand lowering + statement routing.

The reference passes the query tab's text verbatim to DuckDB
(src/worker.ts:516-541), so a DuckDB-habituated user writes
``PIVOT t ON col USING agg`` — a statement with no Spark grammar.
plans/pivot_sql.py lowers it to conditional aggregation; the gateway
(plans/sql_gateway.py) routes every statement shape through one path.
"""

import pytest
from pyspark.sql import functions as F

from vscode_parquet_visualizer_spark.plans.pivot_sql import try_rewrite_pivot
from vscode_parquet_visualizer_spark.plans.sql_gateway import run_sql


@pytest.fixture(scope="module")
def orders_view(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    df.createOrReplaceTempView("orders_gw")
    return df


def test_pivot_shorthand_counts(spark, orders_view):
    out = run_sql(
        spark,
        "PIVOT orders_gw ON o_orderpriority USING count(*) "
        "GROUP BY o_orderstatus",
    )
    prios = sorted(
        r[0]
        for r in orders_view.select("o_orderpriority").distinct().collect()
    )
    assert out.columns == ["o_orderstatus"] + prios
    got = {r["o_orderstatus"]: r for r in out.collect()}
    want = {
        (r["o_orderstatus"], r["o_orderpriority"]): r["n"]
        for r in orders_view.groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for (status, prio), n in want.items():
        assert got[status][prio] == n
    # missing combination semantics: count() of an absent pair is 0, not null
    for status in got:
        for prio in prios:
            if (status, prio) not in want:
                assert got[status][prio] == 0


def test_pivot_shorthand_sum_null_for_missing(spark):
    df = spark.createDataFrame(
        [("a", "x", 1), ("a", "x", 2), ("b", "y", 5)], ["g", "k", "v"]
    )
    df.createOrReplaceTempView("pv_t")
    out = run_sql(spark, "PIVOT pv_t ON k USING sum(v) GROUP BY g")
    rows = {r["g"]: r for r in out.collect()}
    assert rows["a"]["x"] == 3 and rows["a"]["y"] is None
    assert rows["b"]["y"] == 5 and rows["b"]["x"] is None


def test_pivot_shorthand_subquery_dataset(spark, orders_view):
    out = run_sql(
        spark,
        "PIVOT (SELECT o_orderstatus, o_orderpriority FROM orders_gw "
        "WHERE o_orderstatus = 'F') ON o_orderpriority USING count(*)",
    )
    assert len(out.collect()) == 1  # no GROUP BY: one row of totals


def test_pivot_rewrite_declines_non_pivot(spark):
    assert try_rewrite_pivot(spark, "SELECT 1 AS x") is None
    # multi-ON / IN-list forms: not lowered — loud failure upstream
    # (multiple USING aggregates ARE lowered as of wave 48 —
    # TestWave48Statements::test_pivot_multiple_aggregates)
    assert (
        try_rewrite_pivot(
            spark, "PIVOT t ON k IN (1, 2) USING sum(a) GROUP BY g"
        )
        is None
    )


def test_run_sql_plain_statement(spark, orders_view):
    out = run_sql(
        spark,
        "SELECT o_orderstatus, count(*)::BIGINT AS n FROM orders_gw "
        "GROUP BY o_orderstatus",
    )
    assert out.count() == orders_view.select("o_orderstatus").distinct().count()


def test_run_sql_routes_asof(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.limit(100).createOrReplaceTempView("ev_gw_a")
    ev.limit(50).createOrReplaceTempView("ev_gw_b")
    out = run_sql(
        spark,
        "SELECT count(*) AS n FROM ev_gw_a a ASOF JOIN ev_gw_b b "
        "ON a.user_id = b.user_id AND a.ts >= b.ts",
    )
    assert out.collect()[0]["n"] >= 0


def test_parquet_schema_table_function(spark, sf_dir):
    """SELECT * FROM parquet_schema('path') matches DuckDB's shape: same
    11 columns, same (name, type, repetition, num_children,
    converted_type) values row-for-row on a flat file."""
    import duckdb

    path = f"{sf_dir}/lineitem.parquet"
    out = run_sql(spark, f"SELECT * FROM parquet_schema('{path}')")
    assert out.columns == [
        "file_name", "name", "type", "type_length", "repetition_type",
        "num_children", "converted_type", "scale", "precision",
        "field_id", "logical_type",
    ]
    got = [
        (r["name"], r["type"], r["repetition_type"], r["num_children"],
         r["converted_type"])
        for r in out.collect()
    ]
    want = duckdb.connect().execute(
        "SELECT name, type, repetition_type, num_children, converted_type "
        f"FROM parquet_schema('{path}')"
    ).fetchall()
    assert got == [tuple(w) for w in want]
    # composes with ordinary SQL around it
    n = run_sql(
        spark,
        f"SELECT count(*) AS n FROM parquet_schema('{path}') "
        "WHERE type IS NOT NULL",
    ).collect()[0]["n"]
    assert n == len(want) - 1  # all leaves; only the root row has NULL type


def test_engine_sql_runs_pivot(spark, sf_dir):
    from vscode_parquet_visualizer_spark.engine import Engine

    eng = Engine(spark)
    spark.read.parquet(f"{sf_dir}/orders.parquet").createOrReplaceTempView(
        "orders_eng"
    )
    out = eng.sql("PIVOT orders_eng ON o_orderstatus USING count(*)")
    assert len(out.collect()) == 1


def test_unpivot_shorthand_matches_duckdb(spark, sf_dir):
    """DuckDB ``UNPIVOT t ON cols INTO NAME n VALUE v`` shorthand: the
    identical statement text runs natively on DuckDB and lowered
    (DataFrame.unpivot + null-exclusion) on Spark, value-matched."""
    import duckdb

    spark.read.parquet(f"{sf_dir}/part.parquet").select(
        "p_partkey", "p_size", "p_retailprice"
    ).createOrReplaceTempView("part_up")
    text = "UNPIVOT part_up ON p_size, p_retailprice INTO NAME metric VALUE val"
    out = run_sql(spark, text)
    assert out.columns == ["p_partkey", "metric", "val"]
    got = sorted((r["p_partkey"], r["metric"], float(r["val"])) for r in out.collect())
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW part_up AS SELECT p_partkey, p_size, p_retailprice "
        f"FROM '{sf_dir}/part.parquet'"
    )
    want = sorted((a, b, float(c)) for a, b, c in con.execute(text).fetchall())
    assert got == want


def test_unpivot_shorthand_rejects_unknown_column(spark, sf_dir):
    import pytest

    spark.read.parquet(f"{sf_dir}/part.parquet").createOrReplaceTempView(
        "part_up2"
    )
    with pytest.raises(ValueError, match="not in part_up2"):
        run_sql(
            spark,
            "UNPIVOT part_up2 ON nope INTO NAME metric VALUE val",
        )


def test_describe_statement_matches_duckdb(spark, sf_dir):
    """User-typed DESCRIBE routes to the DuckDB-shaped schema rows
    (functions/summarize.describe_df) — every cell matches DuckDB running
    the identical statement."""
    import duckdb

    spark.read.parquet(f"{sf_dir}/orders.parquet").createOrReplaceTempView(
        "orders_desc"
    )
    out = run_sql(spark, "DESCRIBE SELECT * FROM orders_desc")
    assert out.columns == [
        "column_name", "column_type", "null", "key", "default", "extra",
    ]
    got = [tuple(r) for r in out.collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders_desc AS SELECT * FROM '{sf_dir}/orders.parquet'"
    )
    want = con.execute("DESCRIBE SELECT * FROM orders_desc").fetchall()
    assert got == want


def test_describe_bare_table_name(spark, sf_dir):
    spark.read.parquet(f"{sf_dir}/region.parquet").createOrReplaceTempView(
        "region_desc"
    )
    rows = run_sql(spark, "DESCRIBE region_desc").collect()
    assert [r["column_name"] for r in rows] == ["r_regionkey", "r_name"]
    assert [r["column_type"] for r in rows] == ["INTEGER", "VARCHAR"]


def test_summarize_statement_shape_and_exact_columns(spark, sf_dir):
    """SUMMARIZE produces DuckDB's 12-column profile; the deterministic
    cells (min/max/count/null_percentage) match DuckDB exactly."""
    import duckdb

    spark.read.parquet(f"{sf_dir}/customer.parquet").createOrReplaceTempView(
        "cust_sum"
    )
    out = run_sql(spark, "SUMMARIZE SELECT c_custkey, c_name FROM cust_sum")
    assert out.columns == [
        "column_name", "column_type", "min", "max", "approx_unique",
        "avg", "std", "q25", "q50", "q75", "count", "null_percentage",
    ]
    got = {
        r["column_name"]: (
            r["column_type"], r["min"], r["max"], r["count"],
            float(r["null_percentage"]),
        )
        for r in out.collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW cust_sum AS SELECT * FROM '{sf_dir}/customer.parquet'"
    )
    want = {
        r[0]: (r[1], r[2], r[3], r[10], float(r[11]))
        for r in con.execute(
            "SUMMARIZE SELECT c_custkey, c_name FROM cust_sum"
        ).fetchall()
    }
    assert got == want


def test_summarize_null_percentage(spark):
    out = run_sql(
        spark,
        "SUMMARIZE SELECT * FROM VALUES (1), (2), (NULL), (NULL) v(x)",
    ).collect()
    assert len(out) == 1
    assert float(out[0]["null_percentage"]) == 50.0
    assert out[0]["count"] == 4
    assert out[0]["min"] == "1" and out[0]["max"] == "2"


def test_union_by_name_matches_duckdb(spark, sf_dir):
    """UNION ALL BY NAME: name-matched columns, right side's new columns
    appended, NULL-filled gaps; trailing ORDER BY/LIMIT binds to the
    union — identical text on both engines."""
    import duckdb

    text = (
        "SELECT 1 AS a, 2 AS b UNION ALL BY NAME "
        "SELECT 30 AS b, 40 AS c UNION ALL BY NAME "
        "SELECT 500 AS a, 600 AS c ORDER BY b NULLS LAST LIMIT 3"
    )
    out = run_sql(spark, text)
    assert out.columns == ["a", "b", "c"]
    got = [tuple(r) for r in out.collect()]
    want = duckdb.connect().execute(text).fetchall()
    assert got == want


def test_union_by_name_distinct_dedups(spark):
    text = "SELECT 1 AS a UNION BY NAME SELECT 1 AS a UNION BY NAME SELECT 2 AS a"
    got = sorted(r["a"] for r in run_sql(spark, text).collect())
    assert got == [1, 2]


def test_union_by_name_inside_literal_untouched(spark):
    out = run_sql(spark, "SELECT 'x UNION BY NAME y' AS s").collect()
    assert out[0]["s"] == "x UNION BY NAME y"


def test_bare_quoted_path_relation(spark, sf_dir):
    """DuckDB ``FROM 'file.parquet'`` — the quoted path becomes a
    registry-routed relation (same reader as opening the file)."""
    out = run_sql(
        spark,
        f"SELECT count(*) AS n FROM '{sf_dir}/region.parquet'",
    ).collect()
    assert out[0]["n"] == 5


def test_bare_quoted_csv_gets_header_sniffing(spark, tmp_path):
    p = tmp_path / "people.csv"
    p.write_text("name,age\nalice,30\nbob,41\n")
    rows = run_sql(
        spark, f"SELECT name, age FROM '{p}' ORDER BY age"
    ).collect()
    assert [(r["name"], r["age"]) for r in rows] == [("alice", 30), ("bob", 41)]


def test_quoted_non_data_literal_untouched(spark):
    out = run_sql(spark, "SELECT trim(BOTH 'x' FROM 'xhix') AS s").collect()
    assert out[0]["s"] == "hi"


def test_create_table_as_and_show_tables(spark, sf_dir):
    """CREATE OR REPLACE TABLE … AS materializes a session table (A5
    semantics: eager count, atomic swap) and returns DuckDB's Count row."""
    out = run_sql(
        spark,
        "CREATE OR REPLACE TABLE nation_copy AS "
        f"SELECT * FROM '{sf_dir}/nation.parquet'",
    ).collect()
    assert out[0]["Count"] == 25
    assert run_sql(spark, "SELECT count(*) AS n FROM nation_copy").collect()[0]["n"] == 25
    names = [r["name"] for r in run_sql(spark, "SHOW TABLES").collect()]
    assert "nation_copy" in names
    # plain CREATE on an existing name fails like DuckDB
    import pytest

    with pytest.raises(ValueError, match="already exists"):
        run_sql(spark, "CREATE TABLE nation_copy AS SELECT 1 AS x")
    run_sql(spark, "DROP TABLE nation_copy")
    assert "nation_copy" not in [
        r["name"] for r in run_sql(spark, "SHOW TABLES").collect()
    ]


def test_create_view_lazy_and_drop_missing(spark):
    import pytest

    out = run_sql(spark, "CREATE OR REPLACE VIEW v_two AS SELECT 2 AS x")
    assert out.columns == ["Count"] and out.collect() == []
    assert run_sql(spark, "SELECT x FROM v_two").collect()[0]["x"] == 2
    run_sql(spark, "DROP VIEW IF EXISTS v_two")
    with pytest.raises(ValueError, match="does not exist"):
        run_sql(spark, "DROP VIEW v_two")


def test_copy_query_to_csv_roundtrip(spark, sf_dir, tmp_path):
    """User-typed COPY (query) TO 'f.csv' (the reference's own export
    SQL, src/worker.ts:319-326) routes to the A13 exporter."""
    dest = str(tmp_path / "out.csv")
    out = run_sql(
        spark,
        f"COPY (SELECT r_regionkey, r_name FROM '{sf_dir}/region.parquet' "
        f"ORDER BY r_regionkey) TO '{dest}' (FORMAT CSV, HEADER)",
    ).collect()
    assert out[0]["Count"] == 5
    back = spark.read.option("header", True).csv(dest).collect()
    assert len(back) == 5
    assert back[0]["r_name"] == "AFRICA"


def test_copy_table_to_parquet(spark, sf_dir, tmp_path):
    spark.read.parquet(f"{sf_dir}/region.parquet").createOrReplaceTempView(
        "region_cp"
    )
    dest = str(tmp_path / "out.parquet")
    out = run_sql(
        spark, f"COPY region_cp TO '{dest}' (FORMAT PARQUET)"
    ).collect()
    assert out[0]["Count"] == 5
    assert spark.read.parquet(dest).count() == 5


def test_range_and_generate_series_table_functions(spark):
    """DuckDB inline series: range() end-exclusive (column ``range``),
    generate_series() end-inclusive (column ``generate_series``)."""
    import duckdb

    for text in [
        "SELECT * FROM range(3)",
        "SELECT * FROM range(2, 5)",
        "SELECT * FROM generate_series(1, 5, 2)",
        "SELECT generate_series(1, 3) AS g",
    ]:
        got = [tuple(r) for r in run_sql(spark, text).collect()]
        want = duckdb.connect().execute(text).fetchall()
        assert got == want, text


def test_insert_into_session_table(spark):
    """INSERT INTO a CTAS session table: positional column alignment,
    DuckDB Count shape, atomic swap (old binding survives a bad insert)."""
    import pytest

    run_sql(spark, "CREATE OR REPLACE TABLE ins_t AS SELECT 1 AS x, 'a' AS y")
    out = run_sql(spark, "INSERT INTO ins_t VALUES (2, 'b'), (3, 'c')").collect()
    assert out[0]["Count"] == 2
    out = run_sql(spark, "INSERT INTO ins_t SELECT 9, 'z'").collect()
    assert out[0]["Count"] == 1
    rows = run_sql(spark, "SELECT * FROM ins_t ORDER BY x").collect()
    assert [(r["x"], r["y"]) for r in rows] == [
        (1, "a"), (2, "b"), (3, "c"), (9, "z"),
    ]
    with pytest.raises(ValueError, match="3 values for 2 columns"):
        run_sql(spark, "INSERT INTO ins_t VALUES (1, 'q', 99)")
    assert run_sql(spark, "SELECT count(*) AS n FROM ins_t").collect()[0]["n"] == 4
    with pytest.raises(ValueError, match="does not exist"):
        run_sql(spark, "INSERT INTO missing_t VALUES (1)")
    run_sql(spark, "DROP TABLE ins_t")


def test_explain_statement(spark, sf_dir):
    out = run_sql(
        spark,
        f"EXPLAIN SELECT count(*) FROM '{sf_dir}/region.parquet'",
    ).collect()
    assert out[0]["explain_key"] == "physical_plan"
    assert "Physical Plan" in out[0]["explain_value"]


def test_multi_statement_script(spark, sf_dir):
    """Semicolon-separated scripts run in order; the last statement's
    result comes back (DuckDB script semantics)."""
    rows = run_sql(
        spark,
        f"""
        CREATE OR REPLACE TABLE script_t AS
          SELECT * FROM '{sf_dir}/region.parquet';
        INSERT INTO script_t VALUES (99, 'ATLANTIS');
        SELECT r_regionkey, r_name FROM script_t
        WHERE r_regionkey >= 4 ORDER BY r_regionkey;
        """,
    ).collect()
    assert [(r["r_regionkey"], r["r_name"]) for r in rows] == [
        (4, "MIDDLE EAST"), (99, "ATLANTIS"),
    ]
    run_sql(spark, "DROP TABLE script_t")


def test_semicolon_inside_literal_not_split(spark):
    out = run_sql(spark, "SELECT 'a;b' AS s").collect()
    assert out[0]["s"] == "a;b"


def test_pragma_table_info(spark, sf_dir):
    """PRAGMA table_info('t') — DuckDB/sqlite introspection shape."""
    spark.read.parquet(f"{sf_dir}/region.parquet").createOrReplaceTempView(
        "region_ti"
    )
    rows = run_sql(spark, "PRAGMA table_info('region_ti')").collect()
    assert [(r["cid"], r["name"], r["type"]) for r in rows] == [
        (0, "r_regionkey", "INTEGER"), (1, "r_name", "VARCHAR"),
    ]
    assert rows[0]["pk"] is False and rows[0]["notnull"] is False


def test_pragma_table_info_table_function(spark, sf_dir):
    """``FROM pragma_table_info('t')`` — usable inside a full SELECT
    (projection + WHERE), matching DuckDB's table-function form."""
    spark.read.parquet(f"{sf_dir}/region.parquet").createOrReplaceTempView(
        "region_ti2"
    )
    rows = run_sql(
        spark,
        "SELECT name, type FROM pragma_table_info('region_ti2') "
        "WHERE cid = 1",
    ).collect()
    assert [(r["name"], r["type"]) for r in rows] == [("r_name", "VARCHAR")]


def test_pragma_show_tables_and_version(spark, sf_dir):
    """PRAGMA show_tables (SHOW TABLES row shape), show_tables_expanded
    (column_names/column_types arrays), and version (one row)."""
    spark.read.parquet(f"{sf_dir}/region.parquet").createOrReplaceTempView(
        "region_pst"
    )
    names = [r["name"] for r in run_sql(spark, "PRAGMA show_tables").collect()]
    assert "region_pst" in names and names == sorted(names)
    exp = {
        r["name"]: r
        for r in run_sql(spark, "PRAGMA show_tables_expanded").collect()
    }
    row = exp["region_pst"]
    assert row["column_names"] == ["r_regionkey", "r_name"]
    assert row["column_types"] == ["INTEGER", "VARCHAR"]
    ver = run_sql(spark, "PRAGMA version").collect()
    assert len(ver) == 1 and ver[0]["library_version"].startswith("spark-")


def test_typed_create_alter_update_delete(spark):
    """Mutable session-table DDL (batch 32): typed CREATE TABLE,
    ALTER ADD/RENAME/DROP COLUMN, UPDATE with WHERE, DELETE, TRUNCATE —
    all view rebuilds with the CTAS persist-then-swap discipline."""
    run_sql(spark, "DROP TABLE IF EXISTS mt")
    assert run_sql(
        spark, "CREATE TABLE mt (a INTEGER, b VARCHAR NOT NULL)"
    ).collect()[0]["Count"] == 0
    run_sql(spark, "INSERT INTO mt VALUES (1, 'x'), (2, 'y'), (3, 'z')")
    run_sql(spark, "ALTER TABLE mt ADD COLUMN c DOUBLE")
    assert run_sql(spark, "SELECT * FROM mt").columns == ["a", "b", "c"]
    assert run_sql(
        spark, "UPDATE mt SET c = a * 2.0 WHERE a > 1"
    ).collect()[0]["Count"] == 2
    rows = {r["a"]: r["c"] for r in run_sql(spark, "SELECT a, c FROM mt").collect()}
    assert rows == {1: None, 2: 4.0, 3: 6.0}
    run_sql(spark, "ALTER TABLE mt RENAME COLUMN c TO dbl")
    assert run_sql(
        spark, "DELETE FROM mt WHERE dbl IS NULL"
    ).collect()[0]["Count"] == 1
    assert run_sql(spark, "SELECT count(*) AS n FROM mt").collect()[0]["n"] == 2
    run_sql(spark, "ALTER TABLE mt DROP COLUMN dbl")
    assert run_sql(spark, "SELECT * FROM mt").columns == ["a", "b"]
    run_sql(spark, "TRUNCATE mt")
    assert run_sql(spark, "SELECT count(*) AS n FROM mt").collect()[0]["n"] == 0
    run_sql(spark, "DROP TABLE mt")


def test_dml_returning(spark):
    """INSERT/UPDATE/DELETE … RETURNING — DuckDB projects inserted/
    new/deleted rows instead of the Count row."""
    run_sql(spark, "DROP TABLE IF EXISTS rt")
    run_sql(spark, "CREATE TABLE rt (a INTEGER, b VARCHAR)")
    rows = run_sql(
        spark, "INSERT INTO rt VALUES (1,'x'), (2,'y') RETURNING a, b"
    ).collect()
    assert sorted((r["a"], r["b"]) for r in rows) == [(1, "x"), (2, "y")]
    rows = run_sql(
        spark, "UPDATE rt SET a = a + 10 WHERE a = 1 RETURNING a"
    ).collect()
    assert [r["a"] for r in rows] == [11]
    rows = run_sql(spark, "DELETE FROM rt WHERE a = 2 RETURNING *").collect()
    assert [(r["a"], r["b"]) for r in rows] == [(2, "y")]
    assert run_sql(spark, "SELECT count(*) AS n FROM rt").collect()[0]["n"] == 1
    run_sql(spark, "DROP TABLE rt")


def test_create_view_column_aliases(spark, sf_dir):
    """CREATE VIEW v(a, b) AS … — DuckDB column-alias list."""
    spark.read.parquet(f"{sf_dir}/region.parquet").createOrReplaceTempView(
        "region_vca"
    )
    run_sql(
        spark,
        "CREATE OR REPLACE VIEW vca2(k, nm) AS "
        "SELECT r_regionkey, r_name FROM region_vca",
    )
    rows = run_sql(spark, "SELECT k, nm FROM vca2 ORDER BY k LIMIT 1").collect()
    assert rows[0]["k"] == 0 and rows[0]["nm"]


def test_read_csv_option_surface(spark, tmp_path):
    """read_csv names=/columns=/header=false/filename= option parity
    (batch 33): headerless columns are named column0…, names= renames,
    columns= disables inference with DuckDB-typed casts, filename=
    adds the source path."""
    p = tmp_path / "noh.csv"
    p.write_text("5,alpha\n6,beta\n")
    rows = run_sql(
        spark, f"SELECT * FROM read_csv('{p}', header=false) ORDER BY column0"
    ).collect()
    assert [r["column0"] for r in rows] == [5, 6]  # inferred, like DuckDB
    rows = run_sql(
        spark,
        f"SELECT * FROM read_csv('{p}', header=false, names=['id','nm']) "
        "ORDER BY id",
    ).collect()
    assert [(r["id"], r["nm"]) for r in rows] == [(5, "alpha"), (6, "beta")]
    rows = run_sql(
        spark,
        f"SELECT * FROM read_csv('{p}', header=false, "
        "columns={'id': 'INTEGER', 'nm': 'VARCHAR'}) ORDER BY id",
    ).collect()
    assert [(r["id"], r["nm"]) for r in rows] == [(5, "alpha"), (6, "beta")]
    rows = run_sql(
        spark,
        f"SELECT column0, filename FROM read_csv('{p}', header=false, "
        "filename=true) ORDER BY column0",
    ).collect()
    assert rows[0]["filename"] == str(p)


def test_set_reset_current_setting(spark):
    """SET/RESET session configuration + current_setting() resolution
    (DuckDB returns an empty result for SET; TimeZone maps onto the
    live session conf)."""
    assert run_sql(spark, "SET threads=4").collect() == []
    assert (
        run_sql(spark, "SELECT current_setting('threads') AS t").collect()[0][
            "t"
        ]
        == "4"
    )
    run_sql(spark, "SET TimeZone='America/New_York'")
    assert spark.conf.get("spark.sql.session.timeZone") == "America/New_York"
    assert (
        run_sql(spark, "SELECT current_setting('TimeZone') AS z").collect()[
            0
        ]["z"]
        == "America/New_York"
    )
    run_sql(spark, "RESET TimeZone")
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    run_sql(spark, "RESET threads")
    assert run_sql(spark, "CHECKPOINT").collect() == []
    import pytest as _pytest

    with _pytest.raises(Exception, match="unrecognized configuration"):
        run_sql(spark, "SELECT current_setting('no_such_setting')")


def test_copy_csv_delimiter_and_header_options(spark, tmp_path):
    dest = str(tmp_path / "opt.csv")
    run_sql(
        spark,
        f"COPY (SELECT 1 AS a, 2 AS b) TO '{dest}' "
        "(FORMAT CSV, DELIMITER '|')",
    )
    assert open(dest).read() == "a|b\n1|2\n"
    run_sql(
        spark,
        f"COPY (SELECT 3 AS a) TO '{dest}' (FORMAT CSV, HEADER FALSE)",
    )
    assert open(dest).read() == "3\n"


def test_copy_from_appends(spark, sf_dir, tmp_path):
    """COPY <table> FROM 'file' appends the file's rows (DuckDB import
    direction), returning the Count shape."""
    import pytest

    run_sql(
        spark,
        f"CREATE OR REPLACE TABLE imp_t AS SELECT * FROM '{sf_dir}/region.parquet'",
    )
    src = str(tmp_path / "extra.csv")
    open(src, "w").write("r_regionkey,r_name\n99,ATLANTIS\n")
    out = run_sql(spark, f"COPY imp_t FROM '{src}'").collect()
    assert out[0]["Count"] == 1
    n = run_sql(spark, "SELECT count(*) AS n FROM imp_t").collect()[0]["n"]
    assert n == 6
    with pytest.raises(ValueError, match="does not exist"):
        run_sql(spark, f"COPY missing_t FROM '{src}'")
    run_sql(spark, "DROP TABLE imp_t")


def test_transaction_and_maintenance_noops(spark):
    """BEGIN/COMMIT/ROLLBACK/CHECKPOINT/VACUUM are meaningful to a
    persistent DuckDB but no-ops here — empty Success result, not a
    parse error mid-script."""
    from vscode_parquet_visualizer_spark.plans.sql_gateway import run_sql

    for stmt in (
        "BEGIN TRANSACTION", "BEGIN", "COMMIT", "ROLLBACK",
        "CHECKPOINT", "VACUUM", "ANALYZE",
    ):
        df = run_sql(spark, stmt)
        assert df.columns == ["Success"] and df.count() == 0, stmt
    # a script mixing them with real statements still yields the last
    # real result
    df = run_sql(spark, "BEGIN; SELECT 1 AS one; COMMIT; SELECT 2 AS two")
    assert df.columns == ["two"] and df.first()["two"] == 2


def test_file_table_functions(spark, sf_dir):
    """parquet_scan alias, list-of-paths read_parquet, and the
    parquet_file_metadata table function route through the gateway."""
    from vscode_parquet_visualizer_spark.plans.sql_gateway import run_sql

    n = run_sql(
        spark, f"SELECT count(*) AS n FROM parquet_scan('{sf_dir}/region.parquet')"
    ).first()["n"]
    assert n == 5
    doubled = run_sql(
        spark,
        "SELECT count(*) AS n FROM read_parquet("
        f"['{sf_dir}/region.parquet', '{sf_dir}/region.parquet'])",
    ).first()["n"]
    assert doubled == 10
    meta = run_sql(
        spark,
        "SELECT num_rows, num_row_groups FROM "
        f"parquet_file_metadata('{sf_dir}/region.parquet')",
    ).first()
    assert meta["num_rows"] == 5 and meta["num_row_groups"] >= 1


def test_read_csv_header_and_options(spark, tmp_path):
    """User-typed read_csv routes through the sniffing registry (bare
    csv.`path` would read headerless — silent divergence); named args
    (header/delim) override the sniffer."""
    from vscode_parquet_visualizer_spark.plans.sql_gateway import run_sql

    p = tmp_path / "t.csv"
    p.write_text("a,b\n1,x\n2,y\n")
    rows = run_sql(spark, f"SELECT * FROM read_csv('{p}')").collect()
    assert [r["a"] for r in rows] == [1, 2]
    p2 = tmp_path / "s.csv"
    p2.write_text("a;b\n1;x\n2;y\n")
    got = run_sql(
        spark,
        f"SELECT b FROM read_csv('{p2}', header=true, delim=';') WHERE a = 2",
    ).first()["b"]
    assert got == "y"


def test_read_csv_delim_only_headerless(spark, tmp_path):
    """read_csv('f', delim='|') on a HEADERLESS file must still sniff
    has_header independently (DuckDB parity) — hardcoding header=true
    silently ate the first data row (round-4 ADVICE,
    sql_gateway.py:115)."""
    from vscode_parquet_visualizer_spark.plans.sql_gateway import run_sql

    p = tmp_path / "nohdr.csv"
    p.write_text("1|x\n2|y\n3|z\n")
    rows = run_sql(
        spark, f"SELECT * FROM read_csv('{p}', delim='|')"
    ).collect()
    assert len(rows) == 3  # all three data rows survive
    # and a headered file with an explicit delim keeps its header
    p2 = tmp_path / "hdr.csv"
    p2.write_text("a|b\n1|x\n2|y\n")
    rows2 = run_sql(
        spark, f"SELECT a, b FROM read_csv('{p2}', delim='|')"
    ).collect()
    assert sorted(r["a"] for r in rows2) == [1, 2]


def test_copy_partition_by(spark, sf_dir, tmp_path):
    """COPY ... (FORMAT PARQUET, PARTITION_BY (col)) writes a hive
    layout readable back with the partition column restored."""
    import glob
    import os

    from vscode_parquet_visualizer_spark.plans.sql_gateway import run_sql

    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView(
        "docs_cp"
    )
    out = str(tmp_path / "part_out")
    res = run_sql(
        spark,
        f"COPY (SELECT doc_id, lang, n_chars FROM docs_cp) TO '{out}' "
        "(FORMAT PARQUET, PARTITION_BY (lang))",
    )
    assert res.columns == ["Count"] and res.first()["Count"] > 0
    assert any(
        os.path.basename(p).startswith("lang=") for p in glob.glob(out + "/*")
    )
    back = spark.read.parquet(out)
    assert sorted(back.columns) == ["doc_id", "lang", "n_chars"]
    assert back.count() == res.first()["Count"]


def test_create_macro_scalar(spark, sf_dir):
    """DuckDB CREATE MACRO — untyped expression templates, expanded at
    the gateway before transpilation (round 4)."""
    import duckdb

    from vscode_parquet_visualizer_spark.plans.sql_gateway import run_sql

    run_sql(spark, "CREATE MACRO add_tax(p) AS p * 1.1")
    run_sql(spark, "CREATE MACRO taxed_twice(p) AS add_tax(add_tax(p))")
    got = run_sql(
        spark, "SELECT round(taxed_twice(100), 4) AS v, add_tax(10) AS w"
    ).first()
    con = duckdb.connect()
    con.execute("CREATE MACRO add_tax(p) AS p * 1.1")
    con.execute("CREATE MACRO taxed_twice(p) AS add_tax(add_tax(p))")
    want = con.execute(
        "SELECT round(taxed_twice(100), 4) AS v, add_tax(10) AS w"
    ).fetchone()
    assert (got["v"], got["w"]) == (want[0], want[1])
    # macro over a table column, with DuckDB-dialect body
    run_sql(spark, "CREATE OR REPLACE MACRO initial(s) AS s[1:1]")
    rows = run_sql(
        spark,
        f"SELECT initial(r_name) AS i FROM '{sf_dir}/region.parquet' "
        "ORDER BY r_regionkey",
    ).collect()
    assert [r["i"] for r in rows] == ["A", "A", "A", "E", "M"]
    # drop + loud error on unknown macro
    run_sql(spark, "DROP MACRO add_tax")
    import pytest as _pytest

    with _pytest.raises(Exception):
        run_sql(spark, "SELECT add_tax(1)").collect()
    with _pytest.raises(ValueError):
        run_sql(spark, "DROP MACRO add_tax")
    run_sql(spark, "DROP MACRO IF EXISTS add_tax")
    # table macros are supported as of round 5 (zero-param form)
    run_sql(spark, "CREATE MACRO t1() AS TABLE SELECT 1 AS one")
    assert run_sql(spark, "SELECT one FROM t1()").first()["one"] == 1
    run_sql(spark, "DROP MACRO t1")
    run_sql(spark, "DROP MACRO IF EXISTS taxed_twice")
    run_sql(spark, "DROP MACRO IF EXISTS initial")


def test_macro_literal_protection(spark):
    """Macro expansion must not substitute parameter names occurring
    inside string literals, and commas inside quoted arguments must not
    mis-split the argument list (round-5 ADVICE: expansion now runs on
    literal-protected text with a shared stash)."""
    import duckdb

    from vscode_parquet_visualizer_spark.plans.sql_gateway import run_sql

    con = duckdb.connect()
    for ddl in (
        "CREATE MACRO suff(s) AS concat(s, ' s suffix')",
        "CREATE MACRO j2(a, b) AS concat(a, '|', b)",
    ):
        run_sql(spark, ddl)
        con.execute(ddl)
    for sql in (
        # param name 's' appears inside the body's literal — must survive
        "SELECT suff('name') AS v",
        # comma inside a quoted argument: one arg, not two
        "SELECT suff('x,y') AS v",
        "SELECT j2('a,b', 'c') AS v",
    ):
        assert run_sql(spark, sql).first()["v"] == con.execute(sql).fetchone()[0]
    # arity error stays loud: j2 with one (comma-bearing) string arg
    import pytest as _pytest

    with _pytest.raises(Exception):
        run_sql(spark, "SELECT j2('x,y') AS v").collect()
    run_sql(spark, "DROP MACRO IF EXISTS suff")
    run_sql(spark, "DROP MACRO IF EXISTS j2")


def test_table_macros_and_param_defaults(spark):
    """Round 5: CREATE MACRO ... AS TABLE (FROM-position expansion into
    a derived table) and `name := value` parameter defaults / named-call
    arguments — differential against DuckDB on identical text."""
    import duckdb

    from vscode_parquet_visualizer_spark.plans.sql_gateway import run_sql

    con = duckdb.connect()
    for ddl in (
        "CREATE MACRO add_t(p, rate := 0.1) AS p * (1 + rate)",
        "CREATE MACRO nums(n) AS TABLE SELECT * FROM range(0, n) t(x)",
        "CREATE MACRO pair(a, b := 5) AS TABLE SELECT a AS x, b AS y",
    ):
        run_sql(spark, ddl)
        con.execute(ddl)
    for q in (
        "SELECT round(add_t(100), 3) AS v1, "
        "round(add_t(100, rate := 0.2), 3) AS v2",
        "SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS s FROM nums(5)",
        "SELECT t.x FROM nums(3) t ORDER BY t.x",
        "SELECT x, y FROM pair(7)",
        "SELECT x, y FROM pair(1, b := 9)",
        "SELECT count(*) AS n FROM nums(4) a JOIN nums(4) b ON a.x = b.x",
    ):
        got = [tuple(r) for r in run_sql(spark, q).collect()]
        assert got == con.execute(q).fetchall(), q
    # missing required arg stays loud (both engines error)
    import pytest as _pytest

    with _pytest.raises(Exception):
        run_sql(spark, "SELECT add_t() AS v").collect()
    # qualified-by-macro-name refs fail on both engines (unnamed binding)
    with _pytest.raises(Exception):
        run_sql(spark, "SELECT nums.x FROM nums(3)").collect()
    for name in ("add_t", "nums", "pair"):
        run_sql(spark, f"DROP MACRO IF EXISTS {name}")


def test_regexp_replace_unsupported_flags_loud(spark):
    """Regex flags without a verified Spark equivalent ('m'/'n'/'l'/'p')
    must leave the call unrewritten → loud 4-arg failure, never a
    silently-dropped flag (round-5 ADVICE)."""
    from vscode_parquet_visualizer_spark.plans.sql_gateway import run_sql

    import pytest as _pytest

    for flag in ("m", "n", "l", "p"):
        with _pytest.raises(Exception):
            run_sql(
                spark,
                f"SELECT regexp_replace('ab', 'a', 'x', '{flag}') AS v",
            ).collect()
    # supported combos still lower
    assert (
        run_sql(
            spark, "SELECT regexp_replace('aAa', 'a', '_', 'ig') AS v"
        ).first()["v"]
        == "___"
    )


def test_information_schema_columns_query_result(spark):
    """The reference drives its Excel type filter from
    information_schema.columns (src/worker.ts:331-336): the engine's
    query_result view must be enumerable with DuckDB type spellings."""
    spark.createDataFrame(
        [(1, "a", 1.5)], "k int, s string, f double"
    ).createOrReplaceTempView("query_result")
    out = run_sql(
        spark,
        "SELECT column_name, data_type FROM information_schema.columns "
        "WHERE table_name = 'query_result' ORDER BY ordinal_position",
    )
    assert [tuple(r) for r in out.collect()] == [
        ("k", "INTEGER"),
        ("s", "VARCHAR"),
        ("f", "DOUBLE"),
    ]


def test_prepared_statements(spark, sf_dir):
    """PREPARE / EXECUTE / DEALLOCATE (batch 41): positional ?, numbered
    $1, and named $key := parameters; body re-routes through the gateway
    so any statement kind can be prepared."""
    from vscode_parquet_visualizer_spark.plans.sql_gateway import run_sql

    spark.read.parquet(f"{sf_dir}/nation.parquet").createOrReplaceTempView(
        "nation"
    )
    run_sql(spark, "PREPARE pq1 AS SELECT n_nationkey FROM nation "
                   "WHERE n_nationkey > ? ORDER BY n_nationkey")
    got = [r[0] for r in run_sql(spark, "EXECUTE pq1(22)").collect()]
    assert got == [23, 24]
    # literal text containing ? / $name survives binding
    run_sql(spark, "PREPARE pq2 AS SELECT n_name FROM nation "
                   "WHERE n_nationkey = $k AND n_name <> '?$k' ")
    got = [r[0] for r in run_sql(spark, "EXECUTE pq2(k := 3)").collect()]
    assert len(got) == 1
    run_sql(spark, "PREPARE pq3 AS SELECT $1 + $2 AS v")
    assert run_sql(spark, "EXECUTE pq3(2, 3)").collect()[0][0] == 5
    run_sql(spark, "DEALLOCATE pq1")
    import pytest as _pytest

    with _pytest.raises(Exception, match="does not exist"):
        run_sql(spark, "EXECUTE pq1(1)")
    # re-PREPARE under the same name replaces the old body
    run_sql(spark, "PREPARE pq3 AS SELECT 42 AS v")
    assert run_sql(spark, "EXECUTE pq3").collect()[0][0] == 42


def test_prepared_statement_string_args(spark):
    """ADVICE r9 (high): EXECUTE argument binding must treat quoted
    string arguments as opaque — commas inside a string argument must
    not split it ('a,b' binding as 'a'), and ?/$n/$name occurring
    INSIDE an argument's text must never be re-consumed by a later
    substitution pass ('what?' previously became the garbage
    'what'what?'')."""
    from vscode_parquet_visualizer_spark.plans.sql_gateway import run_sql

    run_sql(spark, "PREPARE sq1 AS SELECT $1 AS a, $2 AS b")
    row = run_sql(spark, "EXECUTE sq1('a,b', 2)").collect()[0]
    assert (row["a"], row["b"]) == ("a,b", 2)
    run_sql(spark, "PREPARE sq2 AS SELECT ? AS v")
    assert run_sql(spark, "EXECUTE sq2('what?')").collect()[0][0] == "what?"
    # a string argument containing $1 / $name / a comma, bound twice
    run_sql(spark, "PREPARE sq3 AS SELECT ? AS v, ? AS w")
    row = run_sql(spark, "EXECUTE sq3('cost: $1, $k', 'x,y')").collect()[0]
    assert (row["v"], row["w"]) == ("cost: $1, $k", "x,y")
    # named binding with a comma-carrying string value
    run_sql(spark, "PREPARE sq4 AS SELECT $msg AS m, $n AS n")
    row = run_sql(
        spark, "EXECUTE sq4(msg := 'hello, world?', n := 7)"
    ).collect()[0]
    assert (row["m"], row["n"]) == ("hello, world?", 7)
    for name in ("sq1", "sq2", "sq3", "sq4"):
        run_sql(spark, f"DEALLOCATE {name}")


def test_insert_column_list_and_index_noop(spark):
    """Wave 45: INSERT INTO t (cols) VALUES — values bind to the named
    columns, unmentioned columns fill NULL (no DEFAULT clauses in CTAS
    tables); parenthesized query sources; CREATE/DROP INDEX accepted as
    no-ops (DuckDB ART indexes are perf-only; UNIQUE enforcement not
    emulated — COVERAGE.md)."""
    from vscode_parquet_visualizer_spark.plans.sql_gateway import run_sql

    run_sql(spark, "CREATE TABLE ins45 (a INTEGER, b VARCHAR, c DOUBLE)")
    run_sql(spark, "INSERT INTO ins45 (b, a) VALUES ('x', 1), ('y', 2)")
    run_sql(spark, "INSERT INTO ins45 (c) VALUES (9.5)")
    run_sql(spark, "INSERT INTO ins45 (SELECT 7, 'q', 1.0)")
    rows = sorted(
        map(tuple, run_sql(spark, "SELECT * FROM ins45").collect()),
        key=repr,
    )
    assert rows == sorted(
        [(1, "x", None), (2, "y", None), (None, None, 9.5), (7, "q", 1.0)],
        key=repr,
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="unknown column"):
        run_sql(spark, "INSERT INTO ins45 (zzz) VALUES (1)")
    run_sql(spark, "CREATE INDEX idx45 ON ins45 (a)")
    run_sql(spark, "CREATE UNIQUE INDEX IF NOT EXISTS idx45b ON ins45 (b, c)")
    run_sql(spark, "DROP INDEX idx45")
    run_sql(spark, "DROP INDEX IF EXISTS idx45b")
    run_sql(spark, "DROP TABLE ins45")


def test_multi_statement_quoted_identifier_protection(spark):
    """IDQ restore-mode regression pin (r10): statement splitting and
    every other INTERMEDIATE restore must keep the original "…"
    spelling — an early backtick conversion re-exposes identifier
    content to transpile's rewrites (the "0!" alias would be
    factorial-rewritten in the second statement of a batch)."""
    from vscode_parquet_visualizer_spark.plans.sql_gateway import run_sql

    out = run_sql(
        spark,
        'CREATE TABLE "select" AS SELECT 1 AS "0!"; '
        'SELECT "0!" + 1 AS v FROM "select"',
    )
    assert out.collect()[0]["v"] == 2
    assert run_sql(spark, "SELECT 'x;y' AS s").collect()[0][0] == "x;y"
    run_sql(spark, 'DROP TABLE "select"')


class TestWave48Statements:
    """Wave 48: sequences, ENUM types, COMMENT ON, INSERT DEFAULT
    VALUES, multi-aggregate PIVOT — each compared against DuckDB's
    behavior probed on the same scripts."""

    def test_sequence_lifecycle(self, spark):
        from vscode_parquet_visualizer_spark.plans.sql_gateway import run_sql

        run_sql(spark, "CREATE SEQUENCE w48_seq").collect()
        rows = run_sql(
            spark,
            "SELECT nextval('w48_seq') AS a, nextval('w48_seq') AS b, "
            "currval('w48_seq') AS c",
        ).collect()
        assert [tuple(rows[0])] == [(1, 2, 2)]
        run_sql(spark, "DROP SEQUENCE w48_seq").collect()
        with pytest.raises(Exception, match="does not exist"):
            run_sql(spark, "SELECT nextval('w48_seq')").collect()

    def test_sequence_start_increment_maxvalue(self, spark):
        from vscode_parquet_visualizer_spark.plans.sql_gateway import run_sql

        run_sql(
            spark,
            "CREATE SEQUENCE w48_s2 START 10 INCREMENT 3 MAXVALUE 14",
        ).collect()
        rows = run_sql(
            spark, "SELECT nextval('w48_s2') AS a, nextval('w48_s2') AS b"
        ).collect()
        assert tuple(rows[0]) == (10, 13)
        # DuckDB: "nextval: reached maximum value of sequence"
        with pytest.raises(Exception, match="maximum value"):
            run_sql(spark, "SELECT nextval('w48_s2')").collect()

    def test_sequence_per_row_is_loud(self, spark, sf_dir):
        from vscode_parquet_visualizer_spark.plans.sql_gateway import run_sql

        run_sql(spark, "CREATE SEQUENCE IF NOT EXISTS w48_s3").collect()
        spark.read.parquet(f"{sf_dir}/region.parquet").createOrReplaceTempView(
            "w48_region"
        )
        # per-row advancement over a relation is not emulated — must not
        # silently under-advance the counter
        with pytest.raises(NotImplementedError, match="per input row"):
            run_sql(spark, "SELECT nextval('w48_s3') FROM w48_region").collect()

    def test_enum_type(self, spark):
        from vscode_parquet_visualizer_spark.plans.sql_gateway import run_sql

        run_sql(
            spark, "CREATE TYPE w48_mood AS ENUM ('sad','ok','happy')"
        ).collect()
        rows = run_sql(
            spark,
            "SELECT 'happy'::w48_mood AS m, "
            "CAST('sad' AS w48_mood) AS n",
        ).collect()
        assert tuple(rows[0]) == ("happy", "sad")
        # invalid member: DuckDB raises a Conversion Error at bind time
        with pytest.raises(Exception, match="Could not convert"):
            run_sql(spark, "SELECT 'angry'::w48_mood").collect()
        run_sql(spark, "DROP TYPE w48_mood").collect()

    def test_comment_on_noop(self, spark):
        from vscode_parquet_visualizer_spark.plans.sql_gateway import run_sql

        rows = run_sql(
            spark,
            "CREATE TABLE w48_tc AS SELECT 1 AS x; "
            "COMMENT ON TABLE w48_tc IS 'hello'; "
            "COMMENT ON COLUMN w48_tc.x IS 'col'; "
            "SELECT x FROM w48_tc",
        ).collect()
        assert [tuple(r) for r in rows] == [(1,)]
        run_sql(spark, "DROP TABLE w48_tc").collect()

    def test_insert_default_values(self, spark):
        from vscode_parquet_visualizer_spark.plans.sql_gateway import run_sql

        rows = run_sql(
            spark,
            "CREATE TABLE w48_td (a INTEGER, b VARCHAR); "
            "INSERT INTO w48_td DEFAULT VALUES; "
            "SELECT * FROM w48_td",
        ).collect()
        assert [tuple(r) for r in rows] == [(None, None)]
        run_sql(spark, "DROP TABLE w48_td").collect()

    def test_pivot_multiple_aggregates(self, spark):
        from vscode_parquet_visualizer_spark.plans.sql_gateway import run_sql

        run_sql(
            spark,
            "CREATE TABLE w48_tp AS SELECT range % 2 AS par, range AS g, "
            "range * 10 AS v FROM range(6)",
        ).collect()
        df = run_sql(
            spark,
            "PIVOT w48_tp ON par USING sum(v) AS s, count(v) AS c "
            "GROUP BY g ORDER BY g",
        )
        # DuckDB's naming ({value}_{alias}) and absent-group fill
        # (count → 0, sum → NULL), probed
        assert df.columns == ["g", "0_s", "0_c", "1_s", "1_c"]
        rows = [tuple(r) for r in df.collect()]
        assert rows[0] == (0, 0, 1, None, 0)
        assert rows[1] == (1, None, 0, 10, 1)
        run_sql(spark, "DROP TABLE w48_tp").collect()


class TestRound11AdviceFixes:
    """Regressions for the r10 ADVICE defects (all verified against
    DuckDB v1.x this round)."""

    def test_sequence_text_inside_literal_untouched(self, spark):
        # ADVICE r10 medium: nextval() inside a dollar-quoted literal
        # was substituted (data corrupted, counter advanced)
        run_sql(spark, "CREATE SEQUENCE r11_s1").collect()
        rows = run_sql(
            spark, "SELECT $$literal nextval('r11_s1') text$$ AS t"
        ).collect()
        assert rows[0]["t"] == "literal nextval('r11_s1') text"
        # counter must NOT have advanced: first real call returns 1
        rows = run_sql(spark, "SELECT nextval('r11_s1') AS v").collect()
        assert rows[0]["v"] == 1
        run_sql(spark, "DROP SEQUENCE r11_s1").collect()

    def test_sequence_with_non_clause_from(self, spark):
        # ADVICE r10 low: the per-row guard matched ANY \bFROM\b —
        # extract(year FROM …) is not a relation scan (DuckDB: (1, 2024))
        run_sql(spark, "CREATE SEQUENCE r11_s2").collect()
        rows = run_sql(
            spark,
            "SELECT nextval('r11_s2') AS v, "
            "extract(year FROM DATE '2024-01-01') AS y",
        ).collect()
        assert tuple(rows[0]) == (1, 2024)
        # a real top-level FROM still raises loudly
        with pytest.raises(NotImplementedError, match="per input row"):
            run_sql(
                spark, "SELECT nextval('r11_s2') FROM range(3)"
            ).collect()
        run_sql(spark, "DROP SEQUENCE r11_s2").collect()

    def test_pivot_group_by_identifier_ending_in_limit(self, spark):
        # ADVICE r10 medium: `GROUP BY rate_limit` split mid-identifier
        # at the `limit` suffix
        run_sql(
            spark,
            "CREATE TABLE r11_tp AS SELECT range % 2 AS par, "
            "range % 3 AS rate_limit, range AS v FROM range(12)",
        ).collect()
        df = run_sql(
            spark,
            "PIVOT r11_tp ON par USING count(*) "
            "GROUP BY rate_limit ORDER BY rate_limit",
        )
        assert df.columns == ["rate_limit", "0", "1"]
        assert [tuple(r) for r in df.collect()] == [
            (0, 2, 2),
            (1, 2, 2),
            (2, 2, 2),
        ]
        run_sql(spark, "DROP TABLE r11_tp").collect()

    def test_enum_cast_keyword_spelling_validated(self, spark):
        # ADVICE r10 low: CAST('zebra' AS mood) silently succeeded
        # where DuckDB raises a ConversionError; TRY_CAST NULLs
        run_sql(
            spark, "CREATE TYPE r11_mood AS ENUM ('sad','ok','happy')"
        ).collect()
        with pytest.raises(Exception, match="Could not convert"):
            run_sql(spark, "SELECT CAST('zebra' AS r11_mood)").collect()
        rows = run_sql(
            spark,
            "SELECT TRY_CAST('zebra' AS r11_mood) AS a, "
            "TRY_CAST('ok' AS r11_mood) AS b",
        ).collect()
        assert tuple(rows[0]) == (None, "ok")
        run_sql(spark, "DROP TYPE r11_mood").collect()

    def test_macro_nextval_evaluated_per_invocation(self, spark):
        # ADVICE r10 low: sequence substitution inside CREATE MACRO
        # froze nextval() at definition time; DuckDB evaluates the
        # body per invocation (probed: 2 then 3 after one direct call)
        run_sql(spark, "CREATE SEQUENCE r11_s3").collect()
        run_sql(
            spark, "CREATE MACRO r11_nv() AS nextval('r11_s3')"
        ).collect()
        a = run_sql(spark, "SELECT r11_nv() AS a").collect()[0]["a"]
        b = run_sql(spark, "SELECT r11_nv() AS a").collect()[0]["a"]
        assert (a, b) == (1, 2)
        run_sql(spark, "DROP MACRO r11_nv").collect()
        run_sql(spark, "DROP SEQUENCE r11_s3").collect()

    def test_multistatement_quote_doubled_literal(self, spark):
        # r11: the statement splitter's intermediate restore re-encoded
        # 'it''s' into Spark's "it's" string spelling, which the NEXT
        # protect pass read as a quoted IDENTIFIER and backticked —
        # the literal came back as a column reference
        rows = run_sql(
            spark,
            "CREATE OR REPLACE TABLE r11_q AS SELECT 'it''s' AS x; "
            "SELECT x FROM r11_q",
        ).collect()
        assert rows[0]["x"] == "it's"
        run_sql(spark, "DROP TABLE r11_q").collect()

    def test_execute_bound_quote_doubled_literal(self, spark):
        # same class through the EXECUTE-binding restore
        run_sql(
            spark, "PREPARE r11_p AS SELECT ? AS x, 'a''b' AS y"
        ).collect()
        rows = run_sql(spark, "EXECUTE r11_p('it''s')").collect()
        assert tuple(rows[0]) == ("it's", "a'b")
        run_sql(spark, "DEALLOCATE r11_p").collect()


class TestRound11PivotForms:
    """r10 verdict item 4: subquery-form and SQL-standard PIVOT count
    cells must 0-fill like DuckDB (Spark's native pivot NULL-fills)."""

    @pytest.fixture(scope="class", autouse=True)
    def pv_table(self, spark):
        run_sql(
            spark,
            "CREATE OR REPLACE TABLE r11_pv AS SELECT range % 3 AS g, "
            "CASE range % 2 WHEN 0 THEN 'x' ELSE 'y' END AS s, range AS v "
            "FROM range(10) WHERE NOT (range % 3 = 2 AND range % 2 = 1)",
        ).collect()
        yield
        run_sql(spark, "DROP TABLE r11_pv").collect()

    def test_shorthand_pivot_as_derived_table(self, spark):
        # previously a Spark parse error (the full-statement route only
        # matched a leading PIVOT); DuckDB-verified rows incl. the
        # (2, 2, 0) zero-filled cell
        df = run_sql(
            spark,
            "SELECT * FROM (PIVOT r11_pv ON s USING count(*) GROUP BY g) "
            "ORDER BY g",
        )
        assert df.columns == ["g", "x", "y"]
        assert [tuple(r) for r in df.collect()] == [
            (0, 2, 2), (1, 1, 2), (2, 2, 0),
        ]

    def test_standard_pivot_count_zero_fill(self, spark):
        # rode Spark's native pivot before (NULL in the absent cell);
        # DuckDB 0-fills count
        df = run_sql(
            spark,
            "SELECT * FROM (SELECT g, s FROM r11_pv) "
            "PIVOT (count(*) FOR s IN ('x','y')) ORDER BY g",
        )
        assert df.columns == ["g", "x", "y"]
        assert [tuple(r) for r in df.collect()] == [
            (0, 2, 2), (1, 1, 2), (2, 2, 0),
        ]

    def test_standard_pivot_alias_naming(self, spark):
        # DuckDB naming probed r11: agg alias suffixes as {value}_{alias}
        df = run_sql(
            spark,
            "SELECT * FROM (SELECT g, s FROM r11_pv) "
            "PIVOT (count(*) AS c FOR s IN ('x','y')) ORDER BY g",
        )
        assert df.columns == ["g", "x_c", "y_c"]

    def test_standard_pivot_counted_column_excluded_from_ids(self, spark):
        # count(v): v is consumed by the aggregate, so ids = {g} only
        # (DuckDB-probed rule); value-alias naming
        df = run_sql(
            spark,
            "SELECT * FROM (SELECT g, s, v FROM r11_pv) "
            "PIVOT (count(v) FOR s IN ('x' AS ex, 'y')) ORDER BY g",
        )
        assert df.columns == ["g", "ex", "y"]
        assert [tuple(r) for r in df.collect()] == [
            (0, 2, 2), (1, 1, 2), (2, 2, 0),
        ]


class TestRound11EnumOrdering:
    """r10 verdict item 5: DuckDB compares enums by MEMBER INDEX, not
    cell text — observable wherever definition order != lex order.
    All expectations below verified against DuckDB v1.x this round."""

    @pytest.fixture(scope="class", autouse=True)
    def mood(self, spark):
        run_sql(
            spark, "CREATE TYPE r11_mood2 AS ENUM ('sad','ok','happy')"
        ).collect()
        yield
        run_sql(spark, "DROP TYPE r11_mood2").collect()

    def test_order_by_alias_of_enum_cast(self, spark):
        r = run_sql(
            spark,
            "SELECT unnest(['happy','sad','ok'])::r11_mood2 AS m ORDER BY m",
        ).collect()
        assert [t[0] for t in r] == ["sad", "ok", "happy"]
        r = run_sql(
            spark,
            "SELECT unnest(['happy','sad','ok'])::r11_mood2 AS m "
            "ORDER BY m DESC",
        ).collect()
        assert [t[0] for t in r] == ["happy", "ok", "sad"]

    def test_order_by_direct_enum_cast(self, spark):
        run_sql(
            spark,
            "CREATE OR REPLACE TABLE r11_et AS "
            "SELECT unnest(['happy','sad','ok']) AS c",
        ).collect()
        r = run_sql(
            spark, "SELECT c FROM r11_et ORDER BY c::r11_mood2"
        ).collect()
        assert [t[0] for t in r] == ["sad", "ok", "happy"]
        run_sql(spark, "DROP TABLE r11_et").collect()

    def test_enum_comparisons_by_member_index(self, spark):
        r = run_sql(
            spark,
            "SELECT 'ok'::r11_mood2 < 'happy'::r11_mood2 AS a, "
            "'ok'::r11_mood2 > 'happy'::r11_mood2 AS b, "
            "'ok'::r11_mood2 >= 'sad'::r11_mood2 AS c, "
            "'ok'::r11_mood2 = 'ok'::r11_mood2 AS d",
        ).collect()
        assert tuple(r[0]) == (True, False, True, True)


class TestRound11CompositeWaveFinds:
    """Defects flushed by the round-11 composite script fuzz (statement
    x expression x identifier x literal grammars in one script); each
    pinned against DuckDB-verified expectations."""

    def test_update_quoted_identifier_with_comma(self, spark):
        # the SET splitter broke "c,d" at the comma
        run_sql(
            spark,
            'CREATE OR REPLACE TABLE r11_u1 AS '
            'SELECT range AS rid, range * 10 AS "c,d" FROM range(3)',
        ).collect()
        run_sql(
            spark,
            'UPDATE r11_u1 SET "c,d" = "c,d" + 1 WHERE rid >= 1',
        ).collect()
        rows = run_sql(
            spark, 'SELECT "c,d" AS v FROM r11_u1 ORDER BY rid'
        ).collect()
        assert [r["v"] for r in rows] == [0, 11, 21]
        run_sql(spark, "DROP TABLE r11_u1").collect()

    def test_update_quote_doubled_identifier_applies(self, spark):
        # "sel""ect" resolved to nothing and the assignment was
        # SILENTLY dropped (wrong-value class)
        run_sql(
            spark,
            'CREATE OR REPLACE TABLE r11_u2 AS '
            'SELECT range AS rid, range AS "sel""ect" FROM range(3)',
        ).collect()
        run_sql(
            spark,
            'UPDATE r11_u2 SET "sel""ect" = "sel""ect" * 2 + 1 '
            "WHERE rid % 3 = 0",
        ).collect()
        rows = run_sql(
            spark, 'SELECT "sel""ect" AS v FROM r11_u2 ORDER BY rid'
        ).collect()
        assert [r["v"] for r in rows] == [1, 1, 2]
        run_sql(spark, "DROP TABLE r11_u2").collect()

    def test_update_unknown_column_is_loud(self, spark):
        run_sql(
            spark,
            "CREATE OR REPLACE TABLE r11_u3 AS SELECT 1 AS a",
        ).collect()
        with pytest.raises(Exception, match="does not exist"):
            run_sql(spark, "UPDATE r11_u3 SET nope = 2").collect()
        run_sql(spark, "DROP TABLE r11_u3").collect()

    def test_update_unicode_quoted_identifier(self, spark):
        # the bare-unicode backtick pass double-wrapped an
        # already-backticked name in the UPDATE rebuild (parse error)
        run_sql(
            spark,
            'CREATE OR REPLACE TABLE r11_u4 AS '
            'SELECT range AS rid, range AS "ümlaut" FROM range(2)',
        ).collect()
        run_sql(
            spark,
            'UPDATE r11_u4 SET "ümlaut" = "ümlaut" * 2 + 1 WHERE rid = 0',
        ).collect()
        rows = run_sql(
            spark, 'SELECT "ümlaut" AS v FROM r11_u4 ORDER BY rid'
        ).collect()
        assert [r["v"] for r in rows] == [1, 1]
        run_sql(spark, "DROP TABLE r11_u4").collect()

    def test_update_identifier_containing_double_quote(self, spark):
        # a '"' inside a rewrite-generated backtick span opened an IDQ
        # that swallowed text across the backtick (parse error)
        run_sql(
            spark,
            'CREATE OR REPLACE TABLE r11_u5 AS '
            "SELECT range AS rid, 'A b' AS \"sel\"\"ect\" FROM range(2)",
        ).collect()
        run_sql(
            spark,
            'UPDATE r11_u5 SET "sel""ect" = trim("sel""ect") '
            "WHERE rid >= 1",
        ).collect()
        rows = run_sql(
            spark, 'SELECT "sel""ect" AS s FROM r11_u5 ORDER BY rid'
        ).collect()
        assert [r["s"] for r in rows] == ["A b", "A b"]
        run_sql(spark, "DROP TABLE r11_u5").collect()


class TestRound11StdPivotMultiAgg:
    """Multi-aggregate SQL-standard PIVOT with a count: DuckDB 0-fills
    count cells and NULL-fills sum cells; naming is value-major with
    {value}_{alias-or-rendered} (probed r11)."""

    @pytest.fixture(scope="class", autouse=True)
    def pv2(self, spark):
        run_sql(
            spark,
            "CREATE OR REPLACE TABLE r11_pv2 AS SELECT range % 3 AS g, "
            "CASE range % 2 WHEN 0 THEN 'x' ELSE 'y' END AS s, range AS v "
            "FROM range(10) WHERE NOT (range % 3 = 2 AND range % 2 = 1)",
        ).collect()
        yield
        run_sql(spark, "DROP TABLE r11_pv2").collect()

    def test_count_and_sum_with_aliases(self, spark):
        df = run_sql(
            spark,
            "SELECT * FROM (SELECT g,s,v FROM r11_pv2) "
            "PIVOT (count(*) AS c, sum(v) AS sv FOR s IN ('x','y')) "
            "ORDER BY g",
        )
        assert df.columns == ["g", "x_c", "x_sv", "y_c", "y_sv"]
        assert [tuple(r) for r in df.collect()] == [
            (0, 2, 6, 2, 12), (1, 1, 4, 2, 8), (2, 2, 10, 0, None),
        ]

    def test_aliasless_rendering(self, spark):
        df = run_sql(
            spark,
            "SELECT * FROM (SELECT g,s,v FROM r11_pv2) "
            "PIVOT (count(*), sum(v) FOR s IN ('x','y')) ORDER BY g",
        )
        assert df.columns == [
            "g", "x_count_star()", "x_sum(v)",
            "y_count_star()", "y_sum(v)",
        ]

    def test_value_alias_with_counted_column(self, spark):
        df = run_sql(
            spark,
            "SELECT * FROM (SELECT g,s,v FROM r11_pv2) "
            "PIVOT (sum(v) AS sv, count(v) AS c FOR s IN ('x' AS ex,'y')) "
            "ORDER BY g",
        )
        assert df.columns == ["g", "ex_sv", "ex_c", "y_sv", "y_c"]
        assert [tuple(r) for r in df.collect()][2] == (2, 10, 2, None, 0)


class TestRound12AdviceFixes:
    """Round-12 ADVICE regressions, each DuckDB-verified this round."""

    def test_lowercase_order_by_enum_member_index(self, spark):
        # ddl_sql's ORDER BY scanner lacked re.IGNORECASE: lowercase
        # 'order by' skipped the member-index rewrite and sorted enum
        # cells lexicographically (DuckDB keywords are case-insensitive)
        run_sql(
            spark, "CREATE TYPE r12_mood AS ENUM ('sad','ok','happy')"
        ).collect()
        try:
            r = run_sql(
                spark,
                "select unnest(['happy','sad','ok'])::r12_mood as m "
                "order by m",
            ).collect()
            assert [t[0] for t in r] == ["sad", "ok", "happy"]
            r = run_sql(
                spark,
                "select unnest(['happy','sad','ok'])::r12_mood as m "
                "Order By m desc",
            ).collect()
            assert [t[0] for t in r] == ["happy", "ok", "sad"]
        finally:
            run_sql(spark, "DROP TYPE r12_mood").collect()

    def test_count_pivot_quoted_id_column(self, spark):
        # the count-pivot lowering spliced id columns unquoted into
        # SELECT/GROUP BY; a column needing quoting broke the rewrite
        # (DuckDB: [(0,2,1),(1,1,2),(2,2,1)] on this data)
        run_sql(
            spark,
            'CREATE OR REPLACE TABLE r12_pv AS SELECT range % 3 AS '
            '"group col", CASE WHEN range % 2 = 0 THEN \'x\' ELSE \'y\' '
            "END AS s FROM range(9)",
        ).collect()
        try:
            df = run_sql(
                spark,
                'SELECT * FROM (SELECT "group col", s FROM r12_pv) '
                "PIVOT (count(*) FOR s IN ('x','y')) ORDER BY \"group col\"",
            )
            assert df.columns == ["group col", "x", "y"]
            assert [tuple(r) for r in df.collect()] == [
                (0, 2, 1), (1, 1, 2), (2, 2, 1),
            ]
        finally:
            run_sql(spark, "DROP TABLE r12_pv").collect()


class TestRound12EnumResiduals:
    """r11 verdict item 7: the documented enum-ordering residuals —
    min/max over enum cells, set-op and window ORDER BY, unnest member
    validation. Every expectation DuckDB-verified this round."""

    @pytest.fixture(scope="class", autouse=True)
    def mood(self, spark):
        run_sql(
            spark, "CREATE TYPE r12_mood AS ENUM ('sad','ok','happy')"
        ).collect()
        run_sql(
            spark,
            "CREATE OR REPLACE TABLE r12_et AS "
            "SELECT unnest(['happy','sad','ok','sad']) AS c",
        ).collect()
        yield
        run_sql(spark, "DROP TABLE r12_et").collect()
        run_sql(spark, "DROP TYPE r12_mood").collect()

    def test_min_max_by_member_index(self, spark):
        r = run_sql(
            spark,
            "SELECT min(c::r12_mood) AS mn, max(c::r12_mood) AS mx "
            "FROM r12_et",
        ).collect()
        assert tuple(r[0]) == ("sad", "happy")

    def test_min_over_window(self, spark):
        r = run_sql(
            spark,
            "SELECT c, min(c::r12_mood) OVER () AS m FROM r12_et LIMIT 1",
        ).collect()
        assert r[0]["m"] == "sad"

    def test_setop_positional_order_by(self, spark):
        r = run_sql(
            spark,
            "SELECT 'happy'::r12_mood UNION ALL SELECT 'sad'::r12_mood "
            "UNION ALL SELECT 'ok'::r12_mood ORDER BY 1",
        ).collect()
        assert [t[0] for t in r] == ["sad", "ok", "happy"]
        r = run_sql(
            spark,
            "SELECT 'happy'::r12_mood UNION ALL SELECT 'sad'::r12_mood "
            "UNION ALL SELECT 'ok'::r12_mood ORDER BY 1 DESC LIMIT 2",
        ).collect()
        assert [t[0] for t in r] == ["happy", "ok"]

    def test_plain_select_positional_order_by(self, spark):
        r = run_sql(
            spark, "SELECT c::r12_mood FROM r12_et ORDER BY 1"
        ).collect()
        assert [t[0] for t in r] == ["sad", "sad", "ok", "happy"]

    def test_window_order_by_with_frame(self, spark):
        r = run_sql(
            spark,
            "SELECT c, first_value(c) OVER (ORDER BY c::r12_mood "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) "
            "AS f FROM r12_et ORDER BY c",
        ).collect()
        assert [t["f"] for t in r] == ["sad"] * 4

    def test_window_order_by_member_index(self, spark):
        # frameless form (worked before, pin it): rank by member index
        r = run_sql(
            spark,
            "SELECT c, rank() OVER (ORDER BY c::r12_mood) AS r "
            "FROM r12_et ORDER BY c",
        ).collect()
        assert [(t["c"], t["r"]) for t in r] == [
            ("happy", 4), ("ok", 3), ("sad", 1), ("sad", 1),
        ]

    def test_unnest_cast_validates_members(self, spark):
        r = run_sql(
            spark,
            "SELECT unnest(['ok','happy'])::r12_mood AS m ORDER BY m",
        ).collect()
        assert [t[0] for t in r] == ["ok", "happy"]
        with pytest.raises(Exception, match="Could not convert"):
            run_sql(spark, "SELECT unnest(['zebra'])::r12_mood").collect()


class TestRound13EnumSetopOrder:
    """r12 verdict item 3: the last silent enum corner — a set-op ORDER
    BY item that is neither an ordinal nor a first-branch alias. DuckDB
    resolves the DERIVED quoted name "CAST(x AS enum)" (member order)
    and raises a Binder Error on the bare operand name; both behaviors
    pinned against duckdb 2026-08 this round."""

    @pytest.fixture(scope="class", autouse=True)
    def mood(self, spark):
        run_sql(
            spark, "CREATE TYPE r13_mood AS ENUM ('sad','ok','happy')"
        ).collect()
        run_sql(
            spark,
            "CREATE OR REPLACE TABLE r13_et AS "
            "SELECT unnest(['ok','sad']) AS m",
        ).collect()
        yield
        run_sql(spark, "DROP TABLE r13_et").collect()
        run_sql(spark, "DROP TYPE r13_mood").collect()

    def test_derived_quoted_name_sorts_by_member_index(self, spark):
        r = run_sql(
            spark,
            "SELECT m::r13_mood FROM r13_et UNION "
            "SELECT 'happy'::r13_mood "
            'ORDER BY "CAST(m AS r13_mood)" DESC',
        ).collect()
        assert [t[0] for t in r] == ["happy", "ok", "sad"]

    def test_derived_name_of_literal_cast(self, spark):
        r = run_sql(
            spark,
            "SELECT 'ok'::r13_mood UNION SELECT 'sad'::r13_mood "
            "ORDER BY \"CAST('ok' AS r13_mood)\"",
        ).collect()
        assert [t[0] for t in r] == ["sad", "ok"]

    def test_bare_operand_name_raises_loudly(self, spark):
        # DuckDB: Binder Error 'Could not ORDER BY column "t.m"' —
        # sorting the merged column lexicographically instead would be
        # the silent divergence this closes
        with pytest.raises(Exception, match="Could not ORDER BY"):
            run_sql(
                spark,
                "SELECT m::r13_mood FROM r13_et UNION "
                "SELECT 'happy'::r13_mood ORDER BY m",
            ).collect()

    def test_name_provided_by_other_item_still_resolves(self, spark):
        # when ANOTHER first-branch item genuinely provides the name,
        # DuckDB resolves it there (plain lexicographic sort)
        r = run_sql(
            spark,
            "SELECT m::r13_mood, m FROM r13_et UNION "
            "SELECT 'happy'::r13_mood, 'zzz' ORDER BY m",
        ).collect()
        assert [tuple(t) for t in r] == [
            ("ok", "ok"), ("sad", "sad"), ("happy", "zzz"),
        ]


class TestRound13TimeType:
    """Spark 4.1's flag-gated TimeType (spark.sql.timeType.enabled, on in
    session._DEFAULTS) closes the SURVEY §1.3 TIME gap end-to-end: TIME
    parquet columns scan, TIME literals/casts/extract/interval arithmetic
    evaluate, ordering agrees. Previously only the schema formatter knew
    the type and every TIME expression (and even scanning a TIME parquet
    column) died with UNSUPPORTED_TIME_TYPE. Expectations DuckDB-verified
    in-test."""

    def test_literal_cast_try_cast(self, spark):
        import duckdb

        sql = (
            "SELECT TIME '12:34:56' AS a, '12:34:56.789'::TIME AS b, "
            "TRY_CAST('25:00:00' AS TIME) AS c"
        )
        got = run_sql(spark, sql).collect()[0]
        want = duckdb.sql(sql).fetchone()
        assert (got["a"], got["b"], got["c"]) == want

    def test_extract_parts(self, spark):
        import duckdb

        sql = (
            "SELECT extract(hour FROM TIME '12:34:56') AS h, "
            "date_part('minute', '12:34:56'::TIME) AS m, "
            "extract(second FROM TIME '12:34:56') AS s"
        )
        got = run_sql(spark, sql).collect()[0]
        assert (got["h"], got["m"], got["s"]) == duckdb.sql(sql).fetchone()

    def test_interval_arithmetic(self, spark):
        import duckdb

        sql = "SELECT TIME '12:00:00' + INTERVAL 90 MINUTE AS t"
        assert run_sql(spark, sql).collect()[0]["t"] == (
            duckdb.sql(sql).fetchone()[0]
        )

    def test_order_and_min_max(self, spark):
        import duckdb

        sql = (
            "SELECT min(t) AS mn, max(t) AS mx FROM (VALUES "
            "(TIME '12:00:00'), (TIME '01:02:03.456789'), "
            "(TIME '23:59:59')) v(t)"
        )
        got = run_sql(spark, sql).collect()[0]
        assert (got["mn"], got["mx"]) == duckdb.sql(sql).fetchone()
        order_sql = (
            "SELECT t FROM (VALUES (TIME '12:00:00'), "
            "(TIME '01:02:03.456789'), (TIME '23:59:59')) v(t) "
            "ORDER BY t DESC"
        )
        assert [r["t"] for r in run_sql(spark, order_sql).collect()] == [
            r[0] for r in duckdb.sql(order_sql).fetchall()
        ]

    def test_time_parquet_scan_matches_duckdb(self, spark, tmp_path):
        import duckdb

        path = str(tmp_path / "times.parquet")
        duckdb.sql(
            "COPY (SELECT make_time(range::INT % 24, 7, 1.5) AS t, "
            f"range AS k FROM range(48)) TO '{path}' (FORMAT PARQUET)"
        )
        sel = f"SELECT t, k FROM read_parquet('{path}') ORDER BY t, k"
        got = [(r["t"], r["k"]) for r in run_sql(spark, sel).collect()]
        assert got == duckdb.sql(sel).fetchall()

    def test_timestamp_to_time_cast_stays_loud(self, spark):
        # DuckDB-only edge: ts::TIME (time-of-day). Spark has no
        # timestamp→TIME cast; runtime operand types are unknowable at
        # transpile (CAST-of-double-columns class) so this stays a LOUD
        # analysis error naming the cast, never a silent wrong value.
        with pytest.raises(Exception, match="TIME|CAST"):
            run_sql(
                spark,
                "SELECT CAST(TIMESTAMP '2024-01-01 10:20:30' AS TIME) AS t",
            ).collect()


class TestRound14FractionalLagDefault:
    """r14 verdict item 3: a fractional lag/lead DEFAULT for an
    INTEGRAL value column truncated in Spark (2.5 → 2) where DuckDB
    rounds its DECIMAL literal half away from zero (2.5 → 3) — silent
    in both engines, hit by verbatim pass-through SQL
    (src/worker.ts:516-541). The gateway rounds the literal before the
    implicit cast, for the WindowExec AND lowered paths alike;
    fractional-typed value columns keep the fractional default."""

    @pytest.fixture(autouse=True)
    def _views(self, spark):
        import duckdb

        spark.createDataFrame(
            [(1, 10, 1.5), (1, 20, 2.5), (2, 30, 3.5)],
            "g int, big bigint, dbl double",
        ).createOrReplaceTempView("ll_frac")
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE ll_frac (g int, big bigint, dbl double);"
            "INSERT INTO ll_frac VALUES (1,10,1.5),(1,20,2.5),(2,30,3.5)"
        )
        self.duck = con

    def _both(self, sql):
        got = sorted(
            tuple(r)
            for r in run_sql(self.spark_session, sql).collect()
        )
        want = sorted(tuple(r) for r in self.duck.execute(sql).fetchall())
        return got, want

    @pytest.fixture(autouse=True)
    def _spark(self, spark):
        self.spark_session = spark

    def test_integral_column_rounds_window_path(self):
        for lit, cases in {
            "2.5": None, "-2.5": None, "2.4": None, "0.5": None,
        }.items():
            sql = (
                f"SELECT big, lag(big, 1, {lit}) OVER "
                "(PARTITION BY g ORDER BY big) AS d FROM ll_frac"
            )
            got, want = self._both(sql)
            assert got == want, (lit, got, want)

    def test_lead_integral_rounds(self):
        sql = (
            "SELECT big, lead(big, 1, 7.5) OVER "
            "(PARTITION BY g ORDER BY big) AS d FROM ll_frac"
        )
        got, want = self._both(sql)
        assert got == want

    def test_double_column_keeps_fractional_default(self):
        sql = (
            "SELECT dbl, lag(dbl, 1, 2.5) OVER "
            "(PARTITION BY g ORDER BY dbl) AS d FROM ll_frac"
        )
        got, want = self._both(sql)
        assert got == want
        assert any(r[1] == 2.5 for r in got)  # default NOT rounded

    def test_lowered_path_rounds_too(self, rank_route):
        rank_route("distributed")
        sql = (
            "SELECT big, lag(big, 1, 2.5) OVER "
            "(PARTITION BY g ORDER BY big) AS d FROM ll_frac"
        )
        got, want = self._both(sql)
        assert got == want
        assert any(r[1] == 3 for r in got)

    def test_existing_null_value_not_replaced(self):
        # the default applies only when the offset row does not EXIST;
        # an existing NULL value must stay NULL after the rewrite
        import duckdb

        self.spark_session.createDataFrame(
            [(1, None), (2, 5)], "k int, v bigint"
        ).createOrReplaceTempView("ll_nullv")
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE ll_nullv (k int, v bigint);"
            "INSERT INTO ll_nullv VALUES (1, NULL), (2, 5)"
        )
        sql = (
            "SELECT k, lag(v, 1, 9.5) OVER (ORDER BY k) AS d "
            "FROM ll_nullv"
        )
        got = sorted(
            tuple(r) for r in run_sql(self.spark_session, sql).collect()
        )
        want = sorted(tuple(r) for r in con.execute(sql).fetchall())
        assert got == want  # row k=1 → 10 (default), k=2 → NULL (exists)

    def test_string_literal_lag_untouched(self):
        # '2.5' inside a string literal must not be rewritten
        sql = (
            "SELECT big, lag(CAST('2.5' AS VARCHAR), 1, '2.5') OVER "
            "(PARTITION BY g ORDER BY big) AS d FROM ll_frac"
        )
        got, want = self._both(sql)
        assert got == want
