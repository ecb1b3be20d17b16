"""DuckDB→Spark dialect rewrites (plans/dialect.py)."""

from vscode_parquet_visualizer_spark.plans.dialect import (
    rewrite_exclude,
    rewrite_from_data,
    rewrite_json_arrows,
    rewrite_pg_cast,
    rewrite_qualify,
    translate_strftime_pattern,
    transpile,
)


def test_pg_cast_simple():
    assert rewrite_pg_cast("SELECT a::INT FROM t") == "SELECT CAST(a AS INT) FROM t"
    assert (
        rewrite_pg_cast("SELECT '1'::DECIMAL(10,2)")
        == "SELECT CAST('1' AS DECIMAL(10,2))"
    )


def test_pg_cast_multiple():
    out = rewrite_pg_cast("SELECT a::INT, b::VARCHAR FROM t")
    assert out == "SELECT CAST(a AS INT), CAST(b AS VARCHAR) FROM t"


def test_json_arrows():
    assert (
        rewrite_json_arrows("SELECT props ->> 'k' FROM e")
        == "SELECT get_json_object(props, '$.k') FROM e"
    )
    assert (
        rewrite_json_arrows("SELECT props -> 'k' FROM e")
        == "SELECT get_json_object(props, '$.k') FROM e"
    )
    # chains collapse into ONE json path (one parse per chain)
    assert (
        rewrite_json_arrows("SELECT j -> 'a' -> 0 ->> 'c' FROM t")
        == "SELECT get_json_object(j, '$.a[0].c') FROM t"
    )
    # a string-literal base operand (inline JSON text) still works
    assert (
        rewrite_json_arrows("SELECT '{\"a\":1}' -> 'a'")
        == "SELECT get_json_object('{\"a\":1}', '$.a')"
    )


def test_json_arrows_literal_protection():
    # arrow-like text INSIDE an ordinary string literal is never rewritten
    assert rewrite_json_arrows("SELECT 'a -> 1'") == "SELECT 'a -> 1'"
    # quote-doubled literals are re-encoded for Spark's raw-literal mode
    # (round 9: '' is NOT collapsed by escapedStringLiterals=true, so the
    # old pass-through silently returned the doubled text)
    assert rewrite_json_arrows("SELECT 'a -> ''b'''") == (
        'SELECT "a -> \'b\'"'
    )
    assert (
        rewrite_json_arrows("SELECT 'x ->> y' AS s, j ->> 'k' FROM t")
        == "SELECT 'x ->> y' AS s, get_json_object(j, '$.k') FROM t"
    )
    # lambda arrows with non-literal bodies are untouched
    assert (
        rewrite_json_arrows("SELECT transform(a, x -> x + 1) FROM t")
        == "SELECT transform(a, x -> x + 1) FROM t"
    )
    assert (
        rewrite_json_arrows("SELECT transform(a, x -> 1) FROM t")
        == "SELECT transform(a, x -> 1) FROM t"
    )


def test_strftime_literal_protection():
    from vscode_parquet_visualizer_spark.plans.dialect import rewrite_strftime

    assert (
        rewrite_strftime("SELECT strftime(d, '%Y-%m') FROM t")
        == "SELECT date_format(d, 'yyyy-MM') FROM t"
    )
    # strftime-like text inside an unrelated literal is not REWRITTEN
    # (the '' re-encoding to Spark's raw-literal spelling is value-
    # preserving, not a strftime translation)
    assert (
        rewrite_strftime("SELECT 'strftime(d, ''%Y'')' FROM t")
        == 'SELECT "strftime(d, \'%Y\')" FROM t'
    )


def test_exclude():
    assert (
        rewrite_exclude("SELECT * EXCLUDE (a, b) FROM t")
        == "SELECT * EXCEPT (a, b) FROM t"
    )
    assert rewrite_exclude("SELECT * EXCLUDE a FROM t") == "SELECT * EXCEPT (a) FROM t"


def test_qualify():
    out = rewrite_qualify(
        "SELECT a, row_number() OVER (ORDER BY b) AS rn FROM t QUALIFY rn <= 3"
    )
    assert out.startswith("SELECT * FROM (")
    assert out.endswith("WHERE rn <= 3")


def test_qualify_with_order_limit():
    out = rewrite_qualify("SELECT a, n FROM t QUALIFY n > 1 ORDER BY n LIMIT 5")
    assert "WHERE n > 1 ORDER BY n LIMIT 5" in out


def test_from_data_table_functions():
    # 'path' placeholder or the dataset's own path bind to the view ...
    assert (
        rewrite_from_data("SELECT * FROM read_parquet('path')")
        == "SELECT * FROM data"
    )
    assert (
        rewrite_from_data(
            "SELECT * FROM read_parquet('/x/y.parquet')",
            dataset_path="/x/y.parquet",
        )
        == "SELECT * FROM data"
    )
    # ... any other path becomes a direct file query of THAT file.
    assert (
        rewrite_from_data("SELECT * FROM read_parquet('/x/y.parquet')")
        == "SELECT * FROM parquet.`/x/y.parquet`"
    )
    assert (
        rewrite_from_data("SELECT * FROM READ_CSV('/x/y.csv')")
        == "SELECT * FROM csv.`/x/y.csv`"
    )


def test_from_data_comma_join_rewrites_to_view():
    # comma-separated relation lists bind to the per-dataset view too
    assert (
        rewrite_from_data("SELECT * FROM orders, data WHERE a = b", view="data_7")
        == "SELECT * FROM orders, data_7 WHERE a = b"
    )
    assert (
        rewrite_from_data("SELECT * FROM data, orders, data", view="data_7")
        == "SELECT * FROM data_7, orders, data_7"
    )
    # a column named data after a clause keyword is NOT a relation
    assert (
        rewrite_from_data("SELECT * FROM t GROUP BY x, data", view="data_7")
        == "SELECT * FROM t GROUP BY x, data"
    )
    # function args don't count as relation positions
    assert (
        rewrite_from_data("SELECT coalesce(x, data) FROM t", view="data_7")
        == "SELECT coalesce(x, data) FROM t"
    )


def test_strftime_translation():
    assert translate_strftime_pattern("%Y-%m-%d %H:%M:%S") == "yyyy-MM-dd HH:mm:ss"


def test_transpile_chain():
    out = transpile(
        "SELECT a::INT AS x, props ->> 'k' AS k FROM read_parquet('f.parquet') "
        "QUALIFY x > 1",
        dataset_path="f.parquet",
    )
    assert "CAST(a AS INT)" in out
    assert "get_json_object(props, '$.k')" in out
    assert "FROM data" in out
    assert out.startswith("SELECT * FROM (")


def test_transpile_on_spark(spark, sf_dir):
    spark.read.parquet(f"{sf_dir}/events.parquet").createOrReplaceTempView("data")
    out = spark.sql(
        transpile(
            "SELECT event_type, count(*)::BIGINT AS n FROM data "
            "GROUP BY event_type QUALIFY n > 0"
        )
    )
    assert out.count() == 5


def test_qualify_inline_window():
    # raw window call in QUALIFY (no alias) — Spark forbids windows in
    # WHERE, so it must be lifted into a projection and dropped again
    out = transpile(
        "SELECT * FROM data QUALIFY row_number() OVER (ORDER BY x DESC) <= 3 "
        "ORDER BY y LIMIT 5"
    )
    assert out == (
        "SELECT * EXCEPT (__qw0) FROM (SELECT *, row_number() OVER "
        "(ORDER BY x DESC) AS __qw0 FROM data) __q WHERE __qw0 <= 3 "
        "ORDER BY y NULLS LAST LIMIT 5"
    )
    # alias-only predicate keeps the simple subquery+WHERE form
    out = transpile("SELECT x, rank() OVER (ORDER BY x) AS r FROM data QUALIFY r = 1")
    assert out == (
        "SELECT * FROM (SELECT x, rank() OVER (ORDER BY x NULLS LAST) AS r FROM data) "
        "__q WHERE r = 1"
    )


def test_qualify_inline_window_on_spark(spark, sf_dir):
    spark.read.parquet(f"{sf_dir}/orders.parquet").createOrReplaceTempView("data")
    # window references a base column the projection drops
    out = spark.sql(
        transpile(
            "SELECT o_orderkey::BIGINT AS k FROM data "
            "QUALIFY row_number() OVER (ORDER BY o_totalprice DESC) <= 3"
        )
    )
    assert out.count() == 3 and out.columns == ["k"]
    out = spark.sql(
        transpile(
            "SELECT o_custkey, o_totalprice AS p FROM data "
            "QUALIFY rank() OVER (PARTITION BY o_orderpriority "
            "ORDER BY o_totalprice DESC) = 1 AND p > 0"
        )
    )
    assert out.columns == ["o_custkey", "p"] and out.count() >= 1


def test_distinct_on():
    out = transpile(
        "SELECT DISTINCT ON (k) k, v FROM t ORDER BY k, v DESC LIMIT 5"
    )
    assert out == (
        "SELECT * EXCEPT (__don) FROM (SELECT k, v, row_number() OVER "
        "(PARTITION BY k ORDER BY k NULLS LAST, v DESC) AS __don FROM t) __d "
        "WHERE __don = 1 ORDER BY k NULLS LAST, v DESC LIMIT 5"
    )
    # no ORDER BY: group representative ordered by the ON exprs themselves
    out = transpile("SELECT DISTINCT ON (k) k, v FROM t")
    assert "PARTITION BY k ORDER BY k" in out and out.endswith("WHERE __don = 1")
    # LIMIT without ORDER BY survives
    out = transpile("SELECT DISTINCT ON (k) k, v FROM t LIMIT 3")
    assert out.endswith("WHERE __don = 1 LIMIT 3")


def test_distinct_on_nested_scope():
    # DISTINCT ON inside a CTE body: the rewrite must stay inside the
    # parenthesized scope — the outer query's shape is preserved
    out = transpile(
        "WITH w AS (SELECT DISTINCT ON (k) k, v FROM t ORDER BY k, v DESC) "
        "SELECT k, v FROM w ORDER BY k LIMIT 2"
    )
    assert out.startswith("WITH w AS (SELECT * EXCEPT (__don) FROM (")
    assert out.endswith("SELECT k, v FROM w ORDER BY k NULLS LAST LIMIT 2")
    assert "PARTITION BY k ORDER BY k NULLS LAST, v DESC" in out
    # derived-table position
    out = transpile(
        "SELECT count(*) AS n FROM "
        "(SELECT DISTINCT ON (k) k, v FROM t ORDER BY k, v) sub"
    )
    assert out.startswith("SELECT count(*) AS n FROM (SELECT * EXCEPT (__don)")
    assert out.endswith("sub")


def test_distinct_on_nested_on_spark(spark, sf_dir):
    spark.read.parquet(f"{sf_dir}/orders.parquet").createOrReplaceTempView("data")
    rows = spark.sql(
        transpile(
            "WITH best AS (SELECT DISTINCT ON (o_orderpriority) "
            "o_orderpriority, o_totalprice FROM data "
            "ORDER BY o_orderpriority, o_totalprice DESC) "
            "SELECT count(*) AS n FROM best"
        )
    ).collect()
    want = spark.table("data").select("o_orderpriority").distinct().count()
    assert rows[0]["n"] == want


def test_distinct_on_on_spark(spark, sf_dir):
    spark.read.parquet(f"{sf_dir}/orders.parquet").createOrReplaceTempView("data")
    out = spark.sql(
        transpile(
            "SELECT DISTINCT ON (o_orderpriority) o_orderpriority, o_orderkey, "
            "o_totalprice FROM data "
            "ORDER BY o_orderpriority, o_totalprice DESC, o_orderkey"
        )
    )
    rows = out.collect()
    assert out.columns == ["o_orderpriority", "o_orderkey", "o_totalprice"]
    assert len(rows) == len({r["o_orderpriority"] for r in rows})
    # per group, the kept row carries that group's max total price
    import pyspark.sql.functions as SF

    want = {
        (r["o_orderpriority"], r["mx"])
        for r in spark.table("data")
        .groupBy("o_orderpriority")
        .agg(SF.max("o_totalprice").alias("mx"))
        .collect()
    }
    assert {(r["o_orderpriority"], r["o_totalprice"]) for r in rows} == want


def test_sample_rewrite():
    from vscode_parquet_visualizer_spark.plans.dialect import rewrite_sample

    assert (
        rewrite_sample("SELECT * FROM t USING SAMPLE 10%")
        == "SELECT * FROM t TABLESAMPLE (10 PERCENT)"
    )
    assert (
        rewrite_sample("SELECT * FROM t USING SAMPLE 100 ROWS")
        == "SELECT * FROM t TABLESAMPLE (100 ROWS)"
    )


def test_regex_operator_rewrites():
    from vscode_parquet_visualizer_spark.plans.dialect import (
        rewrite_regex_operators,
    )

    # DuckDB ~ / !~ / SIMILAR TO are FULL matches: the pattern is anchored
    assert (
        rewrite_regex_operators("SELECT * FROM t WHERE name ~ '^a.*b$'")
        == "SELECT * FROM t WHERE name RLIKE '^(?:^a.*b$)$'"
    )
    assert (
        rewrite_regex_operators("SELECT * FROM t WHERE name !~ 'x'")
        == "SELECT * FROM t WHERE name NOT RLIKE '^(?:x)$'"
    )
    assert (
        rewrite_regex_operators("SELECT * FROM t WHERE a SIMILAR TO 'p'")
        == "SELECT * FROM t WHERE a RLIKE '^(?:p)$'"
    )
    # non-literal pattern: operator mapping only (partial match — the
    # pattern can't be anchored without evaluating the expression)
    assert (
        rewrite_regex_operators("SELECT * FROM t WHERE a ~ b")
        == "SELECT * FROM t WHERE a RLIKE b"
    )
    assert (
        rewrite_regex_operators("SELECT * FROM t WHERE a !~ b")
        == "SELECT * FROM t WHERE a NOT RLIKE b"
    )
    # operators spelled inside string literals are never touched
    assert (
        rewrite_regex_operators("SELECT * FROM t WHERE note = 'a!~b'")
        == "SELECT * FROM t WHERE note = 'a!~b'"
    )
    assert (
        rewrite_regex_operators("SELECT 'x ~ ' || 'y' FROM t")
        == "SELECT 'x ~ ' || 'y' FROM t"
    )


def test_columns_regex_rewrite():
    from vscode_parquet_visualizer_spark.plans.dialect import (
        rewrite_columns_regex,
    )

    cols = ["l_orderkey", "l_quantity", "o_custkey"]
    out = rewrite_columns_regex("SELECT COLUMNS('^l_') FROM t", cols)
    assert out == "SELECT `l_orderkey`, `l_quantity` FROM t"
    # no columns supplied -> untouched
    assert rewrite_columns_regex("SELECT COLUMNS('x') FROM t", None).count("COLUMNS") == 1



def test_const_compat_calls_fold_at_transpile():
    # r14 optimization round: pure compat UDFs over LITERAL arguments
    # fold at transpile time (no BatchEvalPython node for a constant);
    # the fold calls the same Python implementation the UDF registry
    # would, and the differential suite pins the values vs DuckDB.
    from vscode_parquet_visualizer_spark.plans.dialect import transpile

    out = transpile("SELECT json_structure('[{\"a\":1},{\"a\":2.5}]') AS s")
    assert "json_structure" not in out
    assert '\'[{"a":"DOUBLE"}]\'' in out
    # non-literal argument: left for the runtime UDF
    out2 = transpile("SELECT json_structure(props) FROM e")
    assert "json_structure(props)" in out2
    # invalid JSON literal folds to the UDF's NULL
    out3 = transpile("SELECT json_structure('nope') AS s")
    assert "CAST(NULL AS STRING)" in out3
    # r14 ADVICE: a folded value containing a BACKSLASH would re-embed
    # as a literal whose meaning depends on escapedStringLiterals — the
    # fold declines and leaves the runtime UDF call (value identical,
    # mode-independent). json_quote of a string with an embedded quote
    # produces \" in its JSON output.
    out4 = transpile("SELECT json_quote('a\"b') AS s")
    assert "json_quote" in out4
    assert "\\" not in out4.replace("json_quote", "")
    # ... while a backslash-free json_quote still folds
    out5 = transpile("SELECT json_quote('plain') AS s")
    assert "json_quote" not in out5
    assert "'\"plain\"'" in out5


def test_chained_json_arrows():
    from vscode_parquet_visualizer_spark.plans.dialect import rewrite_json_arrows

    assert (
        rewrite_json_arrows("SELECT j -> 'a' -> 'b' ->> 'c' FROM t")
        == "SELECT get_json_object(j, '$.a.b.c') FROM t"
    )
    assert (
        rewrite_json_arrows("SELECT j -> 'a' -> 0 ->> 'c' FROM t")
        == "SELECT get_json_object(j, '$.a[0].c') FROM t"
    )
    # independent arrows stay independent
    assert (
        rewrite_json_arrows("SELECT a -> 'x' AS u, b ->> 'y' AS v FROM t")
        == "SELECT get_json_object(a, '$.x') AS u, "
        "get_json_object(b, '$.y') AS v FROM t"
    )
    # literal JSON operand; lambda arrows untouched
    assert rewrite_json_arrows("SELECT transform(xs, x -> x + 1) FROM t") == (
        "SELECT transform(xs, x -> x + 1) FROM t"
    )


def test_len_disambiguation():
    from vscode_parquet_visualizer_spark.plans.dialect import rewrite_len

    out = rewrite_len(
        "SELECT len(name), len(tags), length(split(s, ' ')), len(f(x)) FROM t",
        {"tags"},
    )
    assert out == (
        "SELECT length(name), size(tags), size(split(s, ' ')), "
        "length(f(x)) FROM t"
    )


def test_array_literals():
    from vscode_parquet_visualizer_spark.plans.dialect import (
        rewrite_array_literals,
    )

    out = rewrite_array_literals("SELECT [1, 2, [3, 4]], arr[1], f(x)[2] FROM t")
    assert out == "SELECT array(1, 2, array(3, 4)), arr[1], f(x)[2] FROM t"


def test_replace_projection():
    from vscode_parquet_visualizer_spark.plans.dialect import (
        rewrite_replace_projection,
    )

    # schema-aware: order preserved
    assert (
        rewrite_replace_projection("SELECT * REPLACE (a + 1 AS a) FROM t", ["a", "b"])
        == "SELECT a + 1 AS `a`, `b` FROM t"
    )
    # schema-free fallback
    assert (
        rewrite_replace_projection("SELECT * REPLACE (a + 1 AS a) FROM t", None)
        == "SELECT * EXCEPT (a), a + 1 AS `a` FROM t"
    )


def test_transpile_hardened_chain():
    out = transpile(
        "SELECT len(['x','y']) AS n, j -> 'a' ->> 'b' AS v, "
        "* REPLACE (upper(c) AS c) FROM data"
    )
    assert "size(array('x','y')) AS n" in out
    assert "get_json_object(j, '$.a.b') AS v" in out
    assert "* EXCEPT (c), upper(c) AS `c`" in out


def test_arithmetic_operators():
    from vscode_parquet_visualizer_spark.plans.dialect import (
        rewrite_arithmetic_operators,
    )

    out = rewrite_arithmetic_operators("SELECT 7 // 2, a ** 2, b ^ 3 FROM t")
    assert out == "SELECT 7 div 2, power(a, 2), power(b, 3) FROM t"
    # ^ must NOT survive as Spark XOR; chains left-fold like Postgres
    assert (
        rewrite_arithmetic_operators("SELECT 2 ^ x ^ 2")
        == "SELECT power(power(2, x), 2)"
    )


def test_bracket_slice():
    from vscode_parquet_visualizer_spark.plans.dialect import (
        rewrite_bracket_slice,
    )

    out = rewrite_bracket_slice("SELECT name[2:5], tags[1:2] FROM t", {"tags"})
    assert out == "SELECT substring(name, 2, 4), slice(tags, 1, 2) FROM t"
    # unknown-type integer subscripts default to substring (1-based
    # chars, like the slice convention) — an actual array column fails
    # loudly instead of silently reading 0-based (round-7 hunt 17)
    assert (
        rewrite_bracket_slice("SELECT a[1] FROM t")
        == "SELECT substring(a, 1, 1) FROM t"
    )
    # string-key subscripts stay untouched (struct/map access)
    assert (
        rewrite_bracket_slice("SELECT a['k'] FROM t")
        == "SELECT a['k'] FROM t"
    )


def test_struct_literals():
    out = transpile("SELECT {'a': 1, 'b': upper(x), 'c': {'d': 2}} AS s FROM data")
    assert out == (
        "SELECT named_struct('a', 1, 'b', upper(x), "
        "'c', named_struct('d', 2)) AS s FROM data"
    )
    # cast inside a value: :: is rewritten first, colon split unaffected
    assert (
        transpile("SELECT {'n': x::INT} AS s FROM data")
        == "SELECT named_struct('n', CAST(x AS INT)) AS s FROM data"
    )


def test_list_aggregate_safe_names():
    out = transpile(
        "SELECT list_aggregate(tags, 'min') AS mn, "
        "list_aggregate([3,1], 'max') AS mx, "
        "list_aggregate(tags, 'count') AS n, "
        "list_aggregate(tags, 'sum') AS s FROM data"
    )
    assert "array_min(tags) AS mn" in out
    assert "array_max(array(3,1)) AS mx" in out
    assert "size(tags) AS n" in out
    # 'sum' routes through the list_sum shim (DuckDB NULL semantics,
    # duck-validated in the batch-10/19 corpus — the old type-promotion
    # concern predated that shim); unknown names still stay loud
    assert "list_aggregate(tags, 'sum')" not in out
    assert "list_aggregate(tags, 'entropy')" in transpile(
        "SELECT list_aggregate(tags, 'entropy') FROM data"
    )


def test_from_first_insert_select_star():
    from vscode_parquet_visualizer_spark.plans.dialect import (
        rewrite_from_first,
    )

    # Spark can't parse FROM-first with clauses but no SELECT — insert *
    assert (
        rewrite_from_first("FROM t WHERE x > 1")
        == "SELECT * FROM t WHERE x > 1"
    )
    # Spark handles these natively — untouched
    assert rewrite_from_first("FROM t") == "SELECT * FROM t"
    assert rewrite_from_first("FROM t SELECT x") == "FROM t SELECT x"
    assert (
        rewrite_from_first("SELECT * FROM t WHERE x > 1")
        == "SELECT * FROM t WHERE x > 1"
    )
    # parenthesized FROM-first subquery
    assert (
        rewrite_from_first("SELECT * FROM (FROM t WHERE x > 1) s")
        == "SELECT * FROM (SELECT * FROM t WHERE x > 1) s"
    )
    # derived-table SELECT is depth>0: still needs the star
    assert (
        rewrite_from_first("FROM (SELECT x FROM t) s WHERE x > 1")
        == "SELECT * FROM (SELECT x FROM t) s WHERE x > 1"
    )


def test_order_by_all_nulls_parity():
    from vscode_parquet_visualizer_spark.plans.dialect import (
        rewrite_order_by_all,
    )

    # DuckDB defaults ORDER BY ALL to NULLS LAST; Spark ASC is NULLS FIRST
    assert (
        rewrite_order_by_all("SELECT * FROM t ORDER BY ALL")
        == "SELECT * FROM t ORDER BY ALL NULLS LAST"
    )
    assert (
        rewrite_order_by_all("SELECT * FROM t ORDER BY ALL DESC")
        == "SELECT * FROM t ORDER BY ALL DESC NULLS LAST"
    )
    # explicit null order is respected
    assert (
        rewrite_order_by_all("SELECT * FROM t ORDER BY ALL NULLS FIRST")
        == "SELECT * FROM t ORDER BY ALL NULLS FIRST"
    )
    assert (
        rewrite_order_by_all("SELECT * FROM t ORDER BY ALL DESC NULLS FIRST")
        == "SELECT * FROM t ORDER BY ALL DESC NULLS FIRST"
    )
    # ordinary column list untouched; identifiers starting with all too
    assert (
        rewrite_order_by_all("SELECT * FROM t ORDER BY allocation")
        == "SELECT * FROM t ORDER BY allocation"
    )


def test_from_first_through_transpile(spark, sf_dir):
    from vscode_parquet_visualizer_spark.plans.sql_gateway import run_sql
    from vscode_parquet_visualizer_spark.workload import load_tables

    load_tables(spark, sf_dir)
    rows = run_sql(
        spark,
        "FROM region WHERE r_regionkey < 3 ORDER BY ALL DESC",
        view="region",
    ).collect()
    assert [r.r_regionkey for r in rows] == [2, 1, 0]


def test_function_rename_arg_max_list_unnest(spark):
    from vscode_parquet_visualizer_spark.plans.sql_gateway import run_sql

    spark.sql(
        "CREATE OR REPLACE TEMP VIEW fr_t AS "
        "SELECT * FROM VALUES (1,'a'),(2,'b'),(3,'a') v(x,y)"
    )
    r = run_sql(
        spark,
        "SELECT arg_max(y, x) AS am, arg_min(y, x) AS an, list(x) AS xs "
        "FROM fr_t",
    ).collect()[0]
    assert (r["am"], r["an"], sorted(r["xs"])) == ("a", "a", [1, 2, 3])
    u = run_sql(spark, "SELECT unnest([10, 20]) AS u FROM fr_t WHERE x = 1")
    assert [row["u"] for row in u.collect()] == [10, 20]
    # FROM-position unnest: DuckDB column name `unnest`
    t = run_sql(spark, "SELECT * FROM unnest([7, 8]) ORDER BY unnest")
    assert [row["unnest"] for row in t.collect()] == [7, 8]


def test_ignore_nulls_placement(spark):
    from vscode_parquet_visualizer_spark.plans.dialect import (
        rewrite_ignore_nulls,
    )
    from vscode_parquet_visualizer_spark.plans.sql_gateway import run_sql

    assert (
        rewrite_ignore_nulls("SELECT last_value(y IGNORE NULLS) OVER (ORDER BY x) FROM t")
        == "SELECT last_value(y) IGNORE NULLS OVER (ORDER BY x) FROM t"
    )
    # aggregate-level modifier at the end of a subquery stays put
    kept = "SELECT (SELECT first(x) IGNORE NULLS) AS v"
    assert rewrite_ignore_nulls(kept) == kept
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW in_t AS "
        "SELECT * FROM VALUES (1,'a'),(2,NULL),(3,'c') v(x,y)"
    )
    rows = run_sql(
        spark,
        "SELECT x, last_value(y IGNORE NULLS) "
        "OVER (ORDER BY x) AS lv FROM in_t ORDER BY x",
    ).collect()
    assert [r["lv"] for r in rows] == ["a", "a", "c"]


def test_list_comprehension(spark):
    import duckdb

    from vscode_parquet_visualizer_spark.plans.dialect import (
        rewrite_list_comprehension,
    )
    from vscode_parquet_visualizer_spark.plans.sql_gateway import run_sql

    assert (
        rewrite_list_comprehension("SELECT [v * 2 FOR v IN xs] FROM t")
        == "SELECT transform(xs, v -> v * 2) FROM t"
    )
    assert (
        rewrite_list_comprehension("SELECT [v FOR v IN xs IF v > 1] FROM t")
        == "SELECT transform(filter(xs, v -> v > 1), v -> v) FROM t"
    )
    # plain array literals untouched
    assert rewrite_list_comprehension("SELECT [1, 2, 3]") == "SELECT [1, 2, 3]"
    for text in [
        "SELECT [v * 2 FOR v IN [1,2,3]] AS doubled",
        "SELECT [v FOR v IN [1,2,3,4] IF v % 2 = 0] AS evens",
    ]:
        got = run_sql(spark, text).collect()[0][0]
        want = duckdb.connect().execute(text).fetchone()[0]
        assert got == want, text


def test_cast_type_name_mapping(spark):
    from vscode_parquet_visualizer_spark.plans.dialect import (
        rewrite_cast_type_names,
        transpile,
    )
    from vscode_parquet_visualizer_spark.plans.sql_gateway import run_sql

    assert (
        rewrite_cast_type_names("SELECT CAST(1 AS TEXT)")
        == "SELECT CAST(1 AS STRING)"
    )
    # alias that happens to be a type name is NOT a cast — untouched
    assert (
        rewrite_cast_type_names("SELECT (SELECT 1 AS text) AS v")
        == "SELECT (SELECT 1 AS text) AS v"
    )
    # nested casts both mapped
    assert (
        rewrite_cast_type_names("SELECT CAST(CAST(1 AS INT4) AS VARCHAR)")
        == "SELECT CAST(CAST(1 AS INTEGER) AS STRING)"
    )
    assert transpile("SELECT 1::UBIGINT") == "SELECT CAST(1 AS DECIMAL(20,0))"
    # parameterized types keep their parameters
    assert (
        rewrite_cast_type_names("SELECT CAST('ab' AS VARCHAR(1))")
        == "SELECT CAST('ab' AS VARCHAR(1))"
    )
    rows = run_sql(
        spark,
        "SELECT 1::TEXT AS a, 200::UTINYINT AS b, 'ab'::BLOB AS c, "
        "TRY_CAST('9' AS INT8) AS d, 5::HUGEINT AS e",
    ).collect()
    r = rows[0]
    assert r["a"] == "1" and r["b"] == 200 and bytes(r["c"]) == b"ab"
    assert r["d"] == 9 and int(r["e"]) == 5


def test_struct_map_shapes(spark):
    from vscode_parquet_visualizer_spark.plans.sql_gateway import run_sql

    def one(text):
        return run_sql(spark, text).collect()[0][0]

    s = one("SELECT struct_pack(a := 1, b := 'x') AS s")
    assert s.asDict() == {"a": 1, "b": "x"}
    assert one("SELECT MAP {'k': 1, 'j': 2} AS m") == {"k": 1, "j": 2}
    assert one("SELECT map(['k','j'], [1,2]) AS m") == {"k": 1, "j": 2}
    assert one("SELECT struct_extract(struct_pack(a := 7), 'a') AS v") == 7
    # DuckDB map_extract returns a LIST — [] when the key is absent
    assert one("SELECT map_extract(map(['k'],[7]), 'k') AS v") == [7]
    assert one("SELECT map_extract(map(['k'],[7]), 'nope') AS v") == []
    assert tuple(one("SELECT row(1, 'x') AS r")) == (1, "x")


def test_columns_applied_and_lambda_forms():
    cols = ["n_nationkey", "n_name", "n_regionkey"]
    out = transpile("SELECT min(COLUMNS(*)) FROM nation", columns=cols)
    assert out.count("min(") == 3 and "`n_name`" in out
    out = transpile("SELECT max(COLUMNS('n_.*key')) FROM nation", columns=cols)
    assert "max(`n_nationkey`)" in out and "n_name" not in out
    out = transpile(
        "SELECT COLUMNS(* EXCLUDE (n_name)) FROM nation", columns=cols
    )
    assert "`n_name`" not in out and "`n_regionkey`" in out
    out = transpile(
        "SELECT COLUMNS(c -> c LIKE 'n_n%') FROM nation", columns=cols
    )
    assert "`n_nationkey`" in out and "`n_regionkey`" not in out
    # no columns supplied: untouched (loud downstream)
    assert "COLUMNS" in transpile("SELECT min(COLUMNS(*)) FROM t")


def test_window_exclude_loud_transpile_error():
    # Frame EXCLUDE that no rewrite pass can handle must raise at
    # TRANSPILE time, not leak Spark's PARSE_SYNTAX_ERROR (round-6 q74)
    import pytest as _pytest

    with _pytest.raises(NotImplementedError, match="EXCLUDE"):
        transpile(
            "SELECT min(e) OVER (ORDER BY k GROUPS BETWEEN 1 PRECEDING "
            "AND 1 FOLLOWING EXCLUDE CURRENT ROW) AS m FROM t"
        )
    # star PROJECTION item: restructure correctly bails -> loud error
    with _pytest.raises(NotImplementedError, match="EXCLUDE"):
        transpile(
            "SELECT *, min(e) OVER (ORDER BY k ROWS BETWEEN 2 PRECEDING "
            "AND 1 PRECEDING EXCLUDE CURRENT ROW) AS m FROM t"
        )
    # multiplication in the select list must NOT defeat the restructure
    out = transpile(
        "SELECT k, e * 3 AS t, min(e) OVER (ORDER BY k ROWS BETWEEN "
        "2 PRECEDING AND 2 FOLLOWING EXCLUDE CURRENT ROW) AS m FROM t"
    )
    assert "EXCLUDE" not in out.upper()


def test_window_distinct_sliding_integral_accumulator(spark):
    # sliding sum(DISTINCT bigint) folds in DECIMAL(38,0): exact past
    # 2^53 where the DOUBLE accumulator silently rounds (ADVICE r6)
    big = 9007199254740993  # 2^53 + 1: not representable in double
    out = transpile(
        "SELECT k, sum(DISTINCT v) OVER (ORDER BY k ROWS BETWEEN 1 "
        "PRECEDING AND CURRENT ROW) AS s FROM data",
        integral_columns={"v"},
    )
    assert "DECIMAL(38,0)" in out
    df = spark.createDataFrame(
        [(1, big), (2, 2), (3, 2)], "k int, v long"
    )
    df.createOrReplaceTempView("data")
    rows = spark.sql(out).orderBy("k").collect()
    assert int(rows[0]["s"]) == big          # exact, not 9007199254740992.0
    assert int(rows[1]["s"]) == big + 2
    assert int(rows[2]["s"]) == 2            # distinct collapses the tie
    # double columns keep the DOUBLE accumulator (decimal folding of a
    # double element is an analysis-time type error + wrong semantics)
    out2 = transpile(
        "SELECT k, sum(DISTINCT v) OVER (ORDER BY k ROWS BETWEEN 1 "
        "PRECEDING AND CURRENT ROW) AS s FROM data",
        integral_columns={"other"},
    )
    assert "DECIMAL" not in out2 and "DOUBLE" in out2


def test_groups_frames_hand_fixtures(spark):
    """GROUPS frames lower to RANGE over dense_rank (the oracle's DuckDB
    v1.0 predates GROUPS, so semantics are pinned by hand here)."""
    spark.createDataFrame(
        [(1,), (1,), (2,), (3,), (3,), (3,), (5,)], "x int"
    ).createOrReplaceTempView("gdata")
    rows = spark.sql(
        transpile(
            "SELECT x, sum(x) OVER (ORDER BY x GROUPS BETWEEN 1 "
            "PRECEDING AND CURRENT ROW) AS s, "
            "count(*) OVER (ORDER BY x GROUPS BETWEEN CURRENT ROW "
            "AND 1 FOLLOWING) AS c, "
            "sum(x) OVER (ORDER BY x GROUPS BETWEEN UNBOUNDED "
            "PRECEDING AND CURRENT ROW) AS run "
            "FROM gdata"
        )
    ).orderBy("x").collect()
    by_x = {}
    for r in rows:
        by_x.setdefault(r["x"], r)
    # peer-group sums: {1,1}=2 {2}=2 {3,3,3}=9 {5}=5
    assert (by_x[1]["s"], by_x[1]["c"], by_x[1]["run"]) == (2, 3, 2)
    assert (by_x[2]["s"], by_x[2]["c"], by_x[2]["run"]) == (4, 4, 4)
    assert (by_x[3]["s"], by_x[3]["c"], by_x[3]["run"]) == (11, 4, 13)
    assert (by_x[5]["s"], by_x[5]["c"], by_x[5]["run"]) == (14, 1, 18)


def test_groups_frames_partitioned_and_short_form(spark):
    spark.createDataFrame(
        [("a", 1), ("a", 1), ("a", 4), ("b", 2), ("b", 7)],
        "p string, x int",
    ).createOrReplaceTempView("gdata2")
    rows = spark.sql(
        transpile(
            "SELECT p, x, max(x) OVER (PARTITION BY p ORDER BY x "
            "GROUPS 1 PRECEDING) AS m FROM gdata2"
        )
    ).collect()
    got = sorted((r["p"], r["x"], r["m"]) for r in rows)
    assert got == [
        ("a", 1, 1), ("a", 1, 1), ("a", 4, 4), ("b", 2, 2), ("b", 7, 7),
    ]


def test_groups_frames_out_of_scope_stay_loud():
    import pytest as _pytest
    from pyspark.errors import ParseException

    # EXCLUDE tail on a GROUPS frame: unsupported, must not silently drop
    out = transpile(
        "SELECT sum(x) OVER (ORDER BY x GROUPS BETWEEN 1 PRECEDING AND "
        "CURRENT ROW EXCLUDE CURRENT ROW) AS s FROM gdata"
    )
    assert "GROUPS" in out  # untouched -> Spark parse error downstream


def test_arg_max_top_n_list(spark):
    spark.createDataFrame(
        [("a", 1), ("b", 3), ("c", 2), ("d", None), (None, 9)],
        "name string, score int",
    ).createOrReplaceTempView("adata")
    row = spark.sql(
        transpile(
            "SELECT arg_max(name, score, 2) AS top2, "
            "arg_min(name, score, 2) AS bot2, "
            "max_by(name, score, 1) AS top1 FROM adata"
        )
    ).collect()[0]
    # NULL-arg row (score 9) and NULL-val row are skipped, like 2-arg
    assert row["top2"] == ["b", "c"]
    assert row["bot2"] == ["a", "c"]
    assert row["top1"] == ["b"]


def test_arg_max_top_n_grouped(spark):
    spark.createDataFrame(
        [("x", "a", 1), ("x", "b", 3), ("y", "c", 2), ("y", "d", 5)],
        "g string, name string, score int",
    ).createOrReplaceTempView("adata2")
    rows = spark.sql(
        transpile(
            "SELECT g, arg_max(name, score, 2) AS t FROM adata2 "
            "GROUP BY g ORDER BY g"
        )
    ).collect()
    assert [r["t"] for r in rows] == [["b", "a"], ["d", "c"]]


def test_columns_list_of_names_form():
    out = transpile("SELECT columns(['p','x']) FROM t", columns=["x", "p", "s"])
    assert out == "SELECT `p`, `x` FROM t"  # given order, not schema order
    out2 = transpile(
        "SELECT min(COLUMNS(['x','p'])) FROM t", columns=["x", "p", "s"]
    )
    assert out2 == "SELECT min(`x`), min(`p`) FROM t"
    # unknown name: call left intact so the error stays loud downstream
    assert "columns" in transpile(
        "SELECT columns(['nope']) FROM t", columns=["x"]
    ).lower()


# --- one lowering per DuckDB name -------------------------------------

# xform factories whose loop applies ONE rule across a family of regexp
# names; each name's own lowering lives at its single site elsewhere
_FAMILY_PASSES = {
    "posix_fn": "POSIX character classes translated in literal patterns",
    "regexp_flags_x": "literal regex flags folded into the pattern",
}
# name -> why it needs a second site (none today)
_SECOND_SITE_OK: dict[str, str] = {}


def _rewrite_sites() -> dict[str, list[int]]:
    """{lower-cased name: [line, …]} for every ``_rewrite_calls`` site in
    ``rewrite_function_shapes``. A name bound by a ``for`` loop over a
    literal tuple counts once per element; family passes are skipped."""
    import ast
    import inspect

    from vscode_parquet_visualizer_spark.plans import dialect

    lines, start = inspect.getsourcelines(dialect.rewrite_function_shapes)
    tree = ast.parse("".join(lines))
    ast.increment_lineno(tree, start - 1)
    sites: dict[str, list[int]] = {}

    def names(node, env):
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            return [node.value]
        if isinstance(node, ast.Name):
            return env.get(node.id)
        if isinstance(node, ast.JoinedStr):
            out = [""]
            for v in node.values:
                part = (
                    [v.value] if isinstance(v, ast.Constant)
                    else names(v.value, env)
                )
                if part is None:
                    return None
                out = [o + str(p) for o in out for p in part]
            return out
        return None

    def visit(node, env):
        if isinstance(node, ast.For) and isinstance(
            node.iter, (ast.Tuple, ast.List)
        ):
            env = dict(env)
            values = [ast.literal_eval(e) for e in node.iter.elts]
            if isinstance(node.target, ast.Name):
                env[node.target.id] = values
            else:
                for i, t in enumerate(node.target.elts):
                    env[t.id] = [v[i] for v in values]
        if isinstance(node, ast.Call) and getattr(
            node.func, "id", None
        ) == "_rewrite_calls":
            xf = node.args[2]
            if not (
                isinstance(xf, ast.Call)
                and getattr(xf.func, "id", None) in _FAMILY_PASSES
            ):
                found = names(node.args[1], env)
                assert found is not None, f"unresolved name, line {node.lineno}"
                for n in found:
                    sites.setdefault(n.lower(), []).append(node.lineno)
        for child in ast.iter_child_nodes(node):
            visit(child, env)

    visit(tree, {})
    return sites


def test_one_rewrite_site_per_name():
    # _rewrite_calls lowers nested same-name calls innermost-first, so a
    # second site for a name is only ever reached by accident (an inner
    # call the first site already lowered, or a shape split in two)
    sites = _rewrite_sites()
    assert len(sites) > 150  # the scan sees the whole function
    dup = {
        n: ls for n, ls in sites.items()
        if len(ls) > 1 and n not in _SECOND_SITE_OK
    }
    assert not dup, f"names lowered at more than one site: {dup}"
