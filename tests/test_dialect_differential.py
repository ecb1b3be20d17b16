"""Dialect fuzz corpus: DuckDB-documentation-style queries run through
``transpile`` on Spark AND natively on DuckDB over the same parquet
tables; results compared as value multisets (column order/name agnostic —
this is broader but looser than the driver's hash gate).

Covers the syntax the round-1 verdict called out: chained ``->``/``->>``,
len() on strings and lists, ``* REPLACE``, list literals — plus the
previously-supported forms as regression anchors."""

import datetime as dt
import decimal
import math
import uuid

import duckdb
import pytest

from vscode_parquet_visualizer_spark.plans.dialect import transpile

TABLES = ["region", "nation", "orders", "lineitem", "customer"]

# Each entry: DuckDB-dialect SQL, valid in BOTH engines after transpile.
CORPUS = [
    # chained JSON arrows with object keys and array index
    """SELECT '{"a":{"b":[10,20,30]}}' -> 'a' -> 'b' ->> 1 AS v""",
    # len() on string vs list literal vs split()
    """SELECT r_name, CAST(len(r_name) AS BIGINT) AS name_len,
              CAST(len(['a','b','c']) AS BIGINT) AS lit_len,
              CAST(len(split(r_name, 'A')) AS BIGINT) AS segs
       FROM region ORDER BY r_regionkey""",
    # * REPLACE with expression, inside a subquery
    """SELECT r_regionkey, r_name FROM
       (SELECT * REPLACE (upper(r_name) AS r_name) FROM region) t
       ORDER BY r_regionkey""",
    # * EXCLUDE
    """SELECT * EXCLUDE (r_name) FROM region ORDER BY r_regionkey""",
    # pg cast + arithmetic (floor: DuckDB double→int casts ROUND while
    # Spark truncates — an explicit floor is identical in both)
    """SELECT CAST(floor(o_totalprice / 100000) AS BIGINT) AS bucket,
              count(*) AS n
       FROM orders GROUP BY 1 ORDER BY 1 LIMIT 20""",
    # QUALIFY with inline window
    """SELECT o_orderkey, o_totalprice FROM orders
       QUALIFY row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) <= 5""",
    # DISTINCT ON
    """SELECT DISTINCT ON (o_orderpriority) o_orderpriority, o_totalprice
       FROM orders ORDER BY o_orderpriority, o_totalprice DESC""",
    # regex match operators — DuckDB ~ is a FULL match (regexp_full_match)
    """SELECT count(*) AS n FROM region WHERE r_name ~ 'A.*'""",
    """SELECT count(*) AS n FROM region WHERE r_name !~ 'A.*A'""",
    """SELECT count(*) AS n FROM nation WHERE n_name SIMILAR TO '.*IA'""",
    # ILIKE / BETWEEN / IN
    """SELECT count(*) AS n FROM nation
       WHERE n_name ILIKE '%an%' AND n_nationkey BETWEEN 3 AND 20
         AND n_regionkey IN (1, 2)""",
    # strftime with literal pattern
    """SELECT strftime(DATE '2024-03-05', '%Y/%m/%d') AS s""",
    # list literal + array function renames
    """SELECT list_contains(['x','y'], 'y') AS has_y,
              list_sort([3,1,2]) AS sorted_l""",
    # GROUP BY ALL
    """SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice)/1000, 2) AS s
       FROM orders GROUP BY ALL ORDER BY o_orderstatus""",
    # correlated scalar subquery
    """SELECT r_name,
              (SELECT count(*) FROM nation WHERE n_regionkey = r_regionkey) AS nn
       FROM region ORDER BY r_regionkey""",
    # string functions parity
    """SELECT upper(r_name) AS u, substr(r_name, 2, 3) AS mid,
              replace(r_name, 'A', '_') AS rep, trim('  x  ') AS t
       FROM region ORDER BY r_regionkey""",
    # CASE + coalesce + nullif
    """SELECT o_orderstatus,
              CASE WHEN o_totalprice > 200000 THEN 'big' ELSE 'small' END AS sz,
              coalesce(nullif(o_orderstatus, 'O'), 'open') AS st
       FROM orders ORDER BY o_orderkey LIMIT 50""",
    # round-3 additions ------------------------------------------------
    # arithmetic spellings: // integer division, ** and ^ power
    """SELECT CAST(o_orderkey // 100 AS BIGINT) AS grp, count(*) AS n
       FROM orders GROUP BY 1 ORDER BY 1 LIMIT 10""",
    """SELECT CAST(2 ** 10 AS BIGINT) AS p1, CAST(3 ^ 4 AS BIGINT) AS p2""",
    # struct literal + dotted field access
    """SELECT {'a': 1, 'b': 'x'}.a AS a_val""",
    # string slicing (1-based inclusive) and list slicing
    """SELECT r_name[1:3] AS head3 FROM region ORDER BY r_regionkey""",
    # list transform/filter higher-order functions
    """SELECT list_transform([1,2,3], x -> x * 10) AS t,
              list_filter([1,2,3,4], x -> x % 2 = 0) AS f""",
    # date_part / extract parity across fields
    """SELECT CAST(date_part('year', DATE '2023-11-07') AS BIGINT) AS y,
              CAST(extract(month FROM DATE '2023-11-07') AS BIGINT) AS m,
              CAST(date_part('day', DATE '2023-11-07') AS BIGINT) AS d""",
    # string_split + array_to_string round trip (literal-delimiter
    # semantics: '.' and '|' are regex metachars Spark's split would
    # otherwise misread)
    """SELECT array_to_string(string_split('a,b,c', ','), '|') AS s""",
    """SELECT string_split('a.b.c', '.') AS parts""",
    """SELECT string_split('a|b|c', '|') AS parts""",
    """SELECT string_split_regex('a1b22c', '[0-9]+') AS parts""",
    # list fn renames with matching shapes
    """SELECT list_max([3,1,2]) AS mx, list_min([3,1,2]) AS mn,
              list_reverse([1,2,3]) AS rev, list_concat([1], [2,3]) AS cc""",
    # position / instr
    """SELECT position('DON' IN 'LONDON') AS p,
              CAST(instr('LONDON', 'DON') AS BIGINT) AS i""",
    # greatest/least with mixed expressions
    """SELECT greatest(o_totalprice, 150000.0) AS g, least(o_orderkey, 10) AS l
       FROM orders ORDER BY o_orderkey LIMIT 20""",
    # EXISTS / NOT EXISTS correlated predicates
    """SELECT r_name FROM region r
       WHERE EXISTS (SELECT 1 FROM nation n WHERE n.n_regionkey = r.r_regionkey)
       ORDER BY r_name""",
    # FROM-first with no SELECT + ORDER BY ALL (round-3 additions)
    """FROM region WHERE r_regionkey < 3 ORDER BY ALL DESC""",
    # list comprehension with filter
    """SELECT [v * 10 FOR v IN [1,2,3,4] IF v % 2 = 0] AS c""",
    # arg_max / arg_min
    """SELECT arg_max(n_name, n_nationkey) AS last_n,
              arg_min(n_name, n_nationkey) AS first_n FROM nation""",
    # SELECT-position unnest
    """SELECT unnest([5, 6]) AS u""",
    # FROM-position series table functions
    """SELECT r.range AS n FROM range(0, 4) r ORDER BY n""",
    """SELECT g.generate_series AS s FROM generate_series(2, 6, 2) g
       ORDER BY s""",
    # in-call IGNORE NULLS window modifier
    """SELECT o_orderkey,
              last_value(nullif(o_orderpriority, '1-URGENT') IGNORE NULLS)
                OVER (ORDER BY o_orderkey) AS lv
       FROM orders ORDER BY o_orderkey LIMIT 10""",
    # scalar generate_series returns a list
    """SELECT generate_series(1, 4) AS gs""",
    # function-shape rewrites (round 3): slice semantics, group-0
    # regexp_extract_all, date_diff parts, brace-format, to_base
    """SELECT array_slice([10,20,30,40], 2, 3) AS sl,
              list_slice([10,20,30,40], 1, 2) AS sl2""",
    """SELECT regexp_extract_all('a1b22c3', '[0-9]+') AS ms""",
    """SELECT CAST(date_diff('day', DATE '2024-01-01', DATE '2024-02-01') AS BIGINT) AS dd,
              CAST(date_diff('hour', TIMESTAMP '2024-01-01 00:00:00',
                             TIMESTAMP '2024-01-01 06:30:00') AS BIGINT) AS dh""",
    """SELECT date_add(DATE '2024-01-29', INTERVAL 3 DAY) AS d""",
    """SELECT format('{}-{}', 'a', 7) AS f1, format('{1}/{0}', 'x', 'y') AS f2""",
    """SELECT to_base(255, 16) AS hx, to_base(7, 2) AS bi""",
    """SELECT strpos('LONDON', 'DON') AS p, starts_with('abc', 'ab') AS sw,
              suffix('abc', 'bc') AS su, prefix('abc', 'ab') AS pr""",
    """SELECT quantile_cont(o_totalprice, 0.5) AS med,
              quantile_disc(o_totalprice, 0.5) AS medd
       FROM orders""",
    """SELECT n_regionkey, string_agg(n_name, '|' ORDER BY n_name) AS names
       FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""",
    """SELECT time_bucket(INTERVAL 2 HOUR, TIMESTAMP '2024-01-01 05:30:00') AS b,
              time_bucket(INTERVAL '15 minutes', TIMESTAMP '2024-01-01 05:37:00') AS b2""",
    """SELECT age(TIMESTAMP '2024-02-01 06:00:00',
                  TIMESTAMP '2024-01-31 01:00:00') AS a""",
    # two-arg trim family (DuckDB arg order), day-of-week bases,
    # epoch fraction, scalar range/list functions
    """SELECT trim('xxaxx', 'x') AS t, ltrim('xxab', 'x') AS l,
              rtrim('abxx', 'x') AS r""",
    """SELECT dayofweek(DATE '2024-03-01') AS dow,
              isodow(DATE '2024-03-03') AS iso,
              CAST(week(DATE '2024-01-04') AS BIGINT) AS wk,
              datepart('dow', DATE '2024-03-01') AS dp,
              date_part('isodow', DATE '2024-03-03') AS dp2""",
    """SELECT epoch(TIMESTAMP '2024-01-01 00:00:30.5') AS e""",
    """SELECT range(1, 5) AS r2, range(3) AS r1,
              list_value(7, 8) AS lv,
              regexp_split_to_array('a1b22c', '[0-9]+') AS sp""",
    """SELECT CAST(list_unique([1,1,2,NULL]) AS BIGINT) AS u,
              CAST(list_position([4,5], 5) AS BIGINT) AS p,
              CAST(list_position([4,5], 9) AS BIGINT) AS p0""",
    # datetrunc over TIMESTAMP (over DATE the return types differ:
    # DuckDB gives DATE back, Spark's date_trunc always TIMESTAMP)
    """SELECT datetrunc('month', TIMESTAMP '2024-03-15 10:00:00') AS d""",
]


@pytest.fixture(scope="module")
def engines(spark, sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)
    yield spark, con
    con.close()


def _norm(v):
    if hasattr(v, "asDict"):  # Spark Row (struct cell)
        v = v.asDict()
    if isinstance(v, dict):
        return tuple((k, _norm(x)) for k, x in sorted(v.items()))
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    if isinstance(v, (dt.date, dt.datetime)):
        return str(v)
    if isinstance(v, uuid.UUID):
        # DuckDB returns a UUID object; the engine's UUID lowering is a
        # lower-cased hex string (Spark has no UUID type) — value-equal
        return str(v)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _rowset(rows):
    return sorted(
        (tuple(sorted((_norm(v) for v in r), key=repr)) for r in rows),
        key=repr,
    )


@pytest.mark.parametrize("sql", CORPUS, ids=range(len(CORPUS)))
def test_differential(engines, sql):
    spark, con = engines
    spark_rows = [tuple(r) for r in spark.sql(transpile(sql)).collect()]
    duck_rows = con.execute(sql).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


ARITH_CORPUS = [
    # // int division, ^ and ** power (Spark ^ would be XOR — must not leak)
    """SELECT n_nationkey // 3 AS b, CAST(2 ** 3 AS BIGINT) AS p8,
              CAST(n_regionkey ^ 2 AS DOUBLE) AS sq
       FROM nation ORDER BY n_nationkey""",
    # 1-based inclusive string slicing
    """SELECT r_name[2:4] AS mid FROM region ORDER BY r_regionkey""",
    # struct literals -> named_struct
    """SELECT {'key': r_regionkey, 'nm': upper(r_name)} AS s
       FROM region ORDER BY r_regionkey""",
]


@pytest.mark.parametrize("sql", ARITH_CORPUS, ids=range(len(ARITH_CORPUS)))
def test_differential_arithmetic(engines, sql):
    spark, con = engines
    spark_rows = [tuple(r) for r in spark.sql(transpile(sql)).collect()]
    duck_rows = con.execute(sql).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


CORPUS_SEMANTICS_BASICS = [
    # single-arg log is base-10 in DuckDB
    """SELECT round(log(100.0), 6) AS l10, round(log(2, 8.0), 6) AS l2""",
    # concat skips NULLs and stringifies
    """SELECT concat('a', NULL, 'b') AS c1, concat(1, '-', 2) AS c2""",
    # explicit-global regexp_replace; case-insensitive global
    """SELECT regexp_replace('aaa', 'a', 'b', 'g') AS r1,
              regexp_replace('aAa', 'A', 'b', 'gi') AS r2""",
    # numeric trunc
    """SELECT CAST(trunc(-1.7) AS BIGINT) AS t1,
              CAST(trunc(2.9) AS BIGINT) AS t2""",
]


@pytest.mark.parametrize(
    "sql", CORPUS_SEMANTICS_BASICS, ids=range(len(CORPUS_SEMANTICS_BASICS))
)
def test_differential_semantics_basics(engines, sql):
    spark, con = engines
    spark_rows = [tuple(r) for r in spark.sql(transpile(sql)).collect()]
    duck_rows = con.execute(sql).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


CORPUS_SEMANTICS2 = [
    """SELECT json_valid('{"a":1}') AS v1, json_valid('{bad') AS v2""",
    """SELECT json_keys('{"a":1,"b":2}') AS k""",
    """SELECT json_extract_string('{"a":"x"}', '$.a') AS s""",
    """SELECT 2 = ANY([1,2,3]) AS a, 9 = ANY([1,2]) AS b,
              5 > ALL([1,2,3]) AS c, 2 > ALL([1,2,3]) AS d,
              1 = SOME([1]) AS e""",
    """SELECT n_name FROM nation
       WHERE n_regionkey = ANY(SELECT r_regionkey FROM region WHERE r_regionkey < 2)
       ORDER BY n_name LIMIT 5""",
    """SELECT round(fsum(o_totalprice), 1) AS fs, round(favg(o_totalprice), 4) AS fa
       FROM orders""",
    # timestamp literal prefixes + extract parts Spark lacks
    """SELECT DATETIME '2024-01-01 05:00:00' AS t,
              '2024-03-02 01:02:03'::DATETIME AS t2""",
    """SELECT CAST(extract(epoch FROM TIMESTAMP '2024-01-01 00:00:30') AS BIGINT) AS e,
              extract(dow FROM DATE '2024-03-01') AS dw,
              extract(isodow FROM DATE '2024-03-03') AS iso""",
]


@pytest.mark.parametrize("sql", CORPUS_SEMANTICS2, ids=range(len(CORPUS_SEMANTICS2)))
def test_differential_semantics2(engines, sql):
    spark, con = engines
    spark_rows = [tuple(r) for r in spark.sql(transpile(sql)).collect()]
    duck_rows = con.execute(sql).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


CORPUS_LIST_MATH = [
    """SELECT round(list_cosine_similarity([1.0,2.0,3.0], [1.0,2.0,3.5]), 6) AS c""",
    """SELECT round(list_dot_product([1.0,2.0], [3.0,4.0]), 6) AS dp,
              round(list_inner_product([1.0,1.0], [2.0,5.0]), 6) AS ip""",
    """SELECT round(list_distance([0.0,0.0], [3.0,4.0]), 6) AS dist""",
    """SELECT round(CAST(list_sum([1.5,2.5]) AS DOUBLE), 6) AS s,
              round(CAST(list_avg([1.0,2.0]) AS DOUBLE), 6) AS a""",
    """SELECT list_has_any([1,2], [2,3]) AS ha,
              list_has_all([1,2,3], [2,3]) AS hl,
              list_has_all([1], [2]) AS hn""",
    """SELECT CAST(list_indexof([7,8,9], 9) AS BIGINT) AS i,
              CAST(list_indexof([7,8], 9) AS BIGINT) AS i0""",
    """SELECT list_select([10,20,30], [3,1]) AS sel""",
]


@pytest.mark.parametrize("sql", CORPUS_LIST_MATH, ids=range(len(CORPUS_LIST_MATH)))
def test_differential_list_math(engines, sql):
    spark, con = engines
    spark_rows = [tuple(r) for r in spark.sql(transpile(sql)).collect()]
    duck_rows = con.execute(sql).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


CORPUS_ENCODINGS = [
    """SELECT from_base64('YWJj') AS f, base64('abc'::BLOB) AS b""",
    """SELECT ord('A') AS o, chr(66) AS c""",
    """SELECT md5('x') AS m, sha256('x') AS s""",
    """SELECT isfinite(1.0) AS f1, isfinite('inf'::DOUBLE) AS f2,
              isinf('-inf'::DOUBLE) AS i1, isnan(1.0) AS n1""",
]


@pytest.mark.parametrize("sql", CORPUS_ENCODINGS, ids=range(len(CORPUS_ENCODINGS)))
def test_differential_encodings(engines, sql):
    spark, con = engines
    spark_rows = [tuple(r) for r in spark.sql(transpile(sql)).collect()]
    duck_rows = con.execute(sql).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


# round-3 late additions: 3-arg date_sub, epoch double typing, even /
# signbit lowerings, in-call ORDER BY aggregation, LIKE/ILIKE + ESCAPE
# (incl. the backslash escape char Spark's lexer rejects), list_intersect
CORPUS_R3_LATE = [
    """SELECT date_sub('day', DATE '2024-01-01', DATE '2024-03-01') AS d,
              date_sub('month', DATE '2024-01-31', DATE '2024-02-28') AS m""",
    """SELECT epoch(TIMESTAMP '2024-01-01 00:00:01') AS e""",
    """SELECT even(2.5) AS e1, even(-2.5) AS e2, even(3) AS e3,
              signbit(-1.0) AS s1, signbit(2.0) AS s2""",
    """SELECT array_agg(DISTINCT n_regionkey ORDER BY n_regionkey) AS a
       FROM nation""",
    """SELECT array_agg(n_name ORDER BY n_nationkey) AS a
       FROM nation WHERE n_nationkey < 5""",
    """SELECT list(n_name ORDER BY n_nationkey DESC) AS a
       FROM nation WHERE n_nationkey < 5""",
    """SELECT 'a_b' ILIKE 'a\\_b' ESCAPE '\\' AS m,
              'axb' NOT ILIKE 'a\\_b' ESCAPE '\\' AS n""",
    """SELECT 'A_B' ILIKE 'a!_b' ESCAPE '!' AS m,
              'a%b' LIKE 'a!%b' ESCAPE '!' AS n""",
    """SELECT list_sort(list_intersect([1,2,3],[2,3,4])) AS i""",
]


@pytest.mark.parametrize("sql", CORPUS_R3_LATE, ids=range(len(CORPUS_R3_LATE)))
def test_differential_r3_late(engines, sql):
    spark, con = engines
    spark_rows = [tuple(r) for r in spark.sql(transpile(sql)).collect()]
    duck_rows = con.execute(sql).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


# array-typed bracket subscripts need schema knowledge (array_columns):
# 1-based indexing, NULL at 0 / out-of-range, negative-from-end, and
# stepped slices — DuckDB semantics over Spark's 0-based default
ARRAY_SUBSCRIPT_CORPUS = [
    """SELECT l[1] AS f, l[0] AS z, l[-1] AS la, l[9] AS oob
       FROM (SELECT [7,8,9] AS l)""",
    """SELECT l[2:6:2] AS s FROM (SELECT [10,20,30,40,50,60] AS l)""",
    """SELECT l[1:99:3] AS c, l[5:2:1] AS e FROM (SELECT [1,2,3,4,5] AS l)""",
    # chained subscripts: the whole chain nests (1-based at every level)
    """SELECT l[1][2] AS a, l[2][1] AS b, l[1][0] AS z, l[3][1] AS oob
       FROM (SELECT [[1,2],[3,4]] AS l)""",
    # a top-level || inside the subscripted parens: string and list
    # concatenation both slice 1-based
    """SELECT ('ab' || 'cd')[2:3] AS s""",
    """SELECT ([1, 2] || [3])[2:3] AS l""",
]


@pytest.mark.parametrize(
    "sql", ARRAY_SUBSCRIPT_CORPUS, ids=range(len(ARRAY_SUBSCRIPT_CORPUS))
)
def test_differential_array_subscripts(engines, sql):
    spark, con = engines
    spark_rows = [
        tuple(r)
        for r in spark.sql(transpile(sql, array_columns={"l"})).collect()
    ]
    duck_rows = con.execute(sql).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


# silent-divergence hunt fixes: substr(…, 0), full month/day names,
# sample-corrected skewness/kurtosis, product, RE2 replacement
# backreferences, strptime, hamming/jaccard string similarity
CORPUS_SEMANTICS = [
    """SELECT substr('hello', 0, 3) AS a, substr('hello', 0) AS b,
              substr('hello', 2, 2) AS c, substr('hello', -2) AS d""",
    """SELECT monthname(DATE '2024-03-05') AS m,
              dayname(DATE '2024-03-05') AS d""",
    """SELECT round(skewness(x), 4) AS s, round(kurtosis(x), 4) AS k
       FROM (VALUES (1.0),(2.0),(3.0),(10.0)) t(x)""",
    """SELECT skewness(x) AS s, kurtosis(x) AS k
       FROM (VALUES (1.0),(2.0)) t(x)""",
    """SELECT product(x) AS p FROM (VALUES (2.0),(3.0),(4.0)) t(x)""",
    """SELECT product(x) AS p, product(y) AS z
       FROM (VALUES (2.0, 0.0),(-3.0, 5.0)) t(x, y)""",
    """SELECT regexp_replace('a1b2', '([a-z])', '<\\1>', 'g') AS r,
              regexp_replace('a1', '(a)', '[\\1]$') AS s""",
    """SELECT strptime('05/03/2024', '%d/%m/%Y') AS t,
              strptime('2024-03-05 14:30:00', '%Y-%m-%d %H:%M:%S') AS t2""",
    """SELECT hamming('abc','abd') AS h,
              mismatches('karolin','kathrin') AS m""",
    """SELECT jaccard('abc','abd') AS j,
              round(jaccard('night','nacht'), 4) AS j2""",
    """SELECT o_orderstatus, round(skewness(o_totalprice), 4) AS s,
              round(kurtosis(o_totalprice), 4) AS k
       FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
]


@pytest.mark.parametrize(
    "sql", CORPUS_SEMANTICS, ids=range(len(CORPUS_SEMANTICS))
)
def test_differential_semantics(engines, sql):
    spark, con = engines
    spark_rows = [tuple(r) for r in spark.sql(transpile(sql)).collect()]
    duck_rows = con.execute(sql).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


# null-order parity + extract parts + operator maps (hunt batch 3)
CORPUS_NULL_ORDER = [
    """SELECT x FROM (VALUES (1),(NULL),(2)) t(x) ORDER BY x LIMIT 2""",
    """SELECT x, rank() OVER (ORDER BY x) AS r
       FROM (VALUES (1),(NULL),(2)) t(x)""",
    """SELECT x, sum(x) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS s
       FROM (VALUES (1),(NULL),(2)) t(x)""",
    """SELECT x, row_number() OVER (ORDER BY x DESC) AS r
       FROM (VALUES (1),(NULL),(2)) t(x)""",
    """SELECT extract(millisecond FROM TIMESTAMP '2024-01-01 00:02:01.234') AS ms,
              extract(microsecond FROM TIMESTAMP '2024-01-01 00:00:01.000234') AS us,
              extract(century FROM DATE '2024-01-01') AS c,
              extract(century FROM DATE '2000-01-01') AS c2,
              extract(decade FROM DATE '2024-01-01') AS d""",
    """SELECT date_part('millisecond', TIMESTAMP '2024-01-01 00:02:01.234') AS ms,
              date_part('century', DATE '1999-12-31') AS c""",
    """SELECT fmod(7.5, 2) AS f1, fmod(-7.5, 2) AS f2,
              xor(5, 3) AS x, to_hex(255) AS h, bin(10) AS b""",
]


@pytest.mark.parametrize(
    "sql", CORPUS_NULL_ORDER, ids=range(len(CORPUS_NULL_ORDER))
)
def test_differential_null_order_and_parts(engines, sql):
    spark, con = engines
    spark_rows = [tuple(r) for r in spark.sql(transpile(sql)).collect()]
    duck_rows = con.execute(sql).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


def test_order_by_nulls_rowwise(engines):
    """LIMIT under a null-bearing ascending sort must return the same
    ROWS in the same ORDER (order-sensitive compare, unlike _rowset)."""
    spark, con = engines
    q = "SELECT x FROM (VALUES (3),(NULL),(1),(2)) t(x) ORDER BY x LIMIT 3"
    spark_rows = [r[0] for r in spark.sql(transpile(q)).collect()]
    duck_rows = [r[0] for r in con.execute(q).fetchall()]
    assert spark_rows == duck_rows == [1, 2, 3]


# hunt batch 4: JSON path forms, first/last ORDER BY, regexp defaults,
# POSIX classes, LIKE's no-default-escape semantics
CORPUS_R3_JSON_MISC = [
    """SELECT json_extract('{"a":[{"b":1},{"b":2}]}', '$.a[1].b') AS v,
              json_extract('{"a":{"b":7}}', '/a/b') AS p,
              json_extract('{"a":3}', 'a') AS k""",
    """SELECT '{"a":[{"b":1},{"b":2}]}' ->> '$.a[1].b' AS v""",
    """SELECT first(x ORDER BY k) AS f, last(x ORDER BY k) AS l,
              first(x ORDER BY k DESC) AS fd
       FROM (VALUES (1,'a'),(2,'b'),(3,'c')) t(k,x)""",
    """SELECT regexp_extract('a1b', '\\d') AS d,
              regexp_extract('a1b', '([a-z])(\\d)', 2) AS g""",
    """SELECT regexp_matches('abc123', '^[[:alpha:]]+[[:digit:]]+$') AS m,
              regexp_replace('a1b2', '[[:digit:]]', '#', 'g') AS r""",
    r"""SELECT 'a%b' LIKE 'a\%b' AS m1, 'a\xb' LIKE 'a\%b' AS m2""",
]


@pytest.mark.parametrize(
    "sql", CORPUS_R3_JSON_MISC, ids=range(len(CORPUS_R3_JSON_MISC))
)
def test_differential_json_misc(engines, sql):
    spark, con = engines
    spark_rows = [tuple(r) for r in spark.sql(transpile(sql)).collect()]
    duck_rows = con.execute(sql).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


# hunt batch 5: guarded range/series, composite cast types, list fns,
# interval casts, python-style format specs
CORPUS_R3_BATCH5 = [
    """SELECT range(1,1) AS a, range(0) AS b, generate_series(3,1) AS c""",
    """SELECT range(5) AS a, range(2,5) AS b, range(5,1,-2) AS c,
              generate_series(1,9,3) AS d, generate_series(5,1,-2) AS e""",
    """SELECT range(DATE '2024-01-01', DATE '2024-01-04', INTERVAL 1 DAY) AS r,
              generate_series(DATE '2024-01-01', DATE '2024-01-04',
                              INTERVAL 1 DAY) AS g""",
    """SELECT CAST([1,2] AS DOUBLE[]) AS l,
              CAST([[1]] AS BIGINT[][]) AS n,
              (CAST({'a': 1, 'b': 'x'} AS STRUCT(a BIGINT, b VARCHAR))).a AS f""",
    """SELECT list_reduce([1,2,3], (a, b) -> a + b) AS r,
              list_aggregate(['a','b'], 'string_agg', '-') AS j,
              list_any_value([NULL, 7, 8]) AS v,
              list_grade_up([30,10,20]) AS g""",
    """SELECT unicode('A') AS u,
              CAST('90 minutes' AS INTERVAL) AS i,
              CAST('1 day 2 hours' AS INTERVAL) AS j""",
    """SELECT format('{:.2f}', 3.14159) AS f,
              format('{0:d}-{1}', 7, 'x') AS g,
              format('{:5d}', 42) AS w""",
]


@pytest.mark.parametrize(
    "sql", CORPUS_R3_BATCH5, ids=range(len(CORPUS_R3_BATCH5))
)
def test_differential_batch5(engines, sql):
    spark, con = engines
    spark_rows = [tuple(r) for r in spark.sql(transpile(sql)).collect()]
    duck_rows = con.execute(sql).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


# window EXCLUDE CURRENT ROW (sum/count/avg are algebraically removable)
CORPUS_WINDOW_EXCLUDE = [
    """SELECT x, sum(x) OVER (ORDER BY x ROWS BETWEEN 1 PRECEDING AND
       1 FOLLOWING EXCLUDE CURRENT ROW) AS s
       FROM (VALUES (1),(2),(4)) t(x)""",
    """SELECT x, round(avg(x) OVER (ORDER BY x ROWS BETWEEN 1 PRECEDING
       AND 1 FOLLOWING EXCLUDE CURRENT ROW), 4) AS a,
              count(*) OVER (ROWS BETWEEN UNBOUNDED PRECEDING AND
       UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW) AS c
       FROM (VALUES (1),(2),(4)) t(x)""",
    """SELECT sum(x) OVER (ROWS BETWEEN CURRENT ROW AND CURRENT ROW
       EXCLUDE CURRENT ROW) AS s FROM (VALUES (1)) t(x)""",
    # EXCLUDE GROUP / TIES (round 4): peer-aligned RANGE/default frames,
    # duplicate order keys so group != current row, per-partition
    """SELECT k, x,
              sum(x) OVER (ORDER BY k RANGE BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW EXCLUDE GROUP) AS sg,
              sum(x) OVER (ORDER BY k RANGE BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW EXCLUDE TIES) AS st,
              count(*) OVER (ORDER BY k RANGE BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW EXCLUDE GROUP) AS cg,
              round(avg(x) OVER (ORDER BY k RANGE BETWEEN UNBOUNDED
                PRECEDING AND CURRENT ROW EXCLUDE TIES), 4) AS at
       FROM (VALUES (1, 10), (1, 20), (2, 30), (2, 40), (3, 50)) t(k, x)""",
    """SELECT p, k, x,
              sum(x) OVER (PARTITION BY p ORDER BY k
                RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                EXCLUDE GROUP) AS sg,
              count(x) OVER (PARTITION BY p ORDER BY k
                RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
                EXCLUDE TIES) AS ct
       FROM (VALUES ('a', 1, 10), ('a', 1, 20), ('a', 2, 30),
                    ('b', 1, 40), ('b', 1, NULL)) t(p, k, x)""",
    """SELECT k, x,
              sum(x) OVER (ORDER BY k RANGE BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW EXCLUDE NO OTHERS) AS s,
              sum(x) OVER (ORDER BY k DESC RANGE BETWEEN UNBOUNDED
                PRECEDING AND CURRENT ROW EXCLUDE GROUP) AS sg_desc
       FROM (VALUES (1, 10), (1, NULL), (2, 30)) t(k, x)""",
    # round 6: min/max EXCLUDE on arbitrary frames — the general
    # collect-filter path (two-sided sliding ROWS, bounded one-sided,
    # offset RANGE, frames not containing the current row)
    """SELECT k, min(e) OVER (ORDER BY k ROWS BETWEEN 2 PRECEDING AND
       2 FOLLOWING EXCLUDE CURRENT ROW) AS m
       FROM (VALUES (1,5),(2,3),(3,9),(4,1),(5,7),(6,2),(7,NULL),(8,4))
       t(k,e) ORDER BY k""",
    """SELECT k, max(e) OVER (ORDER BY k ROWS BETWEEN 1 PRECEDING AND
       3 FOLLOWING EXCLUDE CURRENT ROW) AS m
       FROM (VALUES (1,5),(2,3),(3,9),(4,1),(5,7),(6,2),(7,NULL),(8,4))
       t(k,e) ORDER BY k""",
    """SELECT k, min(e) OVER (ORDER BY k ROWS BETWEEN 3 PRECEDING AND
       1 PRECEDING EXCLUDE CURRENT ROW) AS m
       FROM (VALUES (1,5),(2,3),(3,9),(4,1),(5,7),(6,2)) t(k,e)
       ORDER BY k""",
    """SELECT k, g, min(e) OVER (ORDER BY g RANGE BETWEEN 1 PRECEDING
       AND 1 FOLLOWING EXCLUDE GROUP) AS m
       FROM (VALUES (1,1,5),(2,1,3),(3,2,9),(4,2,1),(5,2,7),(6,3,2))
       t(k,g,e) ORDER BY k""",
    """SELECT k, g, max(e) OVER (ORDER BY g RANGE BETWEEN 0 PRECEDING
       AND 1 FOLLOWING EXCLUDE TIES) AS m
       FROM (VALUES (1,1,5),(2,1,3),(3,2,9),(4,2,1),(5,2,7),(6,3,2))
       t(k,g,e) ORDER BY k""",
    """SELECT k, min(e) OVER (PARTITION BY g ORDER BY k ROWS BETWEEN
       1 PRECEDING AND 1 FOLLOWING EXCLUDE CURRENT ROW) AS m
       FROM (VALUES (1,1,5),(2,1,3),(3,2,9),(4,2,1),(5,2,7),(6,3,2))
       t(k,g,e) ORDER BY k""",
    """SELECT k, g, min(e) OVER (ORDER BY g, k ROWS BETWEEN 4 PRECEDING
       AND 4 FOLLOWING EXCLUDE GROUP) AS m
       FROM (VALUES (1,1,5),(2,1,3),(3,2,9),(4,2,1),(5,2,7),(6,3,2))
       t(k,g,e) ORDER BY k""",
    # round 6: EXCLUDE CURRENT ROW on a frame that does NOT contain the
    # current row is a no-op — the algebraic path must not subtract
    # (count went negative before the fix). Only the PRECEDING side is
    # corpus-tested: DuckDB 1.0 has a quirk where EXCLUDE CURRENT ROW
    # clamps an n-FOLLOWING frame START to the current row (count WITH
    # exclude > count without — exclusion growing the frame), which the
    # SQL standard and this engine both reject; we keep standard
    # semantics there rather than mirroring the engine bug.
    """SELECT k, sum(e) OVER (ORDER BY k ROWS BETWEEN 3 PRECEDING AND
       1 PRECEDING EXCLUDE CURRENT ROW) AS s
       FROM (VALUES (1,5),(2,3),(3,9),(4,1)) t(k,e) ORDER BY k""",
    # round 7: a 0 offset IS the current row — the no-op guard above
    # must NOT fire on `… AND 0 PRECEDING` / `0 FOLLOWING AND …`
    # (exclusion was silently dropped before the fix)
    """SELECT k, count(e) OVER (ORDER BY k ROWS BETWEEN 2 PRECEDING AND
       0 PRECEDING EXCLUDE CURRENT ROW) AS c,
       sum(e) OVER (ORDER BY k ROWS BETWEEN 2 PRECEDING AND
       0 PRECEDING EXCLUDE CURRENT ROW) AS s
       FROM (VALUES (1,5),(2,3),(3,9),(4,1)) t(k,e) ORDER BY k""",
    """SELECT k, sum(e) OVER (ORDER BY k ROWS BETWEEN 0 FOLLOWING AND
       2 FOLLOWING EXCLUDE CURRENT ROW) AS s
       FROM (VALUES (1,5),(2,3),(3,9),(4,1)) t(k,e) ORDER BY k""",
    # round 7: q74 regression shape — a `*` used as MULTIPLICATION in
    # the select list must not defeat the min/max-EXCLUDE restructure
    """SELECT k, e * 3 AS t, min(e * 2) OVER (ORDER BY k ROWS BETWEEN
       2 PRECEDING AND 2 FOLLOWING EXCLUDE CURRENT ROW) AS m
       FROM (VALUES (1,5),(2,3),(3,9),(4,1),(5,7)) t(k,e) ORDER BY k""",
]


@pytest.mark.parametrize(
    "sql", CORPUS_WINDOW_EXCLUDE, ids=range(len(CORPUS_WINDOW_EXCLUDE))
)
def test_differential_window_exclude(engines, sql):
    spark, con = engines
    spark_rows = [tuple(r) for r in spark.sql(transpile(sql)).collect()]
    duck_rows = con.execute(sql).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


def test_differential_distinct_on_expression_keys(engines):
    """DISTINCT ON / ORDER BY over expression keys the projection drops:
    the rewrite projects them as hidden columns."""
    spark, con = engines
    q = (
        "SELECT DISTINCT ON (n_regionkey, n_nationkey % 2) "
        "n_regionkey, n_name FROM nation "
        "ORDER BY n_regionkey, n_nationkey % 2, n_name"
    )
    spark_rows = [tuple(r) for r in spark.sql(transpile(q)).collect()]
    duck_rows = con.execute(q).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


# hunt batch 6: list_sort null-order parity, 1-based index lambdas,
# printf casts, entropy, FILTER shorthand
CORPUS_R3_BATCH6 = [
    """SELECT list_sort([3,NULL,1]) AS a,
              list_sort([3,NULL,1], 'DESC') AS d,
              list_sort([3,NULL,1], 'ASC', 'NULLS FIRST') AS nf,
              list_reverse_sort([3,NULL,1]) AS r""",
    """SELECT list_transform([10,20], (x, i) -> x + i) AS r,
              list_filter([10,20,30], (x, i) -> i > 1) AS f,
              list_transform([1,2], x -> x * 2) AS plain""",
    """SELECT printf('%x', 255) AS h, printf('%08.3f', 3.14) AS f,
              printf('%5d', 42) AS d""",
    """SELECT round(entropy(x), 6) AS e
       FROM (VALUES (1),(1),(2),(3)) t(x)""",
    """SELECT count(*) FILTER (x > 1) AS c,
              sum(x) FILTER (WHERE x > 0) AS s,
              array_unique([1,1,2,NULL]) AS u
       FROM (VALUES (1),(2),(3)) t(x)""",
]


@pytest.mark.parametrize(
    "sql", CORPUS_R3_BATCH6, ids=range(len(CORPUS_R3_BATCH6))
)
def test_differential_batch6(engines, sql):
    spark, con = engines
    spark_rows = [tuple(r) for r in spark.sql(transpile(sql)).collect()]
    duck_rows = con.execute(sql).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


# hunt batch 7: collations, sampling methods, chained named windows
CORPUS_R3_BATCH7 = [
    """SELECT x FROM (VALUES ('b'),('A'),('c')) t(x)
       ORDER BY x COLLATE NOCASE""",
    """SELECT x, sum(x) OVER w2 AS s FROM (VALUES (1),(2),(3)) t(x)
       WINDOW w1 AS (ORDER BY x),
              w2 AS (w1 ROWS UNBOUNDED PRECEDING)""",
    """SELECT x, y, count(*) OVER w2 AS c
       FROM (VALUES (1,1),(1,2),(2,1)) t(x,y)
       WINDOW w1 AS (PARTITION BY x),
              w2 AS (w1 ORDER BY y ROWS UNBOUNDED PRECEDING)""",
]


@pytest.mark.parametrize(
    "sql", CORPUS_R3_BATCH7, ids=range(len(CORPUS_R3_BATCH7))
)
def test_differential_batch7(engines, sql):
    spark, con = engines
    spark_rows = [tuple(r) for r in spark.sql(transpile(sql)).collect()]
    duck_rows = con.execute(sql).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


def test_sample_method_parenthetical(engines):
    """USING SAMPLE n% (bernoulli) parses; values are nondeterministic
    by design so only row-count bounds are asserted."""
    spark, con = engines
    q = "SELECT count(*) AS n FROM nation USING SAMPLE 50% (bernoulli)"
    n = spark.sql(transpile(q)).first()["n"]
    assert 0 <= n <= 25


def test_differential_quantile_aliases(engines):
    spark, con = engines
    q = (
        "SELECT quantile(x, 0.5) AS q, quantile_cont(x, 0.5) AS qc "
        "FROM (VALUES (1),(2),(3),(4)) t(x)"
    )
    spark_rows = [tuple(r) for r in spark.sql(transpile(q)).collect()]
    duck_rows = con.execute(q).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


def test_differential_open_ended_slices(engines):
    spark, con = engines
    q = (
        "SELECT l[2:] AS a, l[:2] AS b, l[4:] AS c, s[2:] AS e, s[:3] AS f "
        "FROM (SELECT [1,2,3] AS l, 'abcdef' AS s)"
    )
    spark_rows = [
        tuple(r)
        for r in spark.sql(transpile(q, array_columns={"l"})).collect()
    ]
    duck_rows = con.execute(q).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


def test_differential_zero_arg_count(engines):
    spark, con = engines
    q = "SELECT count() AS c FROM (VALUES (1),(2)) t(x)"
    spark_rows = [tuple(r) for r in spark.sql(transpile(q)).collect()]
    assert _rowset(spark_rows) == _rowset(con.execute(q).fetchall())


# round-4 ADVICE fixes: non-divisible interval range spans (exclusive
# stop must keep the last element), nested ORDER BY null-order (inside
# OVER(...) within an outer ORDER BY item), header-independent of the
# fixes above
CORPUS_R4_BATCH1 = [
    """SELECT range(DATE '2024-01-01', DATE '2024-01-06',
                    INTERVAL 2 DAY) AS r,
              generate_series(DATE '2024-01-01', DATE '2024-01-06',
                              INTERVAL 2 DAY) AS g""",
    """SELECT range(TIMESTAMP '2024-01-01 00:00:00',
                    TIMESTAMP '2024-01-01 01:10:00',
                    INTERVAL 30 MINUTE) AS r""",
    """SELECT range(DATE '2024-01-01', DATE '2024-01-01',
                    INTERVAL 2 DAY) AS empty,
              range(DATE '2024-01-03', DATE '2024-01-01',
                    INTERVAL 1 DAY) AS inverted""",
]


@pytest.mark.parametrize(
    "sql", CORPUS_R4_BATCH1, ids=range(len(CORPUS_R4_BATCH1))
)
def test_differential_batch_r4_1(engines, sql):
    spark, con = engines
    spark_rows = [tuple(r) for r in spark.sql(transpile(sql)).collect()]
    duck_rows = con.execute(sql).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


def test_differential_nested_order_by_nulls(engines):
    """ORDER BY items containing their own ORDER BY (window OVER) must
    get NULLS LAST at BOTH levels — round-4 ADVICE (dialect.py:2755)."""
    spark, con = engines
    q = (
        "SELECT x FROM (VALUES (1),(2),(3)) t(x) "
        "ORDER BY x * coalesce((SELECT k FROM (VALUES (1),(NULL)) s(k) "
        "ORDER BY k LIMIT 1), -1)"
    )
    spark_rows = [tuple(r) for r in spark.sql(transpile(q)).collect()]
    duck_rows = con.execute(q).fetchall()
    assert spark_rows == duck_rows  # ordered compare: row ORDER matters


# round-4: multi-level chained named windows — DuckDB's measured
# (non-standard) resolution: one hop inherits the parent fully; the
# PARTITION BY does NOT survive a second hop (w3 gets a GLOBAL frame)
CORPUS_WINDOW_CHAINS = [
    # one hop inherits the parent fully; the grandparent's PARTITION BY
    # does NOT survive a second hop (w3 = global running frame by k)
    """SELECT p, k,
              CAST(count(*) OVER w1 AS BIGINT) AS c1,
              CAST(count(*) OVER w2 AS BIGINT) AS c2,
              CAST(count(*) OVER w3 AS BIGINT) AS c3
       FROM (VALUES ('a',1,10),('a',2,20),('b',3,30),('b',4,40)) t(p,k,x)
       WINDOW w1 AS (PARTITION BY p),
              w2 AS (w1 ORDER BY k),
              w3 AS (w2 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""",
    # a pure-alias hop erases the grandparent entirely: w3 is EMPTY
    # (count covers the whole input; a rank() over it would need an
    # ORDER BY — Spark refuses that loudly, DuckDB ranks everything 1 —
    # an engine gap left loud by design), and a clause added after the
    # erasing hop starts from a clean slate (no duplicate ORDER BY)
    """SELECT k, x,
              CAST(rank() OVER w2 AS BIGINT) AS r2,
              CAST(count(*) OVER w3 AS BIGINT) AS c3,
              CAST(rank() OVER w4 AS BIGINT) AS r4
       FROM (VALUES (1,10),(2,20),(3,30),(4,40)) t(k,x)
       WINDOW w1 AS (ORDER BY k),
              w2 AS (w1),
              w3 AS (w2),
              w4 AS (w3 ORDER BY k DESC)""",
    # three levels with clauses added at each hop
    """SELECT p, k,
              CAST(rank() OVER w3 AS BIGINT) AS r3,
              CAST(count(*) OVER w4 AS BIGINT) AS c4
       FROM (VALUES ('a',1,10),('a',2,20),('b',3,30),('b',4,40)) t(p,k,x)
       WINDOW w1 AS (PARTITION BY p),
              w2 AS (w1 ORDER BY k),
              w3 AS (w2),
              w4 AS (w3 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""",
]


@pytest.mark.parametrize(
    "sql", CORPUS_WINDOW_CHAINS, ids=range(len(CORPUS_WINDOW_CHAINS))
)
def test_differential_window_chains(engines, sql):
    spark, con = engines
    spark_rows = [tuple(r) for r in spark.sql(transpile(sql)).collect()]
    duck_rows = con.execute(sql).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


# round-4: histogram() / format_bytes() lowerings — identical text on
# both engines (to_json flattens the MAP for the rowset compare)
CORPUS_HISTOGRAM_BYTES = [
    """SELECT to_json(histogram(x)) AS h
       FROM (VALUES (10),(10),(20),(NULL),(30),(30),(30)) t(x)""",
    """SELECT k, to_json(histogram(s)) AS h
       FROM (VALUES (1,'b'),(1,'a'),(1,'b'),(2,'z')) t(k,s)
       GROUP BY k ORDER BY k""",
    """SELECT format_bytes(0) AS a, format_bytes(999) AS b,
              format_bytes(1023) AS c, format_bytes(1024) AS d,
              format_bytes(1536) AS e, format_bytes(123456789) AS f,
              format_bytes(-2048) AS g, format_bytes(1048575) AS h,
              format_bytes(1073741823) AS i,
              format_bytes(1099511627776) AS j,
              format_bytes(9223372036854775807) AS k""",
]


@pytest.mark.parametrize(
    "sql", CORPUS_HISTOGRAM_BYTES, ids=range(len(CORPUS_HISTOGRAM_BYTES))
)
def test_differential_histogram_format_bytes(engines, sql):
    spark, con = engines
    spark_rows = [tuple(r) for r in spark.sql(transpile(sql)).collect()]
    duck_rows = con.execute(sql).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


# round-4: agg(DISTINCT) OVER — first-occurrence marking lowering
CORPUS_WINDOW_DISTINCT = [
    """SELECT p, k, x,
              sum(DISTINCT x) OVER (PARTITION BY p) AS sd_part,
              sum(DISTINCT x) OVER (PARTITION BY p ORDER BY k) AS sd_run,
              CAST(count(DISTINCT x) OVER (PARTITION BY p ORDER BY k
                RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cd_run,
              round(avg(DISTINCT x) OVER (PARTITION BY p ORDER BY k), 4) AS ad,
              min(DISTINCT x) OVER (PARTITION BY p) AS mn
       FROM (VALUES ('a',1,5),('a',2,5),('a',3,7),
                    ('b',1,9),('b',1,9),('b',2,NULL)) t(p,k,x)""",
    """SELECT k, sum(DISTINCT x) OVER (ORDER BY k DESC) AS sd_desc,
              sum(DISTINCT x) OVER (ORDER BY k
                RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                AS sd_whole
       FROM (VALUES (1,5),(2,5),(3,7)) t(k,x)""",
    # round-6: SLIDING frames — collect/array_distinct/fold path (the
    # first-occurrence mark is unsound when a value's first occurrence
    # falls off the frame edge). Shared CASTs align the DOUBLE
    # accumulator with DuckDB's integer-typed distinct sums.
    """SELECT k, CAST(sum(DISTINCT e) OVER (ORDER BY k ROWS BETWEEN
         2 PRECEDING AND 1 FOLLOWING) AS DOUBLE) AS s,
       CAST(count(DISTINCT e) OVER (ORDER BY k ROWS BETWEEN 2 PRECEDING
         AND CURRENT ROW) AS BIGINT) AS c,
       round(avg(DISTINCT e) OVER (ORDER BY k ROWS BETWEEN 1 PRECEDING
         AND 1 FOLLOWING), 4) AS a,
       CAST(count(DISTINCT e) OVER (ORDER BY k ROWS BETWEEN 3 FOLLOWING
         AND 4 FOLLOWING) AS BIGINT) AS c_empty
       FROM (VALUES (1,5),(2,3),(3,5),(4,5),(5,3),(6,NULL),(7,2))
       t(k,e) ORDER BY k""",
    """SELECT k, CAST(sum(DISTINCT e) OVER (PARTITION BY k % 2
         ORDER BY k ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)
         AS DOUBLE) AS s
       FROM (VALUES (1,5),(2,3),(3,5),(4,5),(5,3),(6,NULL),(7,2))
       t(k,e) ORDER BY k""",
    """SELECT k, CAST(sum(DISTINCT e) OVER (ORDER BY g RANGE BETWEEN
         1 PRECEDING AND 1 FOLLOWING) AS DOUBLE) AS s
       FROM (VALUES (1,1,5),(2,1,5),(3,2,3),(4,2,7),(5,3,3))
       t(k,g,e) ORDER BY k""",
]


@pytest.mark.parametrize(
    "sql", CORPUS_WINDOW_DISTINCT, ids=range(len(CORPUS_WINDOW_DISTINCT))
)
def test_differential_window_distinct(engines, sql):
    spark, con = engines
    spark_rows = [tuple(r) for r in spark.sql(transpile(sql)).collect()]
    duck_rows = con.execute(sql).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


# round-4 hunt batch 8: map element_at list semantics, date-part
# derivations, interval makers, hex renames, epoch_ns/us
CORPUS_R4_BATCH8 = [
    """SELECT element_at(MAP {'a': 1}, 'a') AS hit,
              element_at(MAP {'a': 1}, 'z') AS miss,
              map_extract(MAP {'a': 1}, 'a') AS me""",
    """SELECT century(DATE '2000-01-01') AS c0,
              century(DATE '2001-01-01') AS c1,
              century(DATE '1999-12-31') AS c2,
              decade(DATE '2024-03-05') AS d0,
              quarter(DATE '2024-05-01') AS q""",
    """SELECT yearweek(DATE '2024-01-01') AS a,
              yearweek(DATE '2023-01-01') AS b,
              yearweek(DATE '2024-12-30') AS c,
              yearweek(DATE '2024-03-05') AS d""",
    """SELECT to_days(5) AS d, to_hours(3) AS h,
              to_minutes(2) AS m, to_seconds(90) AS s""",
    """SELECT to_hex(255) AS h, from_hex('4142') AS f,
              epoch_ns(TIMESTAMP '2024-01-01 00:00:00.123456') AS ns,
              epoch_us(TIMESTAMP '2024-01-01 00:00:00.123456') AS us""",
    """SELECT list_reduce([1,2,3], (a, b) -> a + b) AS r,
              bit_count(7) AS bc, factorial(5) AS f""",
]


@pytest.mark.parametrize(
    "sql", CORPUS_R4_BATCH8, ids=range(len(CORPUS_R4_BATCH8))
)
def test_differential_batch8(engines, sql):
    spark, con = engines
    spark_rows = [tuple(r) for r in spark.sql(transpile(sql)).collect()]
    duck_rows = con.execute(sql).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


# round-4 hunt batch 9: aggregate/string/list gaps found by probing
CORPUS_R4_BATCH9 = [
    """SELECT round(geomean(x), 6) AS g, mode(x) AS m,
              round(median(x), 4) AS md
       FROM (VALUES (1.0),(4.0),(4.0)) t(x)""",
    """SELECT group_concat(x) AS g1, group_concat(x, '-') AS g2,
              string_agg(x) AS s1
       FROM (VALUES ('a'),('b'),('c')) t(x)""",
    """SELECT list_where([10,20,30], [true,false,true]) AS w,
              array_pop_back([1,2,3]) AS pb,
              array_pop_front([1,2,3]) AS pf,
              array_pop_back(CAST([] AS INT[])) AS pe,
              array_reverse_sort([3,NULL,1]) AS rs,
              str_split_regex('a1b22c', '[0-9]+') AS sr""",
    """SELECT format('{:,}', 1234567) AS f1, format('{:,d}', 9876) AS f2""",
    """SELECT CAST(datesub('day', DATE '2024-01-01', DATE '2024-02-01')
              AS BIGINT) AS ds""",
    """SELECT to_json(regexp_extract('abc123', '([a-z]+)([0-9]+)',
                                     ['letters', 'digits'])) AS m""",
]


@pytest.mark.parametrize(
    "sql", CORPUS_R4_BATCH9, ids=range(len(CORPUS_R4_BATCH9))
)
def test_differential_batch9(engines, sql):
    spark, con = engines
    spark_rows = [tuple(r) for r in spark.sql(transpile(sql)).collect()]
    duck_rows = con.execute(sql).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


# round-4 hunt batch 10: regexp_replace first-match default (the 'g'
# flag is what makes it global in DuckDB; Spark always replaces all),
# list reducers, small aliases
CORPUS_R4_BATCH10 = [
    """SELECT regexp_replace('aaa', 'a', 'b') AS first_only,
              regexp_replace('aaa', 'a', 'b', 'g') AS all_matches,
              regexp_replace('xAxa', 'a', '_', 'i') AS ci_first,
              regexp_replace('a1b2', '([0-9])', '<\\1>') AS backref_first,
              regexp_replace('a1b2', '([0-9])', '<\\1>', 'g') AS backref_all,
              regexp_replace('abc', 'z', 'y') AS no_match""",
    """SELECT CAST(list_sum([1,2,3]) AS DOUBLE) AS s,
              round(list_avg([1.0,2.0]) , 4) AS a,
              CAST(list_count([1,NULL,2]) AS BIGINT) AS c,
              list_first([7,8]) AS f, list_last([7,8]) AS l""",
    """SELECT round(CAST(list_median([1,2,3]) AS DOUBLE), 4) AS m_odd,
              round(CAST(list_median([1,2,3,4]) AS DOUBLE), 4) AS m_even""",
    # NULL elements are ignored; empty / all-NULL lists reduce to NULL
    """SELECT CAST(list_sum([1,NULL,2]) AS DOUBLE) AS s_null,
              CAST(list_sum(CAST([] AS INTEGER[])) AS DOUBLE) AS s_empty,
              CAST(list_sum([NULL, NULL]) AS DOUBLE) AS s_allnull,
              round(CAST(list_avg([1,NULL,3]) AS DOUBLE), 4) AS a_null,
              CAST(list_avg(CAST([] AS INTEGER[])) AS DOUBLE) AS a_empty,
              CAST(list_count(CAST([] AS INTEGER[])) AS BIGINT) AS c_empty,
              CAST(list_median([1,NULL,2,NULL,3]) AS DOUBLE) AS m_null""",
    """SELECT apply([1,2], x -> x * 2) AS a, list_pack(1, 2, 3) AS p,
              CAST(strlen('abc') AS BIGINT) AS sl""",
    # NOT IN (subquery) → double-NOT-EXISTS anti join: three-valued
    # semantics must survive — NULL key rows drop, any NULL in the
    # subquery empties the result, same-named columns resolve outer
    """SELECT count(*) AS n FROM (VALUES (1), (2), (NULL)) t(x)
       WHERE x NOT IN (SELECT y FROM (VALUES (2), (5)) s(y))""",
    """SELECT count(*) AS n FROM (VALUES (1), (2), (NULL)) t(x)
       WHERE x NOT IN (SELECT y FROM (VALUES (2), (NULL)) s(y))""",
    """SELECT count(*) AS n FROM (VALUES (1), (3)) t(x)
       WHERE x NOT IN (SELECT x FROM (VALUES (3), (4)) s(x))""",
    """SELECT count(*) AS n FROM (VALUES (1), (4), (NULL)) t(x)
       WHERE x + 1 NOT IN (SELECT y FROM (VALUES (2), (7)) s(y))""",
    # round 6: NOT IN context guards — the anti-join rewrite only fires
    # on top-level filter conjuncts; expression contexts (projection,
    # NOT (…), OR) get a null-faithful CASE-over-EXISTS, and empty
    # subqueries keep NULL-key rows (x NOT IN (empty) ≡ TRUE)
    """SELECT count(*) AS n FROM (VALUES (1), (2), (NULL)) t(x)
       WHERE x NOT IN (SELECT y FROM (VALUES (2)) s(y) WHERE y > 100)""",
    """SELECT x, x NOT IN (SELECT y FROM (VALUES (2), (5)) s(y)) AS f
       FROM (VALUES (1), (2), (NULL)) t(x) ORDER BY x NULLS LAST""",
    """SELECT x, x NOT IN (SELECT y FROM (VALUES (2), (NULL)) s(y)) AS f
       FROM (VALUES (1), (2), (NULL)) t(x) ORDER BY x NULLS LAST""",
    """SELECT x, x NOT IN (SELECT y FROM (VALUES (2)) s(y) WHERE FALSE)
         AS f FROM (VALUES (1), (NULL)) t(x) ORDER BY x NULLS LAST""",
    """SELECT count(*) AS n FROM (VALUES (1), (2), (NULL)) t(x)
       WHERE NOT (x NOT IN (SELECT y FROM (VALUES (2), (5)) s(y)))""",
    """SELECT count(*) AS n FROM (VALUES (1), (2), (NULL)) t(x)
       WHERE NOT (x NOT IN (SELECT y FROM (VALUES (2), (NULL)) s(y)))""",
    """SELECT count(*) AS n FROM (VALUES (1), (2), (3)) t(x)
       WHERE CASE WHEN x > 1 THEN x ELSE 0 END
             NOT IN (SELECT y FROM (VALUES (2)) s(y))""",
    """SELECT count(*) AS n FROM (VALUES (1), (2), (NULL)) t(x)
       WHERE x NOT IN (SELECT y FROM (VALUES (2), (NULL)) s(y))
          OR x = 1""",
    # min/max frame EXCLUDE (round 5): two-level restructure — the
    # one-sided ROWS helpers are only read at the first/last peer row
    """SELECT k, coalesce(e, -1) AS e,
      coalesce(min(e) OVER (ORDER BY k RANGE BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW EXCLUDE GROUP), -999) AS mg,
      coalesce(min(e) OVER (ORDER BY k RANGE BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW EXCLUDE TIES), -999) AS mt,
      coalesce(min(e) OVER (ORDER BY k RANGE BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW EXCLUDE CURRENT ROW), -999) AS mc,
      coalesce(max(e) OVER (ORDER BY k RANGE BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW EXCLUDE GROUP), -999) AS xg
    FROM (VALUES (1,5),(2,3),(2,9),(2,NULL),(3,1),(3,1)) t(k,e)
    ORDER BY k, e NULLS LAST""",
    """SELECT p, k, e,
      coalesce(min(e) OVER (PARTITION BY p ORDER BY k RANGE BETWEEN
                   UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
                   EXCLUDE GROUP), -999) AS mg,
      max(e) OVER (PARTITION BY p ORDER BY k RANGE BETWEEN UNBOUNDED
                   PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE TIES) AS xt,
      coalesce(min(e) OVER (PARTITION BY p ORDER BY k RANGE BETWEEN
                   UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
                   EXCLUDE CURRENT ROW), -999) AS mc
    FROM (VALUES (1,1,5),(1,2,3),(1,2,9),(1,3,1),(2,1,7),(2,1,8)) t(p,k,e)
    ORDER BY p, k, e""",
    """SELECT k, e,
      coalesce(min(e) OVER (ORDER BY k RANGE BETWEEN CURRENT ROW AND
                   UNBOUNDED FOLLOWING EXCLUDE GROUP), -999) AS mg,
      coalesce(max(e) OVER (ORDER BY k RANGE BETWEEN CURRENT ROW AND
                   UNBOUNDED FOLLOWING EXCLUDE CURRENT ROW), -999) AS xc,
      min(e) OVER (ORDER BY k RANGE BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW EXCLUDE NO OTHERS) AS mn
    FROM (VALUES (1,5),(2,3),(2,9),(3,1)) t(k,e) ORDER BY k, e""",
    # 's' = dotall (maps to (?s)); 'c' = case-sensitive default no-op
    """SELECT regexp_replace('a' || chr(10) || 'b', 'a.b', 'X', 's')
                  AS dotall_first,
              regexp_replace('a' || chr(10) || 'bza' || chr(10) || 'b',
                             'a.b', 'X', 'sg') AS dotall_all,
              regexp_replace('AbC', 'b', '_', 'c') AS cs_noop,
              regexp_replace('a' || chr(10) || 'b', 'a.b', 'X')
                  AS no_dotall""",
]


@pytest.mark.parametrize(
    "sql", CORPUS_R4_BATCH10, ids=range(len(CORPUS_R4_BATCH10))
)
def test_differential_batch10(engines, sql):
    spark, con = engines
    spark_rows = [tuple(r) for r in spark.sql(transpile(sql)).collect()]
    duck_rows = con.execute(sql).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


# round-7 hunt batch 11: breadth fixes probed against DuckDB — boundary
# date_diff, dow rebases, negative left/right, floored fdiv/fmod,
# julian, try_strptime, list_prepend arg order, list_product/bool/resize
CORPUS_R7_BATCH11 = [
    """SELECT date_diff('month', DATE '2024-01-31', DATE '2024-02-01') AS a,
              date_diff('day', DATE '2024-01-01', DATE '2024-03-01') AS b,
              date_diff('year', DATE '2023-12-31', DATE '2024-01-01') AS c,
              date_diff('quarter', DATE '2024-03-31', DATE '2024-04-01') AS d,
              date_diff('week', DATE '2024-01-07', DATE '2024-01-08') AS e,
              date_diff('decade', DATE '1999-12-31', DATE '2000-01-01') AS f""",
    """SELECT datediff('hour', TIMESTAMP '2024-01-01 00:59:59',
                       TIMESTAMP '2024-01-01 01:00:01') AS a,
              date_diff('second', TIMESTAMP '2024-01-01 00:00:00.9',
                        TIMESTAMP '2024-01-01 00:00:01.1') AS b,
              date_diff('minute', TIMESTAMP '2024-01-01 00:00:59',
                        TIMESTAMP '2024-01-01 00:01:01') AS c,
              date_diff('ms', TIMESTAMP '2024-01-01 00:00:00.0009',
                        TIMESTAMP '2024-01-01 00:00:00.0011') AS d""",
    """SELECT date_sub('month', DATE '2024-01-31', DATE '2024-02-28') AS a,
              date_sub('month', DATE '2024-01-31', DATE '2024-02-29') AS b""",
    """SELECT weekday(DATE '2024-02-04') AS sun, weekday(DATE '2024-02-05')
              AS mon, weekday(DATE '2024-02-10') AS sat,
              isodow(DATE '2024-02-05') AS iso_mon,
              dayofweek(DATE '2024-02-05') AS dow_mon,
              isoyear(DATE '2024-01-01') AS iy24,
              isoyear(DATE '2022-01-01') AS iy22""",
    """SELECT left('hello', -2) AS a, right('hello', -2) AS b,
              left('ab', -5) AS c, right('ab', -5) AS d,
              left('hello', 2) AS e, right('hello', 2) AS f,
              left('hello', 1+1) AS g""",
    """SELECT editdist3('kitten','sitting') AS a, mismatches('duck','luck') AS b""",
    """SELECT fdiv(7,2) AS a, fdiv(-7,2) AS b, fdiv(7.5,2.0) AS c,
              fmod(7,2) AS d, fmod(-7,2) AS e, fmod(7.5,2.0) AS f""",
    """SELECT julian(DATE '2024-01-01') AS a,
              julian(TIMESTAMP '2024-01-01 12:00:00') AS b""",
    """SELECT try_strptime('2024-02-05', '%Y-%m-%d') AS ok,
              try_strptime('garbage', '%Y-%m-%d') AS bad""",
    """SELECT list_prepend(0, [1,2]) AS a, array_prepend(0, [1,2]) AS b,
              list_append([1,2], 3) AS c""",
    """SELECT list_product([2,3,4]) AS a, list_product([2,NULL]) AS b,
              list_product([]) AS c""",
    """SELECT list_bool_and([true,true]) AS a, list_bool_and([true,NULL]) AS b,
              list_bool_and([]) AS c, list_bool_or([false,NULL]) AS d,
              list_bool_and([true,false]) AS e""",
    """SELECT list_resize([1,2,3,4], 2) AS a, list_resize([1,2], 4) AS b,
              list_resize([1,2], 4, 9) AS c, list_resize([], 2) AS d""",
    """SELECT datepart(['year','month'], DATE '2024-02-05') AS v""",
    """SELECT date_part(['hour','minute'], TIMESTAMP '2024-02-05 10:30:00') AS v""",
]


@pytest.mark.parametrize(
    "sql", CORPUS_R7_BATCH11, ids=range(len(CORPUS_R7_BATCH11))
)
def test_differential_batch11(engines, sql):
    spark, con = engines
    spark_rows = [tuple(r) for r in spark.sql(transpile(sql)).collect()]
    duck_rows = con.execute(sql).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


# round-7 hunt batch 12: string predicates, LIKE-escape functions,
# kahan aggs, RE2 QuoteMeta, full-unicode chr, path parsing
CORPUS_R7_BATCH12 = [
    """SELECT suffix('hello','lo') AS a, prefix('hello','he') AS b,
              ends_with('hello','lo') AS c, starts_with('hello','he') AS d,
              ends_with('hello','xx') AS e""",
    """SELECT like_escape('a_b', 'a$_b', '$') AS a,
              ilike_escape('A_B', 'a$_b', '$') AS b,
              not_like_escape('a_b','a$_b','$') AS c,
              not_ilike_escape('A_B','a$_b','$') AS d,
              like_escape('axb', 'a$_b', '$') AS e""",
    """SELECT sumkahan(x) AS a, fsum(x) AS b, favg(x) AS c
       FROM (VALUES (1.5),(2.5),(NULL)) t(x)""",
    """SELECT regexp_escape('a.b*c') AS a,
              regexp_escape('x[1]{2}(3)?+|^$') AS b,
              regexp_escape('plain') AS c""",
    """SELECT chr(10) AS a, chr(65) AS b, chr(127) AS c, chr(128) AS d,
              chr(255) AS e, chr(955) AS f, chr(65537) AS g,
              chr(20013) AS h""",
    """SELECT parse_path('/a/b/c.txt') AS a, parse_dirname('/a/b/c.txt') AS b,
              parse_filename('/a/b/c.txt') AS c, parse_path('rel/x.txt') AS d""",
    """SELECT parse_dirname('c.txt') AS a, parse_filename('/a/b/') AS b,
              parse_dirname('/a/b/') AS c, parse_dirname('a/b/c') AS d""",
    """SELECT parse_filename('/a/b/c.txt', true) AS a,
              parse_filename('/a/b/c.tar.gz', true) AS b,
              parse_filename('noext', true) AS c""",
]


@pytest.mark.parametrize(
    "sql", CORPUS_R7_BATCH12, ids=range(len(CORPUS_R7_BATCH12))
)
def test_differential_batch12(engines, sql):
    spark, con = engines
    spark_rows = [tuple(r) for r in spark.sql(transpile(sql)).collect()]
    duck_rows = con.execute(sql).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


# round-7 hunt batch 13: time_bucket full widths + offsets, age()
# component extraction, interval fields, make_timestamp(µs), timezone(),
# epoch_ns, nextafter, unicode(''), char-set jaccard, list null
# semantics (contains/has_any/has_all/distinct), list_reduce, ordered
# any_value/first/last, quantile_disc lists, struct_insert
CORPUS_R7_BATCH13 = [
    """SELECT time_bucket(INTERVAL '15 minutes', TIMESTAMP '2024-02-05 10:37:22') AS a,
              time_bucket(INTERVAL '7 minutes', TIMESTAMP '2024-02-05 10:37:22') AS b,
              time_bucket(INTERVAL '90 seconds', TIMESTAMP '2024-02-05 10:37:22') AS c,
              time_bucket(INTERVAL '15 minutes', TIMESTAMP '1969-12-31 23:50:00') AS d""",
    """SELECT time_bucket(INTERVAL '1 month', DATE '2024-02-15') AS a,
              time_bucket(INTERVAL '3 months', DATE '2024-02-15') AS b,
              time_bucket(INTERVAL '1 year', DATE '2023-07-01') AS c,
              time_bucket(INTERVAL '1 week', DATE '2024-02-15') AS d,
              time_bucket(INTERVAL '2 weeks', DATE '2024-02-15') AS e,
              time_bucket(INTERVAL '10 days', DATE '2000-01-01') AS f,
              time_bucket(INTERVAL '10 days', DATE '1999-12-31') AS g""",
    """SELECT time_bucket(INTERVAL '10 minutes',
                          TIMESTAMP '2024-02-05 10:37:22',
                          INTERVAL '2 minutes') AS a""",
    """SELECT time_bucket(INTERVAL '1 hour', o_orderdate) AS b, count(*) AS n
       FROM orders GROUP BY 1 ORDER BY 1 LIMIT 10""",
    """SELECT date_part('year', age(TIMESTAMP '2024-03-15 10:00:00',
                                    TIMESTAMP '2023-01-20 12:30:00')) AS y,
              date_part('month', age(TIMESTAMP '2024-03-15 10:00:00',
                                     TIMESTAMP '2023-01-20 12:30:00')) AS m,
              date_part('day', age(TIMESTAMP '2024-03-15 10:00:00',
                                   TIMESTAMP '2023-01-20 12:30:00')) AS d,
              date_part('hour', age(TIMESTAMP '2024-03-15 10:00:00',
                                    TIMESTAMP '2023-01-20 12:30:00')) AS h""",
    # negative direction + the DuckDB-specific borrow (earlier month's
    # length: '1 month 30 days', not PostgreSQL's 28)
    """SELECT date_part('day', age(TIMESTAMP '2023-01-20',
                                   TIMESTAMP '2024-03-15')) AS a,
              date_part('month', age(TIMESTAMP '2023-01-20',
                                     TIMESTAMP '2024-03-15')) AS b,
              date_part('day', age(TIMESTAMP '2024-03-30',
                                   TIMESTAMP '2024-01-31')) AS c,
              date_part('month', age(TIMESTAMP '2024-03-30',
                                     TIMESTAMP '2024-01-31')) AS d""",
    """SELECT date_part('second', age(TIMESTAMP '2024-03-15 10:00:02.25',
                                      TIMESTAMP '2023-01-20 12:30:01.5')) AS s,
              date_part('millisecond', age(TIMESTAMP '2024-03-15 10:00:02.25',
                                           TIMESTAMP '2023-01-20 12:30:01.5')) AS ms,
              date_part('microsecond', age(TIMESTAMP '2024-03-15 10:00:02.25',
                                           TIMESTAMP '2023-01-20 12:30:01.5')) AS us,
              date_part('epoch', age(TIMESTAMP '2024-03-15 10:00:02.25',
                                     TIMESTAMP '2023-01-20 12:30:01.5')) AS e""",
    """SELECT make_timestamp(1700000000000000) AS a,
              make_timestamp(2024, 2, 5, 10, 30, 21.5) AS b""",
    """SELECT CAST(timezone('Asia/Tokyo',
                            TIMESTAMP '2024-01-01 10:00:00') AS TIMESTAMP) AS a,
              CAST(timezone('America/New_York',
                            TIMESTAMP '2024-06-01 12:00:00') AS TIMESTAMP) AS b""",
    """SELECT epoch_ns(TIMESTAMP '2024-01-01 00:00:01.123456') AS a""",
    """SELECT nextafter(1.0, 2.0) AS a, nextafter(1.0, 0.0) AS b""",
    """SELECT unicode('héllo') AS a, unicode('é') AS b, unicode('') AS c,
              unicode(NULL) AS d""",
    """SELECT jaccard('duckdb', 'luckdb') AS a, jaccard('ab', 'ba') AS b,
              jaccard('abc', 'abd') AS c""",
    """SELECT list_contains([1, 2], NULL) AS a,
              list_contains([NULL, 3], 3) AS b,
              list_contains([NULL, 3], 7) AS c,
              list_contains(['x', 'y'], 'y') AS d,
              array_contains([1, 2], 2) AS e""",
    """SELECT list_has_all([1, 2, 3], [2, NULL]) AS a,
              list_has_all([1, NULL], [NULL]) AS b,
              list_has_any([1, NULL], [NULL]) AS c,
              list_has_any([1, 2], [2, 9]) AS d,
              list_has_all([1], NULL) AS e,
              list_has_any([1, 2], []) AS f""",
    """SELECT list_sort(list_distinct([1, 2, 2, NULL])) AS a,
              list_sort(list_distinct(['b', 'a', 'b'])) AS b""",
    """SELECT list_reduce([5], (x, y) -> x + y) AS a,
              list_reduce([1, 2, 3], (x, y) -> x * 10 + y) AS b,
              reduce([2, 3], (x, y) -> x * y) AS c""",
    """SELECT any_value(x ORDER BY y DESC) AS a, first(x ORDER BY y) AS b,
              last(x ORDER BY y) AS c
       FROM (VALUES (1, 9), (2, 5), (3, 7)) t(x, y)""",
    """SELECT quantile_disc(x, [0.25, 0.75]) AS q
       FROM (VALUES (1.0::DOUBLE), (2.0), (3.0), (4.0)) t(x)""",
    """SELECT struct_insert({'a': 1, 'c': 'q'}, b := 2) AS s""",
    """SELECT struct_insert(s, d := 9) AS s2 FROM (SELECT {'a': 1} AS s) t""",
]


@pytest.mark.parametrize(
    "sql", CORPUS_R7_BATCH13, ids=range(len(CORPUS_R7_BATCH13))
)
def test_differential_batch13(engines, sql):
    spark, con = engines
    spark_rows = [tuple(r) for r in spark.sql(transpile(sql)).collect()]
    duck_rows = con.execute(sql).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


# round-7 hunt batch 14: Python-UDF parity shims (functions/udf_compat.py)
# — string-distance metrics, Unicode normalization, gamma family —
# probed against DuckDB (empty-side jaro = 0, UNRESTRICTED
# damerau_levenshtein: 'ca'->'abc' is 2 not OSA's 3)
CORPUS_R7_BATCH14 = [
    """SELECT jaro_similarity('duck', 'luck') AS a,
              jaro_similarity('martha', 'marhta') AS b,
              jaro_similarity('abc', '') AS c,
              jaro_similarity('', '') AS d,
              jaro_similarity('abc', 'abc') AS e""",
    """SELECT jaro_winkler_similarity('martha', 'marhta') AS a,
              jaro_winkler_similarity('dixon', 'dicksonx') AS b,
              jaro_winkler_similarity('duck', 'luck') AS c""",
    """SELECT damerau_levenshtein('ca', 'abc') AS a,
              damerau_levenshtein('abcdef', 'abcfad') AS b,
              damerau_levenshtein('kitten', 'sitting') AS c,
              damerau_levenshtein('ab', 'ba') AS d,
              damerau_levenshtein('', 'abc') AS e""",
    """SELECT strip_accents('café') AS a,
              strip_accents('Crème Brûlée') AS b,
              strip_accents('ñoño') AS c,
              nfc_normalize('cafe' || chr(769)) AS d,
              length(nfc_normalize('e' || chr(769))) AS e""",
    """SELECT length_grapheme('héllo') AS a,
              length_grapheme('e' || chr(769)) AS b,
              length_grapheme('') AS c,
              length_grapheme('abc') AS d""",
    """SELECT gamma(5) AS a, round(gamma(0.5), 6) AS b,
              round(lgamma(5), 6) AS c, round(lgamma(100), 4) AS d""",
    # shims compose with table scans and the rest of the dialect
    """SELECT r_name, round(jaro_winkler_similarity(r_name, 'EUROPE'), 6) AS jw,
              damerau_levenshtein(r_name, 'ASIA') AS dl
       FROM region ORDER BY r_regionkey""",
]


@pytest.mark.parametrize(
    "sql", CORPUS_R7_BATCH14, ids=range(len(CORPUS_R7_BATCH14))
)
def test_differential_batch14(engines, sql):
    spark, con = engines
    spark_rows = [tuple(r) for r in spark.sql(transpile(sql)).collect()]
    duck_rows = con.execute(sql).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


# round-7 hunt batch 15: JSON family completion (json_structure
# unification lattice, RFC-7386 merge patch, json_type incl. path form,
# json_array_length 0-for-non-array + path, recursive json_contains)
# plus MAP/to_timestamp comparator-safe forms
CORPUS_R7_BATCH15 = [
    """SELECT json_structure('{"a":[1,2]}') AS a,
              json_structure('{"a":{"b":"x"},"c":1.5}') AS b,
              json_structure('[{"a":1},{"a":2.5}]') AS c,
              json_structure('[1,"x"]') AS d,
              json_structure('[{"a":1},{"b":2}]') AS e,
              json_structure('[]') AS f,
              json_structure('[1,-1]') AS g""",
    """SELECT json_merge_patch('{"a":1,"b":2}', '{"b":null,"c":3}') AS a,
              json_merge_patch('{"a":{"x":1}}', '{"a":{"y":2}}') AS b,
              json_merge_patch('{"a":1}', '[1]') AS c""",
    """SELECT json_type('{"a":1}') AS a, json_type('[1]') AS b,
              json_type('"x"') AS c, json_type('1') AS d,
              json_type('1.5') AS e, json_type('true') AS f,
              json_type('{"a":1,"b":[1]}', 'b') AS g,
              json_type('[10,"x"]', '$[1]') AS h""",
    """SELECT json_array_length('[1,2,3]') AS a,
              json_array_length('{}') AS b,
              json_array_length('{"a":[1,2]}', 'a') AS c,
              json_array_length('{"a":[1,2]}', '$.a') AS d""",
    """SELECT json_contains('{"a":{"b":1}}', '{"b":1}') AS a,
              json_contains('[1,[2,3]]', '[2]') AS b,
              json_contains('{"a":1,"b":2}', '{"a":1,"c":3}') AS c,
              json_contains('[1,2,3]', '[3,1]') AS d,
              json_contains('[1,2]', '3') AS e""",
    # MAP family through to_json (the raw python representations of MAP
    # differ between clients; the JSON text is the engine contract)
    """SELECT to_json(map_from_entries([{'k': 'x', 'v': 1},
                                        {'k': 'y', 'v': 2}])) AS a,
              to_json(map_concat(MAP(['a'], [1]), MAP(['b'], [2]))) AS b,
              element_at(MAP(['k1', 'k2'], [10, 20]), 'k2') AS c""",
    """SELECT CAST(to_timestamp(1700000000.25) AS TIMESTAMP) AS a""",
]


@pytest.mark.parametrize(
    "sql", CORPUS_R7_BATCH15, ids=range(len(CORPUS_R7_BATCH15))
)
def test_differential_batch15(engines, sql):
    spark, con = engines
    spark_rows = [tuple(r) for r in spark.sql(transpile(sql)).collect()]
    duck_rows = con.execute(sql).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


# round-7 hunt batch 16: vector-math regression anchors (already
# lowered JVM-side), gcd/lcm shims, even/signbit
CORPUS_R7_BATCH16 = [
    """SELECT round(list_cosine_similarity([1.0, 2, 3], [2.0, 4, 6]), 6) AS a,
              list_dot_product([1.0, 2], [3.0, 4]) AS b,
              list_inner_product([1.0, 2], [3.0, 4]) AS c,
              list_distance([0.0, 0], [3.0, 4]) AS d,
              list_grade_up([30, 10, 20]) AS e""",
    """SELECT even(2.5) AS a, even(-2.5) AS b, even(0) AS c, even(3) AS d,
              signbit(-1.5) AS e, signbit(2.0) AS f""",
    """SELECT gcd(12, 18) AS a, lcm(4, 6) AS b, gcd(0, 5) AS c,
              lcm(0, 5) AS d, greatest_common_divisor(21, 14) AS e,
              least_common_multiple(3, 7) AS f""",
    """SELECT bit_count(7) AS a, round(cot(1.0), 6) AS b,
              round(cbrt(27), 6) AS c, factorial(5) AS d""",
]


@pytest.mark.parametrize(
    "sql", CORPUS_R7_BATCH16, ids=range(len(CORPUS_R7_BATCH16))
)
def test_differential_batch16(engines, sql):
    spark, con = engines
    spark_rows = [tuple(r) for r in spark.sql(transpile(sql)).collect()]
    duck_rows = con.execute(sql).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


# round-7 hunt batch 17: 1-based subscripts on EXPRESSION bases —
# fn(...)[i] (Spark's bare [i] is 0-based: silent off-by-one),
# [literal,list][i], 'string literal'[i] / [a:b] incl. negatives,
# MAP(...)[k] returning a LIST ([v] / [] when missing, DuckDB quirk)
CORPUS_R7_BATCH17 = [
    """SELECT [10, 20, 30][1] AS a, [10, 20, 30][-1] AS b,
              [10, 20, 30][0] AS c, [[1, 2], [3]][1] AS d""",
    """SELECT split('a,b,c', ',')[2] AS a,
              list_sort([3, 1, 2])[1] AS b,
              regexp_extract_all('a1b2', '[0-9]')[2] AS c,
              string_split('x-y', '-')[2] AS d""",
    """SELECT 'hello'[2] AS a, 'hello'[-2] AS b, 'hello'[0] AS c,
              'hello'[2:4] AS d, 'hello'[-3:-2] AS e""",
    """SELECT MAP(['a','b'], [1,2])['a'] AS a,
              MAP(['a'], [1])['z'] AS b""",
    """SELECT [10, 20, 30][-2:-1] AS x, [1, 2, 3, 4][2:3] AS y""",
    """SELECT r_name[2] AS ch, r_name[-3:-1] AS tail
       FROM region ORDER BY r_regionkey""",
]


@pytest.mark.parametrize(
    "sql", CORPUS_R7_BATCH17, ids=range(len(CORPUS_R7_BATCH17))
)
def test_differential_batch17(engines, sql):
    spark, con = engines
    spark_rows = [tuple(r) for r in spark.sql(transpile(sql)).collect()]
    duck_rows = con.execute(sql).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


# round-7 hunt batch 18: strftime week-based codes — Spark 3+ rejects
# the Java week-based pattern letters, so %V/%G/%U/%W/%w/%u splice
# computed fields between date_format chunks (C-strftime week-0
# semantics for %U/%W probed against DuckDB)
CORPUS_R7_BATCH18 = [
    """SELECT strftime(DATE '2024-01-01', '%V %U %W %w %u %G') AS a,
              strftime(DATE '2023-01-01', '%V=%G') AS b,
              strftime(DATE '2024-12-30', 'wk %V yr %G') AS c""",
    """SELECT strftime(DATE '2024-01-07', '%U|%W') AS a,
              strftime(DATE '2024-02-05', '%Y-%m-%d %u') AS b,
              strftime(TIMESTAMP '2024-02-05 10:30:00', '%Y%V%w') AS c""",
    """SELECT strftime(o_orderdate, '%G-%V') AS iso_wk, count(*) AS n
       FROM orders WHERE o_orderkey < 200 GROUP BY 1 ORDER BY 1 LIMIT 5""",
]


@pytest.mark.parametrize(
    "sql", CORPUS_R7_BATCH18, ids=range(len(CORPUS_R7_BATCH18))
)
def test_differential_batch18(engines, sql):
    spark, con = engines
    spark_rows = [tuple(r) for r in spark.sql(transpile(sql)).collect()]
    duck_rows = con.execute(sql).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


# round-7 hunt batch 19: fractional epoch, strptime format lists,
# split_part 0, literal regex flags folded to (?ism), list_aggregate
# aliases + full name map, unnest(STRUCT) -> inline, generate_subscripts,
# bitstring, to_weeks/to_months/... interval makers, millennium/era
CORPUS_R7_BATCH19 = [
    """SELECT extract(epoch FROM TIMESTAMP '2024-01-01 00:00:01.5') AS a,
              date_part('epoch', TIMESTAMP '2024-01-01 00:00:01.5') AS b,
              date_part('millennium', DATE '2001-01-01') AS c,
              date_part('era', DATE '2001-01-01') AS d""",
    """SELECT strptime('2024-02-05', ['%d/%m/%Y', '%Y-%m-%d'])::TIMESTAMP AS a,
              try_strptime('05/02/2024', ['%d/%m/%Y', '%Y-%m-%d'])::TIMESTAMP AS b""",
    """SELECT split_part('a,b', ',', 0) AS a, split_part('a,b', ',', 2) AS b""",
    """SELECT regexp_matches('AbC', 'abc', 'i') AS a,
              regexp_extract('aXb', 'x', 0, 'i') AS b,
              regexp_extract_all('aXbxc', 'x', 0, 'i') AS c,
              regexp_matches('a' || chr(10) || 'b', 'a.b', 's') AS d""",
    """SELECT list_aggr([1, 2, 3], 'sum') AS a,
              list_apply([1, 2], x -> x * 2) AS b,
              array_aggregate([1, 2], 'max') AS c,
              aggregate([1.5, 2.5], 'avg') AS d,
              list_aggregate([3, 1], 'min') AS e""",
    """SELECT unnest({'a': 1, 'b': 2})""",
    """SELECT generate_subscripts([10, 20, 30], 1) AS g""",
    """SELECT bitstring('0101', 8) AS a""",
    """SELECT CAST(DATE '2024-01-31' + to_months(1) AS DATE) AS a,
              CAST(DATE '2024-02-29' + to_years(1) AS DATE) AS b,
              CAST(DATE '2024-01-01' + to_centuries(1) AS DATE) AS c,
              CAST(DATE '2024-01-01' + to_weeks(2) AS DATE) AS d""",
]


@pytest.mark.parametrize(
    "sql", CORPUS_R7_BATCH19, ids=range(len(CORPUS_R7_BATCH19))
)
def test_differential_batch19(engines, sql):
    spark, con = engines
    spark_rows = [tuple(r) for r in spark.sql(transpile(sql)).collect()]
    duck_rows = con.execute(sql).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


# round-7 hunt batch 20: regression anchors for surfaces probed green
# (SEMI/ANTI join syntax, interval RANGE frames, FROM-first EXISTS,
# alias GROUP BY, lambda capture, named windows) + the DISTINCT ON
# fix for ORDER BY over non-projected tiebreak columns
CORPUS_R7_BATCH20 = [
    """SELECT r_name FROM region SEMI JOIN nation
       ON r_regionkey = n_regionkey ORDER BY r_name""",
    """SELECT r_name FROM region ANTI JOIN nation
       ON r_regionkey = n_regionkey + 100 ORDER BY r_name LIMIT 3""",
    """SELECT o_orderkey, count(*) OVER (ORDER BY o_orderdate
         RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW) AS c
       FROM orders WHERE o_orderkey < 50 ORDER BY o_orderkey""",
    """SELECT count(*) AS n FROM region HAVING count(*) > 2""",
    """SELECT r_regionkey % 2 AS par, count(*) AS n FROM region
       GROUP BY par ORDER BY par""",
    """SELECT r_regionkey, list_transform([1, 2], x -> x + r_regionkey) AS lt
       FROM region ORDER BY r_regionkey LIMIT 2""",
    """SELECT DISTINCT ON (n_regionkey % 2, n_regionkey % 3) n_regionkey
       FROM nation
       ORDER BY n_regionkey % 2, n_regionkey % 3, n_nationkey""",
    """SELECT EXISTS(SELECT 1 FROM nation WHERE n_regionkey = 99) AS e1,
              EXISTS(FROM nation) AS e2""",
    """FROM region SELECT r_name ORDER BY r_regionkey LIMIT 2""",
]


@pytest.mark.parametrize(
    "sql", CORPUS_R7_BATCH20, ids=range(len(CORPUS_R7_BATCH20))
)
def test_differential_batch20(engines, sql):
    spark, con = engines
    spark_rows = [tuple(r) for r in spark.sql(transpile(sql)).collect()]
    duck_rows = con.execute(sql).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


# round-7 hunt batch 21: pg-cast composite types (T[], STRUCT(...)
# bodies, bracket/struct-literal operands), string->array via
# from_json, 4-arg stepped list_slice, string array_slice,
# ARRAY[...] keyword literals, || on lists, unicode case fold
CORPUS_R7_BATCH21 = [
    """SELECT [1, 2] || [3] AS a, 'ab' || 'cd' AS b""",
    """SELECT list_slice([1, 2, 3, 4, 5, 6], 2, 6, 2) AS a,
              array_slice('abcdef', 2, 5) AS b""",
    """SELECT '[1,2]'::INT[] AS a, CAST('[1.5]' AS DOUBLE[]) AS b,
              ['1', '2']::INT[] AS c""",
    """SELECT {'a': 1}::STRUCT(a DOUBLE) AS a""",
    """SELECT 'CAFÉ' ILIKE 'café' AS a""",
    """SELECT nullif([1, 2], [1, 2]) AS a, coalesce(NULL, [7]) AS b""",
    """SELECT DATE '2024-02-05' BETWEEN '2024-01-01' AND '2024-12-31' AS a""",
    """SELECT flatten([[1, 2], [3]]) AS a,
              to_json(flatten([[[1]], [[2]]])) AS b""",
    """SELECT repeat('ab', 0) AS a, repeat('ab', -1) AS b""",
    """SELECT ARRAY[1, 2, 3] AS a""",
    """SELECT octet_length('abc'::BLOB) AS b""",
]


@pytest.mark.parametrize(
    "sql", CORPUS_R7_BATCH21, ids=range(len(CORPUS_R7_BATCH21))
)
def test_differential_batch21(engines, sql):
    spark, con = engines
    spark_rows = [tuple(r) for r in spark.sql(transpile(sql)).collect()]
    duck_rows = con.execute(sql).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


# round-7 hunt batch 22: numeric-edge regression anchors — all matched
# with NO fixes needed (division-by-zero -> NULL on both engines in
# non-ANSI mode, NaN sorts last, -0.0 == 0.0, half-away rounding on
# DECIMAL, decimal ceil/floor)
CORPUS_R7_BATCH22 = [
    """SELECT 1/0 AS a, 1.0/0 AS b, 1%0 AS c, 0.0/0.0 AS d, 7//0 AS e""",
    """SELECT x FROM (VALUES (1.0), ('nan'::DOUBLE), (2.0)) t(x) ORDER BY x""",
    """SELECT -0.0 = 0.0 AS a, 0^0 AS b, power(0, 0) AS c""",
    """SELECT mod(7.5, 2) AS a, mod(-7, 2) AS b""",
    """SELECT round(0.5) AS a, round(1.5) AS b, round(2.5) AS c,
              round(-0.5) AS d""",
    """SELECT ceil(2.000001) AS a, ceiling(-2.5) AS b, floor(-2.5) AS c""",
]


@pytest.mark.parametrize(
    "sql", CORPUS_R7_BATCH22, ids=range(len(CORPUS_R7_BATCH22))
)
def test_differential_batch22(engines, sql):
    spark, con = engines
    spark_rows = [tuple(r) for r in spark.sql(transpile(sql)).collect()]
    duck_rows = con.execute(sql).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


# round-8 batch 23 (ADVICE anchors): any_value(x ORDER BY y) must skip
# NULL values (min_by would return the NULL at the extreme key);
# epoch_ns over DATE needs the explicit CAST AS TIMESTAMP lowering (the
# plain unix_micros registration shadowed it until round 8)
CORPUS_R8_BATCH23 = [
    """SELECT any_value(v ORDER BY k) AS a, any_value(v ORDER BY k DESC) AS b
       FROM (VALUES (1, NULL), (2, 'x'), (3, 'y'), (4, NULL)) t(k, v)""",
    """SELECT any_value(v ORDER BY k) AS a
       FROM (VALUES (1, NULL::VARCHAR), (2, NULL)) t(k, v)""",
    """SELECT epoch_ns(DATE '2024-03-01') AS a,
              epoch_us(DATE '2024-03-01') AS b,
              epoch_ms(DATE '2024-03-01') AS c""",
    """SELECT epoch_ms(1704067200123) AS t,
              epoch_ms(TIMESTAMP '2024-01-01 00:00:00.5') AS c""",
]


@pytest.mark.parametrize(
    "sql", CORPUS_R8_BATCH23, ids=range(len(CORPUS_R8_BATCH23))
)
def test_differential_batch23(engines, sql):
    spark, con = engines
    spark_rows = [tuple(r) for r in spark.sql(transpile(sql)).collect()]
    duck_rows = con.execute(sql).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


# round-8 hunt batch 24: probed ~100 surfaces (stat aggregates, date
# parts, NULL edges, list lambdas, window frames, JSON aggregates).
# Fixed this round: date_trunc decade/century/millennium/isoyear
# (silent NULL in Spark), date_part/extract isoyear+yearweek, mad()
# (let-binding expansion — a textual one hung the analyzer), zipped
# multi-unnest (Spark misaligns a second generator), arbitrary(ORDER
# BY), format() alignment specs, bar(), postfix factorial, literal
# DATE arithmetic types, json_group_array/object. The rest below are
# regression anchors for surfaces probed green.
CORPUS_R8_BATCH24 = [
    # date_trunc units Spark lacks — and DuckDB's floor semantics
    # (century of 2024 → 2000-01-01, though century() the PART is 21)
    """SELECT date_trunc('decade', DATE '2024-08-15') AS a,
              date_trunc('century', DATE '2024-08-15') AS b,
              date_trunc('millennium', DATE '2024-08-15') AS c,
              date_trunc('isoyear', DATE '2021-01-01') AS d,
              date_trunc('decade', o_orderdate) AS e
       FROM orders ORDER BY o_orderkey LIMIT 3""",
    """SELECT date_part('isoyear', DATE '2021-01-01') AS iy,
              date_part('yearweek', DATE '2021-01-01') AS yw,
              extract(isoyear FROM DATE '2022-01-03') AS iy2""",
    # mad: median absolute deviation, grouped and ungrouped
    """SELECT mad(x) AS m FROM (VALUES (1.0),(2.0),(4.0),(100.0)) t(x)""",
    """SELECT g, mad(x) AS m
       FROM (VALUES (1, 1.0),(1, 3.0),(2, 5.0),(2, 5.0),(2, 11.0)) t(g, x)
       GROUP BY g ORDER BY g""",
    # zipped multi-unnest: longest wins, shorter NULL-pads; expressions
    # over unnest participate; single unnest untouched
    """SELECT unnest([1,2,3]) AS a, unnest(['x','y','z']) AS b ORDER BY a""",
    """SELECT unnest([1,2,3]) AS a, unnest([10,20]) AS b ORDER BY a""",
    """SELECT unnest([1,2]) + 100 AS a, unnest([5,6,7]) AS b ORDER BY b""",
    """SELECT n_nationkey, unnest([n_nationkey, n_regionkey]) AS u,
              unnest([n_nationkey * 10, 1]) AS v
       FROM nation WHERE n_nationkey < 3 ORDER BY n_nationkey, u, v""",
    # arbitrary = first alias, ordered and plain
    """SELECT arbitrary(n_name ORDER BY n_nationkey) AS a,
              arbitrary(n_name ORDER BY n_nationkey DESC) AS z
       FROM nation""",
    # format alignment specs
    """SELECT format('{:.2f}|{:>5}|{:<4}!', 3.14159, 'x', 'y') AS f""",
    # bar chart rendering: exact boundary, eighths, clamp-high
    """SELECT bar(3,0,10,10) AS b1, bar(3.7,0,10,10) AS b2,
              bar(0.33,0,1,5) AS b3, bar(12,0,10,10) AS b4""",
    # postfix factorial on literal / parenthesized expression
    """SELECT 5! AS f, factorial(6) AS f2, (2+2)! AS f3""",
    # JSON aggregates
    """SELECT json_group_array(n_nationkey) AS ja,
              json_group_object(n_name, n_nationkey) AS jo
       FROM nation WHERE n_regionkey = 0""",
    # literal date arithmetic: DATE-DATE is BIGINT days, DATE+INTERVAL
    # is TIMESTAMP
    """SELECT DATE '2024-03-01' - DATE '2024-02-01' AS days,
              DATE '2024-01-31' + INTERVAL 1 MONTH AS ts""",
    # regression anchors probed green in the batch-24 sweep ----------
    """SELECT round(skewness(o_totalprice),4) AS s,
              round(kurtosis(o_totalprice),4) AS k FROM orders""",
    """SELECT round(regr_slope(l_extendedprice,l_quantity),4) AS sl,
              round(regr_intercept(l_extendedprice,l_quantity),2) AS ic,
              round(regr_r2(l_extendedprice,l_quantity),6) AS r2,
              CAST(regr_count(l_extendedprice,l_quantity) AS BIGINT) AS n
       FROM lineitem""",
    """SELECT quantile_cont(o_totalprice, [0.25, 0.5, 0.75]) AS qs,
              quantile_disc(o_totalprice, [0.1, 0.9]) AS qd FROM orders""",
    """SELECT date_part('dow', DATE '2024-03-03') AS dow,
              date_part('isodow', DATE '2024-03-03') AS iso,
              dayname(DATE '2024-03-05') AS dn,
              monthname(DATE '2024-03-05') AS mn""",
    """SELECT greatest(1, NULL, 3) AS g, least(2, NULL) AS l,
              concat('a', NULL, 'b') AS c,
              (1 IN (2, NULL)) IS NULL AS i""",
    """SELECT o_orderkey, lag(o_totalprice, 2, -1.0) OVER (ORDER BY o_orderkey) AS l,
              nth_value(o_totalprice, 3) OVER (ORDER BY o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nv
       FROM orders ORDER BY o_orderkey LIMIT 8""",
    """SELECT o_orderkey, CAST(count(*) OVER (ORDER BY o_totalprice
              RANGE BETWEEN 1000 PRECEDING AND 1000 FOLLOWING) AS BIGINT) AS c
       FROM orders ORDER BY o_orderkey LIMIT 10""",
    """SELECT list_transform([1,2,3], x -> x * 2) AS t,
              list_filter([1,2,3,4], x -> x % 2 = 0) AS f,
              list_reduce([1,2,3,4], (a, b) -> a + b) AS r,
              flatten([[1,2],[3]]) AS fl""",
    """SELECT string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS s,
              count_if(o_totalprice > 100000) AS c FROM orders""",
    """SELECT entropy(o_orderstatus) > 1.5 AS e,
              bit_count(7) AS bc, even(3.5) AS ev FROM orders LIMIT 1""",
]


@pytest.mark.parametrize(
    "sql", CORPUS_R8_BATCH24, ids=range(len(CORPUS_R8_BATCH24))
)
def test_differential_batch24(engines, sql):
    spark, con = engines
    spark_rows = [tuple(r) for r in spark.sql(transpile(sql)).collect()]
    duck_rows = con.execute(sql).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


# round-8 hunt batch 25: method-call chaining, ^@ / GLOB operators,
# temporal series table functions (DATE endpoints type as TIMESTAMP
# rows; range() is end-exclusive), AT TIME ZONE, FILTER on window
# aggregates, grouping-paren subscript bases, UNION-type shims.
# Probed divergences NOT fixed (documented): bare age() (DuckDB
# calendar months vs Spark day intervals), list_intersect element
# order (unspecified in DuckDB).
CORPUS_R8_BATCH25 = [
    # ^@ starts-with operator, column and expression operands
    """SELECT count(*) AS n FROM nation WHERE n_name ^@ 'A'""",
    """SELECT r_name FROM region WHERE lower(r_name) ^@ 'a' ORDER BY r_name""",
    # GLOB / NOT GLOB with *, ?, [!...] classes; regex specials escaped
    """SELECT count(*) AS n FROM nation WHERE n_name GLOB 'A*A'""",
    """SELECT r_name FROM region WHERE r_name GLOB 'A[!S]*' ORDER BY r_name""",
    # (this container's DuckDB rejects the infix NOT GLOB spelling;
    # our rewrite supports it — anchor the semantics via NOT (...))
    """SELECT count(*) AS n FROM nation WHERE NOT (n_name GLOB '*N*')""",
    # temporal generate_series/range: DATE endpoints -> TIMESTAMP rows,
    # inclusive vs end-exclusive
    """SELECT * FROM generate_series(DATE '2024-01-01', DATE '2024-01-04',
              INTERVAL 1 DAY) t(d) ORDER BY d""",
    """SELECT * FROM range(DATE '2024-01-01', DATE '2024-01-04',
              INTERVAL 1 DAY) t(d) ORDER BY d""",
    """SELECT * FROM generate_series(TIMESTAMP '2024-01-01 00:00:00',
              TIMESTAMP '2024-01-01 03:00:00', INTERVAL 1 HOUR) t(ts)
       ORDER BY ts""",
    # method-call chaining on columns and parenthesized expressions
    """SELECT r_name.lower() AS l, (r_name).substr(1, 2).lower() AS s2
       FROM region ORDER BY r_regionkey""",
    """SELECT ('  x  ').trim().upper() AS t""",
    # grouping-paren subscript bases: list (1-based, negatives from the
    # end) and string literal
    """SELECT ([1,2,3,4])[-2] AS e, ([10,20,30])[2] AS m, ('hello')[2] AS c""",
    # AT TIME ZONE: naive -> instant, and the chained two-hop form
    """SELECT CAST(TIMESTAMP '2024-01-01 10:00:00'
              AT TIME ZONE 'America/New_York' AS TIMESTAMP) AS t""",
    """SELECT CAST(TIMESTAMP '2024-01-01 10:00:00' AT TIME ZONE 'UTC'
              AT TIME ZONE 'Asia/Tokyo' AS TIMESTAMP) AS t2""",
    # FILTER on window aggregates (Spark-unsupported natively)
    """SELECT o_orderkey,
              CAST(count(*) FILTER (WHERE o_totalprice > 100000)
                   OVER (ORDER BY o_orderkey
                         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS c,
              round(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'O')
                   OVER (ORDER BY o_orderkey
                         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS s
       FROM orders ORDER BY o_orderkey LIMIT 8""",
    # UNION-type constructor/extractor via the named-struct shim
    """SELECT union_extract(union_value(num := 2), 'num') AS v""",
]


@pytest.mark.parametrize(
    "sql", CORPUS_R8_BATCH25, ids=range(len(CORPUS_R8_BATCH25))
)
def test_differential_batch25(engines, sql):
    spark, con = engines
    spark_rows = [tuple(r) for r in spark.sql(transpile(sql)).collect()]
    duck_rows = con.execute(sql).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


# round-8 hunt batch 26: probed ~60 surfaces (top-N/bit/bool/product/
# histogram/mode aggregates, string+date scalars, struct_pack family,
# regexp forms, list predicates). Fixes: typeof() mapped to DuckDB
# type spellings, regexp_full_match anchored, unnest(recursive :=
# true) flattened. Probed-green anchors below; known representation
# divergences (histogram MAP render, Row field names in list_zip/row,
# tz-aware render of timezone()) are client-side only.
CORPUS_R8_BATCH26 = [
    # fixes
    """SELECT typeof(1::INTEGER) AS t1, typeof('x') AS t2,
              typeof(1.5::DECIMAL(18,4)) AS t3, typeof(DATE '2024-01-01') AS t4""",
    """SELECT regexp_matches('abc123', '[0-9]+') AS m,
              regexp_full_match('abc', '[a-z]+') AS f,
              regexp_full_match('abc', '[a-z]') AS g""",
    """SELECT unnest([[1,2],[3]], recursive := true) AS u""",
    # aggregate anchors
    """SELECT bool_and(o_totalprice > 0) AS ba,
              bool_or(o_totalprice > 400000) AS bo FROM orders""",
    """SELECT bit_and(o_orderkey) AS a, bit_or(o_orderkey) AS o,
              bit_xor(o_orderkey) AS x FROM orders WHERE o_orderkey < 50""",
    """SELECT round(product(1.0 + o_totalprice/1e9),6) AS p
       FROM orders WHERE o_orderkey < 200""",
    """SELECT mode(o_orderpriority) AS m FROM orders""",
    """SELECT median(x) AS m FROM (VALUES (1),(2),(3),(4)) t(x)""",
    """SELECT arg_min(o_orderkey, o_totalprice) AS am,
              arg_max(o_orderkey, o_totalprice) AS ax FROM orders""",
    # string scalars
    """SELECT left(r_name, 3) AS l, right(r_name, 3) AS r,
              left(r_name, -2) AS ln, right(r_name, -2) AS rn
       FROM region ORDER BY r_regionkey""",
    """SELECT translate('ABCA', 'AB', 'xy') AS t, repeat('ab', 3) AS rp,
              reverse('abc') AS rv""",
    """SELECT ascii('A') AS a, chr(66) AS c, unicode('€') AS u""",
    """SELECT levenshtein('kitten', 'sitting') AS d, hamming('abc', 'abd') AS h""",
    """SELECT format('{} x {}', 2, 'b') AS f, printf('%d-%s', 7, 'z') AS p""",
    """SELECT hex(255) AS h, unhex('4142') AS u, bin(5) AS b,
              to_base(255, 16) AS b16""",
    """SELECT md5('abc') AS m, sha256('abc') AS s""",
    """SELECT split_part('a,b,c', ',', 2) AS s, split_part('a,b', ',', 9) AS oob,
              instr('hello', 'll') AS i, position('ll' IN 'hello') AS po""",
    """SELECT regexp_split_to_array('a1b22c', '[0-9]+') AS r,
              regexp_extract('ab12cd', '([a-z]+)([0-9]+)', 2) AS g""",
    # date/time scalars
    """SELECT last_day(DATE '2024-02-05') AS ld, make_date(2024, 3, 5) AS d,
              make_timestamp(2024, 3, 5, 10, 30, 0) AS ts""",
    """SELECT week(DATE '2024-03-05') AS w, quarter(DATE '2024-03-05') AS q,
              dayofyear(DATE '2024-03-05') AS dy""",
    """SELECT date_diff('day', DATE '2024-01-01', DATE '2024-03-01') AS dd,
              datediff('month', DATE '2024-01-15', DATE '2024-03-10') AS dm""",
    """SELECT round(julian(DATE '2024-01-01'), 1) AS j""",
    # list + struct anchors
    """SELECT list_has_any([1,2],[2,3]) AS a, list_has_all([1,2,3],[1,3]) AS b,
              list_position([7,8,9], 8) AS p, list_position([7], 99) AS miss""",
    """SELECT list_value(1, 2, 3) AS l, list_reverse_sort([2,3,1]) AS r,
              list_sort(list_distinct([3,1,3,2])) AS d""",
    """SELECT range(1, 6) AS r, range(0, 10, 3) AS s, range(5) AS z""",
    """SELECT struct_pack(a := 1, b := 'x') AS s""",
    """SELECT struct_extract(struct_pack(a := 7), 'a') AS v""",
    """SELECT struct_insert(struct_pack(a := 1), b := 2) AS s""",
    """SELECT generate_subscripts([10,20,30], 1) AS g""",
    # misc
    """SELECT if(1 > 2, 'a', 'b') AS i, ifnull(NULL, 9) AS f""",
    """SELECT (NULL IS DISTINCT FROM NULL) AS a,
              (1 IS NOT DISTINCT FROM 1) AS b""",
]


@pytest.mark.parametrize(
    "sql", CORPUS_R8_BATCH26, ids=range(len(CORPUS_R8_BATCH26))
)
def test_differential_batch26(engines, sql):
    spark, con = engines
    spark_rows = [tuple(r) for r in spark.sql(transpile(sql)).collect()]
    duck_rows = con.execute(sql).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


# round-8 hunt batch 27: statement-level spellings (SEMI/ANTI JOIN,
# LIMIT p%, FETCH FIRST, OFFSET ... ROWS, [NOT] MATERIALIZED CTEs),
# ordered-set aggregates, // float semantics, epoch of INTERVAL,
# try_strptime, listagg alias, array_* lambda aliases. Documented-not-
# fixed: ``[1] || NULL`` (untyped NULL, loud Spark type error) and
# float-typed COLUMNS under // (statically unknowable — stays div).
CORPUS_R8_BATCH27 = [
    # joins — SEMI/ANTI keyword spellings (probed green: pass-through)
    """SELECT count(*) AS n FROM nation SEMI JOIN region
       ON n_regionkey = r_regionkey AND r_name ^@ 'A'""",
    """SELECT count(*) AS n FROM nation ANTI JOIN region
       ON n_regionkey = r_regionkey AND r_name ^@ 'A'""",
    # ANSI/statement spellings
    """SELECT o_orderkey FROM orders ORDER BY o_orderkey
       FETCH FIRST 3 ROWS ONLY""",
    """SELECT count(*) AS n FROM (SELECT * FROM orders
       ORDER BY o_orderkey OFFSET 9990) t""",
    """WITH t AS MATERIALIZED (SELECT r_regionkey, r_name FROM region)
       SELECT count(*) AS n FROM t""",
    """WITH t AS NOT MATERIALIZED (SELECT r_regionkey FROM region)
       SELECT count(*) AS n FROM t""",
    # LIMIT p%: floor(n*p/100) rows, ORDER BY respected
    """SELECT count(*) AS n FROM (SELECT * FROM orders LIMIT 10%) t""",
    """SELECT r_regionkey FROM region ORDER BY r_regionkey DESC LIMIT 40%""",
    # ordered-set aggregates
    """SELECT percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice) AS p50,
              percentile_disc(0.25) WITHIN GROUP (ORDER BY o_totalprice) AS p25
       FROM orders""",
    """SELECT mode() WITHIN GROUP (ORDER BY o_orderpriority) AS m FROM orders""",
    # // semantics: float literal operand -> plain division; ints truncate
    """SELECT 7 // 2 AS i, -7 // 2 AS ni, 7.0 // 2 AS f, 7.5 // 2 AS f2""",
    # epoch of INTERVAL (day-time, fractional seconds, year-month)
    """SELECT extract(epoch FROM INTERVAL 90 MINUTE) AS e,
              extract(epoch FROM INTERVAL '1.5 seconds') AS f,
              date_part('minute', INTERVAL 90 MINUTE) AS m""",
    """SELECT extract(epoch FROM INTERVAL 14 MONTH) AS em""",
    # parse/format
    """SELECT try_strptime('2024-03-05', '%Y-%m-%d') AS ok,
              try_strptime('bogus', '%Y-%m-%d') AS bad""",
    """SELECT listagg(o_orderstatus, '|' ORDER BY o_orderstatus) AS la
       FROM (SELECT DISTINCT o_orderstatus FROM orders) t""",
    # lambda aliases
    """SELECT list_apply([1,2], x -> x + 1) AS a,
              array_transform([1,2], x -> x * 3) AS t,
              array_filter([1,2,3,4], x -> x % 2 = 0) AS f""",
    # misc anchors probed green
    """SELECT TIME '10:30:00' AS t""",
    """SELECT round(stddev(o_totalprice),4) AS s,
              round(stddev_pop(o_totalprice),4) AS sp,
              round(corr(o_totalprice, o_orderkey),6) AS c FROM orders""",
    """SELECT o_orderstatus, grouping(o_orderstatus) AS g,
              CAST(count(*) AS BIGINT) AS n
       FROM orders GROUP BY ROLLUP(o_orderstatus)
       ORDER BY g, o_orderstatus NULLS LAST""",
    """SELECT map_keys(map(['a','b'],[1,2])) AS k,
              map_values(map(['a'],[9])) AS v,
              cardinality(map(['a','b'],[1,2])) AS c""",
    """SELECT list_where([10,20,30], [true,false,true]) AS w,
              list_select([10,20,30], [1,3]) AS s""",
    """SELECT o_orderkey, ntile(4) OVER (ORDER BY o_orderkey) AS nt,
              round(cume_dist() OVER (ORDER BY o_orderkey), 6) AS cd
       FROM orders ORDER BY o_orderkey LIMIT 8""",
    """WITH orders AS (SELECT 1 AS x) SELECT x FROM orders""",
    """SELECT json_keys('{"a":1,"b":{"c":2}}') AS k,
              json_valid('{"a":1}') AS v, json_valid('nope') AS nv""",
]


@pytest.mark.parametrize(
    "sql", CORPUS_R8_BATCH27, ids=range(len(CORPUS_R8_BATCH27))
)
def test_differential_batch27(engines, sql):
    spark, con = engines
    spark_rows = [tuple(r) for r in spark.sql(transpile(sql)).collect()]
    duck_rows = con.execute(sql).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


# round-8 hunt batch 28: regression-stats aggregates, bit surfaces
# (BITSTRING literal accessors, width-aware bit_count), DuckDB function
# spellings of arithmetic (divide/fdiv/fmod — floor-division pair),
# temporal isfinite/isinf, and ~20 probed-green anchors. Documented-not-
# fixed (representation, not value): map_from_entries/list_zip return
# shapes differ pythonside; GROUPS frames and 3-arg arg_max are not in
# the oracle's DuckDB build, so no differential is possible.
CORPUS_R8_BATCH28 = [
    # linear-regression aggregate family (probed green: same names)
    """SELECT round(regr_slope(o_totalprice, o_orderkey), 6) AS s,
              round(regr_intercept(o_totalprice, o_orderkey), 4) AS i,
              round(regr_r2(o_totalprice, o_orderkey), 6) AS r2,
              regr_count(o_totalprice, o_orderkey) AS c FROM orders""",
    """SELECT round(regr_avgx(o_totalprice, o_orderkey), 4) AS ax,
              round(regr_avgy(o_totalprice, o_orderkey), 4) AS ay,
              round(regr_sxx(o_totalprice, o_orderkey), 2) AS sxx,
              round(regr_syy(o_totalprice, o_orderkey), 2) AS syy,
              round(regr_sxy(o_totalprice, o_orderkey), 2) AS sxy
       FROM orders""",
    # function spellings of / and floor-division (fdiv/fmod: remainder
    # takes the divisor's sign, both DOUBLE)
    """SELECT divide(7, 2) AS a, divide(7.5, 2) AS b, divide(-7, 2) AS c""",
    """SELECT fdiv(7.5, 2) AS a, fdiv(-7.5, 2) AS b, fdiv(7, 2) AS c,
              fmod(7.5, 2) AS d, fmod(-7.5, 2) AS e, fmod(7, 3) AS f""",
    # bit_count counts within the CAST width; bitstring literal accessors
    """SELECT bit_count(CAST(-1 AS TINYINT)) AS a,
              bit_count(CAST(-1 AS SMALLINT)) AS b,
              bit_count(CAST(-1 AS INTEGER)) AS c, bit_count(7) AS d""",
    """SELECT get_bit(BITSTRING '0101', 1) AS g,
              CAST(set_bit(BITSTRING '0101', 0, 1) AS VARCHAR) AS s,
              CAST(set_bit(BITSTRING '0101', 3, 0) AS VARCHAR) AS s2,
              bit_length(BITSTRING '0101') AS bl,
              bit_position(BITSTRING '01', BITSTRING '0101') AS bp,
              bit_length('ab') AS bytes8""",
    # temporal finiteness (Spark types have no ±infinity sentinels)
    """SELECT isfinite(DATE '2024-01-01') AS f,
              isfinite(TIMESTAMP '2024-01-01') AS ft, isfinite(1.0) AS fn,
              isfinite(CAST('inf' AS DOUBLE)) AS fi,
              isfinite(CAST(NULL AS DATE)) AS nn,
              isinf(DATE '2024-01-01') AS i""",
    # probed-green anchors
    """SELECT o_orderkey, lag(v IGNORE NULLS) OVER (ORDER BY o_orderkey) AS p
       FROM (SELECT o_orderkey, CASE WHEN o_orderkey % 2 = 0
                                     THEN o_orderkey END AS v
             FROM orders ORDER BY o_orderkey LIMIT 6) t
       ORDER BY o_orderkey""",
    """SELECT to_base(255, 16) AS h, to_base(10, 2) AS b, bin(5) AS bn,
              hex(255) AS hx""",
    """SELECT format('{} and {}', 1, 'x') AS f,
              format('{:.2f}', 3.14159) AS f2""",
    """SELECT left('hello', -2) AS l, right('hello', -2) AS r,
              left('hello', 2) AS l2, right('hello', 2) AS r2""",
    """SELECT unicode('A') AS u, ord('B') AS o, chr(67) AS c,
              repeat('ab', -1) AS rn, repeat('ab', 0) AS rz""",
    """SELECT nextafter(1.0, 2.0) AS n, even(2.5) AS e, even(-2.5) AS ne,
              signbit(-0.0) AS s, round(cot(1.0), 6) AS c""",
    """SELECT regexp_split_to_array('a1b22c', '[0-9]+') AS a,
              string_split_regex('x.y.z', '\\.') AS b""",
    """SELECT quantile_cont(o_totalprice, [0.25, 0.5]) AS q FROM orders""",
    """SELECT greatest(1, NULL, 3) AS g, least(NULL, NULL) AS l,
              greatest('a', 'b') AS gs""",
    """SELECT string_agg(DISTINCT o_orderstatus, '|' ORDER BY o_orderstatus)
       AS s FROM orders""",
    """SELECT ends_with('hello', 'lo') AS e, starts_with('hello', 'he') AS s,
              suffix('hello', 'lo') AS sx, prefix('hello', 'he') AS px""",
    """SELECT list_sort([3,1,2], 'DESC') AS d, list_reverse_sort([3,1,2]) AS r,
              list_sort([3,NULL,1], 'ASC', 'NULLS FIRST') AS nf""",
    """SELECT md5('abc') AS m, sha256('abc') AS s, hamming('abc','abd') AS h,
              mismatches('abc','abd') AS mm""",
    """SELECT s.* FROM (SELECT {'a': 1, 'b': 2} AS s) t""",
    """SELECT list_reduce([1,2,3], (x, y) -> x + y) AS r,
              reduce([1,2,3,4], (x, y) -> x * y) AS p,
              flatten([[1,2],[3]]) AS f""",
    """SELECT map_entries(map(['a','b'],[1,2])) AS e,
              map_extract(map(['a'],[9]), 'a') AS x""",
    """SELECT position('lo' IN 'hello') AS p, strpos('hello', 'lo') AS s,
              instr('hello', 'lo') AS i,
              substring('hello' FROM 2 FOR 3) AS sb,
              substring('hello' FROM 3) AS sb2""",
    """SELECT trim(BOTH 'x' FROM 'xxaxx') AS b,
              trim(LEADING 'x' FROM 'xxaxx') AS l,
              trim(TRAILING 'x' FROM 'xxaxx') AS t""",
    """SELECT last_day(DATE '2024-02-05') AS ld,
              last_day(TIMESTAMP '2023-06-05 10:00:00') AS lt""",
]


@pytest.mark.parametrize(
    "sql", CORPUS_R8_BATCH28, ids=range(len(CORPUS_R8_BATCH28))
)
def test_differential_batch28(engines, sql):
    spark, con = engines
    spark_rows = [tuple(r) for r in spark.sql(transpile(sql)).collect()]
    duck_rows = con.execute(sql).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


# round-8 hunt batch 29: structural probes — 40+ surfaces probed, nearly
# all already green (ANY/ALL over arrays, row/struct/list comparisons,
# tuple IN lists, EXISTS/scalar subqueries, WINDOW clause reuse, FROM-
# first/bare, positional GROUP/ORDER BY, interval arithmetic, list
# lambdas with index, generate_subscripts, negative-step range). Fixed:
# stepped slices [a:b:c] on EXPRESSION bases (literals, calls, grouping
# parens) — identifier bases already lowered, expression bases parsed
# 0-based or failed. Documented-not-fixed: list_intersect/list_distinct
# element ORDER (DuckDB's is hash-dependent — anchors sort first), age()
# calendar-interval comparisons vs Spark's split interval types.
CORPUS_R8_BATCH29 = [
    """SELECT [1,2,3,4,5,6][1:5:2] AS s, [1,2,3][2:9:3] AS t,
              ([1,2,3,4])[1:4:3] AS g""",
    """SELECT list_sort([10,20,30,40])[1:3:2] AS f""",
    """SELECT list_sort(list_intersect([1,2,3],[2,3,4])) AS i,
              list_sort(list_distinct([1,2,2])) AS d,
              list_unique([1,2,2,NULL]) AS u,
              list_has_any([1,2],[2,9]) AS ha,
              list_has_all([1,2,3],[1,3]) AS hl""",
    """SELECT count(*) AS n FROM nation WHERE n_regionkey = ANY([1, 3])""",
    """SELECT count(*) AS n FROM nation WHERE n_regionkey <> ALL([1, 3])""",
    """SELECT ROW(1, 2) = ROW(1, 2) AS a, ROW(1, 2) < ROW(1, 3) AS b,
              {'a': 1} = {'a': 1} AS e, {'a': 1} < {'a': 2} AS l""",
    """SELECT [1,2] < [1,3] AS a, [1,2] = [1,2] AS b, [2] > [1,9] AS c""",
    """SELECT count(*) AS n FROM nation
       WHERE (n_regionkey, n_nationkey % 2) IN ((1, 0), (3, 1))""",
    """SELECT EXISTS (SELECT 1 FROM region WHERE r_regionkey = 99) AS e,
              (SELECT max(r_regionkey) FROM region) AS m""",
    """SELECT o_orderkey, sum(o_totalprice) OVER w AS s, rank() OVER w AS r
       FROM orders WINDOW w AS (PARTITION BY o_orderstatus
                                ORDER BY o_orderkey)
       ORDER BY o_orderkey LIMIT 4""",
    """FROM region SELECT r_name ORDER BY r_regionkey LIMIT 2""",
    """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n
       FROM orders GROUP BY 1 ORDER BY 1""",
    """SELECT CAST(count(*) AS BIGINT) AS n FROM orders
       HAVING count(*) > 0""",
    """SELECT DATE '2024-01-01' + INTERVAL 1 MONTH * 3 AS d""",
    """SELECT list_transform([10,20], (x, i) -> x + i) AS t,
              list_grade_up([30,10,20]) AS g,
              generate_subscripts([10,20,30], 1) AS gs""",
    """SELECT array_agg(r_name ORDER BY r_regionkey DESC) AS a FROM region""",
    """SELECT list(r_regionkey ORDER BY r_regionkey)
              FILTER (WHERE r_regionkey > 1) AS l FROM region""",
    """SELECT first(r_name ORDER BY r_regionkey) AS f,
              last(r_name ORDER BY r_regionkey) AS l FROM region""",
    """SELECT count_if(o_totalprice > 100000) AS c FROM orders""",
    """SELECT range(5, 1, -2) AS r, range(3) AS r2""",
    """SELECT to_years(2) = INTERVAL 2 YEAR AS y,
              to_days(10) = INTERVAL 10 DAY AS d,
              to_hours(5) = INTERVAL 5 HOUR AS h""",
    """SELECT grouping_id(o_orderstatus, o_orderpriority) AS g,
              CAST(count(*) AS BIGINT) AS n
       FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
       ORDER BY g, n LIMIT 10""",
]


@pytest.mark.parametrize(
    "sql", CORPUS_R8_BATCH29, ids=range(len(CORPUS_R8_BATCH29))
)
def test_differential_batch29(engines, sql):
    spark, con = engines
    spark_rows = [tuple(r) for r in spark.sql(transpile(sql)).collect()]
    duck_rows = con.execute(sql).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


# round-8 hunt batch 30: three-valued IN/NOT IN subquery semantics in
# PROJECTED contexts (Spark's ListQuery projects FALSE where ANSI/DuckDB
# yield NULL — lowered to null-faithful CASE-over-EXISTS; WHERE conjuncts
# keep the native semi join), plus numeric/string/date edge anchors.
# Documented-not-fixed: paren-expression keys (CAST(...) IN (SELECT …))
# keep the native path — same identifier-key scope as the NOT IN rewrite;
# sqrt(-1)/ln(0) ERROR in DuckDB but yield NaN/-inf in Spark (error-vs-
# value class); round(1250,-2) types DOUBLE in DuckDB vs INT here.
CORPUS_R8_BATCH30 = [
    """SELECT x IN (SELECT r_regionkey FROM region WHERE false) AS e,
              x IN (SELECT r_regionkey FROM region) AS f,
              x NOT IN (SELECT r_regionkey FROM region WHERE false) AS ne
       FROM (VALUES (CAST(NULL AS INT)), (1), (99)) t(x)""",
    """SELECT 1 NOT IN (SELECT CAST(NULL AS INT)) AS n,
              1 IN (SELECT CAST(NULL AS INT)) AS i,
              (1 IN (SELECT CAST(NULL AS INT))) IS NULL AS isn""",
    """SELECT CASE WHEN 9 IN (SELECT r_regionkey FROM region)
                   THEN 'y' ELSE 'n' END AS c""",
    # probed-green anchors
    """SELECT log(2, 8) AS a, log(100) AS b, log10(100) AS c, log2(8) AS d,
              pow(0, 0) AS p""",
    """SELECT make_timestamp(1700000000000000) AS mt,
              make_timestamp(2024, 3, 5, 10, 30, 1.5) AS mt6,
              make_date(2024, 2, 29) AS md""",
    """SELECT split_part('a,b,c', ',', 2) AS p, split_part('a,b', ',', 5)
              AS oob, split_part('a,b', ',', -1) AS neg,
              lpad('x', -1, 'y') AS l, rpad('ab', 5, '12') AS r""",
    """SELECT list_position([10,20,30], 20) AS p, list_position([1], 9) AS m,
              list_contains([1,2], 2) AS c, array_position([5,6], 6) AS ap""",
    """SELECT CAST('2 days' AS INTERVAL) = INTERVAL 2 DAY AS ok,
              CAST('1 hour 30 minutes' AS INTERVAL) = INTERVAL 90 MINUTE
              AS ok2,
              INTERVAL 25 HOUR > INTERVAL 1 DAY AS cmp""",
    """SELECT to_base64('abc'::BLOB) AS e,
              CAST(from_base64('YWJj') AS VARCHAR) AS d""",
    """SELECT regexp_extract('2024-03-05', '(\\d+)-(\\d+)', ['y','m']) AS s""",
    """SELECT greatest_common_divisor(12, 18) AS g,
              least_common_multiple(4, 6) AS l""",
    """SELECT string_split('', ',') AS e, string_split('abc', '') AS byc""",
    """SELECT formatReadableDecimalSize(1234567) AS c,
              formatReadableSize(1048576) AS d,
              formatReadableDecimalSize(999) AS e,
              formatReadableDecimalSize(999999) AS g,
              formatReadableDecimalSize(-123456) AS h,
              formatReadableDecimalSize(9223372036854775807) AS m""",
    """SELECT dayofyear(DATE '2024-03-01') AS d,
              monthname(DATE '2024-03-05') AS m,
              dayname(DATE '2024-03-05') AS dn""",
    """SELECT min(x) AS mn, CAST(count(x) AS BIGINT) AS c,
              CAST(count(*) AS BIGINT) AS ca
       FROM (VALUES (CAST(NULL AS INT)), (NULL)) t(x)""",
    """SELECT sum(x) AS s, avg(x) AS a FROM (SELECT 1 AS x WHERE false) t""",
    """SELECT bool_and(x) AS ba, bool_or(x) AS bo
       FROM (VALUES (true), (NULL)) t(x)""",
    """SELECT r_regionkey, lead(r_regionkey, 2, -1)
              OVER (ORDER BY r_regionkey) AS l,
              nth_value(r_name, 2) OVER (ORDER BY r_regionkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS n
       FROM region ORDER BY r_regionkey""",
]


@pytest.mark.parametrize(
    "sql", CORPUS_R8_BATCH30, ids=range(len(CORPUS_R8_BATCH30))
)
def test_differential_batch30(engines, sql):
    spark, con = engines
    spark_rows = [tuple(r) for r in spark.sql(transpile(sql)).collect()]
    duck_rows = con.execute(sql).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


# round-8 hunt batch 31: correlated lateral unnest (comma / CROSS JOIN
# + a(c) alias → LATERAL VIEW explode), date_part fields of INTERVALs
# (own-field storage semantics: no hour→day rollup), character
# subscripts on string-RETURNING functions, literal→BOOLEAN cast
# exactness (t/f/1/0/true/false, NO trim, no yes/no), RANGE value
# frames, WINDOW-clause frame overrides. Documented-not-fixed: TIME
# arithmetic (Spark has no TIME type; bare literals render), column-
# typed string→BOOLEAN casts keep Spark's wider accept set.
CORPUS_R8_BATCH31 = [
    """SELECT r_regionkey, u
       FROM region, unnest([r_regionkey, r_regionkey * 10]) AS t(u)
       ORDER BY r_regionkey, u""",
    """SELECT r_regionkey, u FROM region CROSS JOIN unnest([1, 2]) AS t(u)
       ORDER BY r_regionkey, u""",
    """SELECT date_part('hour', INTERVAL 90 MINUTE) AS h,
              date_part('day', INTERVAL 50 HOUR) AS d,
              date_part('hour', INTERVAL 50 HOUR) AS h2,
              date_part('minute', INTERVAL 3661 SECOND) AS m,
              date_part('second', INTERVAL 3661 SECOND) AS s,
              date_part('month', INTERVAL 26 MONTH) AS mo,
              date_part('year', INTERVAL 26 MONTH) AS y""",
    """SELECT upper('abc')[1] AS u, lower('ABC')[2] AS l,
              trim(' x ')[1] AS t, ('hello')[2] AS h,
              concat('ab','cd')[2:3] AS c""",
    """SELECT TRY_CAST('t' AS BOOLEAN) AS a, TRY_CAST('f' AS BOOLEAN) AS b,
              TRY_CAST('TRUE' AS BOOLEAN) AS c,
              TRY_CAST(' true ' AS BOOLEAN) AS d,
              TRY_CAST('1' AS BOOLEAN) AS e, TRY_CAST('yes' AS BOOLEAN) AS f,
              CAST('0' AS BOOLEAN) AS g""",
    # probed-green anchors
    """SELECT n_nationkey, sum(n_nationkey) OVER (ORDER BY n_nationkey
              RANGE BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS s
       FROM nation ORDER BY n_nationkey""",
    """SELECT first_value(v RESPECT NULLS) OVER (ORDER BY k) AS f
       FROM (VALUES (1, CAST(NULL AS INT)), (2, 5)) t(k, v) LIMIT 1""",
    """SELECT n_nationkey, row_number() OVER (PARTITION BY n_regionkey
              ORDER BY n_nationkey) AS rn
       FROM nation QUALIFY rn = 1 ORDER BY n_nationkey""",
    """SELECT 'ABC' = 'abc' COLLATE NOCASE AS e""",
    """SELECT {'a': 5, 'b': 'x'}['a'] AS a,
              struct_extract({'a': 7}, 'a') AS b,
              struct_insert({'a': 1}, b := 2) AS s""",
    """SELECT [{'a': 1}, {'a': 2}][2]['a'] AS v,
              max({'k': n_nationkey}) AS m FROM nation""",
    """SELECT min_by(o_orderkey, o_totalprice) AS mb,
              max_by(o_orderkey, o_totalprice) AS xb FROM orders""",
    """SELECT DISTINCT ON (n_regionkey % 2) n_nationkey, n_regionkey
       FROM nation ORDER BY n_regionkey % 2, n_nationkey""",
    """SELECT * FROM (VALUES (1, NULL), (NULL, 'x')) t(a, b)
       ORDER BY a NULLS LAST""",
    """SELECT sum(CAST(o_totalprice AS DECIMAL(12,2))) AS s FROM orders""",
]


@pytest.mark.parametrize(
    "sql", CORPUS_R8_BATCH31, ids=range(len(CORPUS_R8_BATCH31))
)
def test_differential_batch31(engines, sql):
    spark, con = engines
    spark_rows = [tuple(r) for r in spark.sql(transpile(sql)).collect()]
    duck_rows = con.execute(sql).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


# round-8 hunt batch 34: JSON function depth — 2-arg json_keys, list-
# of-paths json_extract, json_quote, json_transform/from_json structure
# specs (named_struct+CAST so DuckDB's string->number coercion
# survives; Spark's from_json alone NULLs quoted numbers), CAST(x AS
# JSON) as validated-string type. Documented-not-fixed: CAST AS JSON
# skips DuckDB's parse-time validation (invalid text passes through).
CORPUS_R8_BATCH34 = [
    """SELECT json_keys('{"a":1,"b":{"c":2}}', 'b') AS k,
              json_keys('{"a":1,"b":2}') AS top""",
    """SELECT json_quote('hi') AS q, json_quote(1) AS n""",
    """SELECT json_extract('{"a":1,"b":2}', ['$.a','$.b']) AS l""",
    """SELECT json_transform('{"a":"1","b":"x"}',
              '{"a":"INTEGER","b":"VARCHAR"}') AS t""",
    """SELECT json_transform('{"a":{"c":"2"},"b":[1,2]}',
              '{"a":{"c":"INTEGER"},"b":["INTEGER"]}') AS t2""",
    """SELECT from_json('{"a":[1,2]}', '{"a":["INTEGER"]}') AS f""",
    """SELECT CAST('{"x": 5}' AS JSON) IS NOT NULL AS ok""",
    """SELECT '{"a":{"b":[1,2,3]}}'->'a'->'b'->>1 AS x,
              json_extract('{"a":[{"b":7}]}', '$.a[0].b') AS p""",
    """SELECT json_type('{"a":1}') AS t, json_type('[1]') AS a,
              json_type('"s"') AS s, json_type('1') AS n,
              json_array_length('{"a":[1,2,3]}', '$.a') AS al""",
    """SELECT json_merge_patch('{"a":1,"b":2}', '{"b":null,"c":3}') AS m,
              json_contains('{"a":[1,2]}', '2') AS c""",
]


@pytest.mark.parametrize(
    "sql", CORPUS_R8_BATCH34, ids=range(len(CORPUS_R8_BATCH34))
)
def test_differential_batch34(engines, sql):
    spark, con = engines
    spark_rows = [tuple(r) for r in spark.sql(transpile(sql)).collect()]
    duck_rows = con.execute(sql).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


# round-8 hunt batch 35: @ prefix absolute value, 1-arg encode/decode,
# BLOB literal casts (\xNN escapes are BYTES, not text), like_escape
# function family (operator lowering through the literal-resolving
# ESCAPE pass), md5_number_lower/upper (little-endian digest halves),
# list_value/array_value, multi-part date_part (struct out), plus
# aggregate anchors (fsum/favg/bit aggs/quantile alias/variance).
CORPUS_R8_BATCH35 = [
    """SELECT @(-5) AS a, @(-2.5) AS b, @7 AS c""",
    """SELECT decode(encode('héllo')) AS r, octet_length(encode('é')) AS o""",
    """SELECT octet_length('\\xAA\\xBBc'::BLOB) AS n""",
    """SELECT like_escape('a_c', 'a\\_c', '\\') AS e,
              not_like_escape('abc', 'a\\_c', '\\') AS ne,
              ilike_escape('A_C', 'a\\_c', '\\') AS ie,
              not_ilike_escape('A_C', 'a\\_c', '\\') AS nie""",
    """SELECT CAST(md5_number_lower('abc') AS VARCHAR) AS lo,
              CAST(md5_number_upper('abc') AS VARCHAR) AS hi""",
    """SELECT list_value(1,2,3) AS l, array_value('a','b') AS av,
              list_resize([1,2], 4) AS r, list_resize([1], 3, 9) AS f""",
    """SELECT date_part(['year','month'], DATE '2024-03-05') AS p""",
    """SELECT bit_and(n_nationkey) AS a, bit_or(n_nationkey) AS o,
              bit_xor(n_nationkey) AS x FROM nation""",
    """SELECT quantile(o_totalprice, 0.5) = quantile_disc(o_totalprice, 0.5)
              AS ok,
              round(favg(o_totalprice), 4) = round(avg(o_totalprice), 4)
              AS favg_ok
       FROM orders""",
    """SELECT round(var_samp(o_totalprice), 2) AS vs,
              round(var_pop(o_totalprice), 2) AS vp,
              median(x) AS m
       FROM orders, (VALUES (1),(2),(3),(4)) t(x)
       GROUP BY ALL ORDER BY m""",
    """SELECT n_nationkey, lag(n_nationkey, -1) OVER (ORDER BY n_nationkey)
              AS l FROM nation ORDER BY n_nationkey LIMIT 3""",
    """SELECT regexp_escape('a.b*c') AS e, printf('%5d|%-5s|', 42, 'ab')
              AS p""",
    """SELECT datetrunc('month', DATE '2024-03-15') AS d,
              datepart('year', DATE '2024-03-15') AS y,
              century(DATE '2001-01-01') AS c""",
]


@pytest.mark.parametrize(
    "sql", CORPUS_R8_BATCH35, ids=range(len(CORPUS_R8_BATCH35))
)
def test_differential_batch35(engines, sql):
    spark, con = engines
    spark_rows = [tuple(r) for r in spark.sql(transpile(sql)).collect()]
    duck_rows = con.execute(sql).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


# round-8 hunt batch 36: arg_max/arg_min/min_by/max_by NULL-value
# skipping (DuckDB ignores rows whose value is NULL; Spark's max_by
# returns them), numeric-literal → integer cast ROUNDING (3.7::INT = 4
# half-away; double-typed columns keep Spark truncation — documented),
# chained star modifiers (* EXCLUDE … REPLACE …), #N positional ORDER
# BY references. Documented-not-fixed: COLUMNS(*)/COLUMNS(lambda)
# forms need live schema (engine path provides it; bare transpile
# can't), deep mixed subscript chains after a struct-key access revert
# to Spark indexing, CAST('x' AS BOOLEAN)'s wider accept set on columns.
CORPUS_R8_BATCH36 = [
    """SELECT arg_max(v, k) AS am, arg_min(v, k) AS an
       FROM (VALUES (1, 1), (NULL, 2), (3, 0)) t(v, k)""",
    """SELECT max_by(v, k) AS am, min_by(v, k) AS an
       FROM (VALUES (1, 1), (NULL, 2), (NULL, 0)) t(v, k)""",
    """SELECT 3.7::INTEGER::VARCHAR AS s, CAST(3.5 AS INT) AS a,
              CAST(2.5 AS INT) AS b, CAST(-3.5 AS INT) AS c,
              TRY_CAST(3.7 AS BIGINT) AS d""",
    """SELECT * EXCLUDE (r_name) REPLACE (r_regionkey*2 AS r_regionkey)
       FROM region ORDER BY r_regionkey LIMIT 2""",
    """SELECT r_name FROM region ORDER BY #1 DESC LIMIT 1""",
    # probed-green anchors
    """SELECT region.* FROM region ORDER BY r_regionkey LIMIT 1""",
    """SELECT r.* EXCLUDE (r_name) FROM region r
       ORDER BY r_regionkey LIMIT 2""",
    """SELECT struct_pack(a := 1, b := 'x') AS s,
              union_value(num := 2) IS NOT NULL AS ok""",
    """SELECT o_orderstatus AS s, CAST(count(*) AS BIGINT) AS n
       FROM orders GROUP BY ALL ORDER BY ALL""",
    """SELECT o_orderstatus AS s, o_orderpriority AS p,
              CAST(count(*) AS BIGINT) AS n
       FROM orders GROUP BY GROUPING SETS ((o_orderstatus),
              (o_orderstatus, o_orderpriority), ())
       ORDER BY s NULLS LAST, p NULLS LAST LIMIT 12""",
    """SELECT percentile_cont([0.25, 0.75])
              WITHIN GROUP (ORDER BY o_totalprice) AS p FROM orders""",
    """SELECT INTERVAL 10 HOUR / 2 = INTERVAL 5 HOUR AS ok""",
    """SELECT count(*) FILTER (o_orderstatus = 'F') AS f FROM orders""",
    """SELECT [1,2,3] @> [1,2] AS a, [1] <@ [1,2] AS b, [9] @> [1] AS c""",
    """SELECT @(-5) + @(-3) AS s, @(-2.5) AS b, @7 AS c""",
]


@pytest.mark.parametrize(
    "sql", CORPUS_R8_BATCH36, ids=range(len(CORPUS_R8_BATCH36))
)
def test_differential_batch36(engines, sql):
    spark, con = engines
    spark_rows = [tuple(r) for r in spark.sql(transpile(sql)).collect()]
    duck_rows = con.execute(sql).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


# Round-9 advisor fixes: combined ANSI OFFSET..FETCH ordering, unary-@
# span bounds at comparison/concat/keyword operators, schema-qualified
# function calls.
CORPUS_R9_BATCH37 = [
    """SELECT o_orderkey FROM orders ORDER BY o_orderkey
       OFFSET 3 ROWS FETCH NEXT 4 ROWS ONLY""",
    """SELECT r_name FROM region ORDER BY r_regionkey
       OFFSET 1 LIMIT 2""",
    """SELECT @(-2) > 1 AS a, @(-2) IN (2) AS b, @(-2) || 'a' AS c""",
    """SELECT count(*) AS n FROM orders WHERE @(o_orderkey - 10) = 2""",
    """SELECT @(-3) BETWEEN 2 AND 4 AS a, @(-2) IS NOT NULL AS b""",
    """SELECT main.lower('XY') AS a, main.len('abc') AS b""",
    """SELECT main.upper(r_name) AS u FROM region
       ORDER BY r_regionkey LIMIT 2""",
    # chain-call regression anchors alongside the qualifier fix
    """SELECT ('  x  ').trim().upper() AS t,
              r_name.lower() AS l FROM region ORDER BY r_regionkey LIMIT 2""",
]


@pytest.mark.parametrize(
    "sql", CORPUS_R9_BATCH37, ids=range(len(CORPUS_R9_BATCH37))
)
def test_differential_batch37(engines, sql):
    spark, con = engines
    spark_rows = [tuple(r) for r in spark.sql(transpile(sql)).collect()]
    duck_rows = con.execute(sql).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


# Round-9: sliding-frame EXCLUDE for sum/count/avg (collect/filter
# restructure) and DISTINCT window aggregates under exclusion — DuckDB
# v1.0 supports these forms, so they differential-test directly.
CORPUS_R9_BATCH38 = [
    """SELECT o_orderkey, sum(o_custkey) OVER (ORDER BY o_orderkey
         ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING EXCLUDE GROUP) AS s
       FROM orders WHERE o_orderkey < 120 ORDER BY o_orderkey""",
    """SELECT o_orderkey, avg(o_totalprice) OVER (ORDER BY o_orderstatus
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
         EXCLUDE TIES) AS a
       FROM orders WHERE o_orderkey < 60 ORDER BY o_orderkey""",
    """SELECT o_orderkey, count(o_custkey) OVER (ORDER BY o_orderstatus
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
         EXCLUDE GROUP) AS c
       FROM orders WHERE o_orderkey < 60 ORDER BY o_orderkey""",
    """SELECT o_orderkey, count(*) OVER (ORDER BY o_orderstatus
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
         EXCLUDE GROUP) AS c
       FROM orders WHERE o_orderkey < 60 ORDER BY o_orderkey""",
    """SELECT o_orderkey, CAST(sum(DISTINCT o_custkey % 5) OVER (
         ORDER BY o_orderkey ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING
         EXCLUDE CURRENT ROW) AS BIGINT) AS s
       FROM orders WHERE o_orderkey < 120 ORDER BY o_orderkey""",
    """SELECT o_orderkey, count(DISTINCT o_custkey % 3) OVER (
         ORDER BY o_orderkey ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING
         EXCLUDE CURRENT ROW) AS c
       FROM orders WHERE o_orderkey < 120 ORDER BY o_orderkey""",
    """SELECT o_orderkey, CAST(sum(DISTINCT o_custkey % 4) OVER (
         ORDER BY o_orderstatus RANGE BETWEEN UNBOUNDED PRECEDING AND
         CURRENT ROW EXCLUDE GROUP) AS BIGINT) AS s
       FROM orders WHERE o_orderkey < 60 ORDER BY o_orderkey""",
    """SELECT o_orderkey, min(o_totalprice) OVER (ORDER BY o_totalprice,
         o_orderkey ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING
         EXCLUDE NO OTHERS) AS m
       FROM orders WHERE o_orderkey < 60 ORDER BY o_orderkey""",
]


@pytest.mark.parametrize(
    "sql", CORPUS_R9_BATCH38, ids=range(len(CORPUS_R9_BATCH38))
)
def test_differential_batch38(engines, sql):
    spark, con = engines
    spark_rows = [tuple(r) for r in spark.sql(transpile(sql)).collect()]
    duck_rows = con.execute(sql).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


# Round-9 hunt wave 39: unnest-in-expression mapping, multi-key in-call
# ORDER BY for list/array_agg/string_agg, %-X strftime, list_cat,
# regexp_split_to_table, extract(dayofyear), julian() typing — plus
# probed-green anchors (row-value comparisons, struct star expansion,
# expression LIMIT, schema-qualified TABLE statement path shapes).
CORPUS_R9_BATCH39 = [
    """SELECT UNNEST([1,2]) + 10 AS u""",
    """SELECT upper(unnest(['a','b'])) AS u""",
    """SELECT n_regionkey, unnest([1,2]) * n_regionkey AS u FROM nation
       WHERE n_nationkey < 3""",
    """SELECT array_agg(n_name ORDER BY n_regionkey DESC, n_nationkey) AS l
       FROM nation WHERE n_nationkey < 6""",
    """SELECT string_agg(n_name, '|' ORDER BY n_regionkey, n_nationkey DESC) AS sa
       FROM nation WHERE n_nationkey < 6""",
    """SELECT strftime(DATE '2024-03-05', '%-d/%-m/%Y') AS s,
              strftime(TIMESTAMP '2024-03-05 04:07:09', '%-H:%-M:%-S') AS t""",
    """SELECT list_cat([1],[2]) AS l""",
    """SELECT regexp_split_to_table('a,b,c', ',') AS piece""",
    """SELECT EXTRACT(dayofyear FROM DATE '2024-02-01') AS doy,
              EXTRACT(dow FROM DATE '2024-03-03') AS dow,
              EXTRACT(isodow FROM DATE '2024-03-03') AS iso""",
    """SELECT julian(DATE '2024-03-05') AS j""",
    # probed-green anchors
    """SELECT (1, 2) < (1, 3) AS lt, count(DISTINCT (n_regionkey, n_nationkey % 2)) AS c
       FROM nation""",
    """SELECT s.* FROM (SELECT {'a': 1, 'b': 'z'} AS s) sub""",
    """SELECT n_name FROM nation ORDER BY n_nationkey LIMIT 2+1""",
    """SELECT trim('xxaxx', 'x') AS a, ltrim('xxa', 'x') AS b,
              rtrim('axx', 'x') AS c, ascii('€') AS cp""",
    """SELECT split_part('a,b,c', ',', 0) AS z,
              split_part('a,b,c', ',', -1) AS n,
              left('hello', -2) AS l, right('hello', -2) AS r""",
    """SELECT list_where([10,20,30], [true,false,true]) AS w,
              list_select([10,20,30], [3,1]) AS sel""",
    """SELECT damerau_levenshtein('abc','acb') AS d,
              mismatches('abc','abd') AS m, to_base(255, 16) AS b""",
    """SELECT make_timestamp(2024, 3, 5, 10, 30, 21.5) AS ts,
              last_day(DATE '2024-02-05') AS ld,
              epoch_ms(1700000000000) AS e""",
]


@pytest.mark.parametrize(
    "sql", CORPUS_R9_BATCH39, ids=range(len(CORPUS_R9_BATCH39))
)
def test_differential_batch39(engines, sql):
    spark, con = engines
    spark_rows = [tuple(r) for r in spark.sql(transpile(sql)).collect()]
    duck_rows = con.execute(sql).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


# Round-9 hunt wave 40: literal spellings ('' quote doubling under raw
# mode — a silent wrong-VALUE divergence — plus $$..$$, e'..', numeric
# separators, leading-dot decimals), dynamic INTERVAL counts, GROUP BY
# (), paren-operand :: casts, multi-key first/last, quantile in-call
# ORDER BY, bare SEMI/ANTI JOIN anchors.
CORPUS_R9_BATCH40 = [
    """SELECT 'it''s' AS a, 'both''and"too' AS b, $$dollar 'q'$$ AS dq""",
    """SELECT 'don''t' LIKE '%n''t' AS m,
              replace('it''s', '''', '!') AS r""",
    """SELECT e'tab\there' AS esc""",
    """SELECT 1_000_000 AS sep, .5 AS dot5, 2e3 AS sci""",
    """SELECT (o_orderstatus || '')::VARCHAR AS v FROM orders
       ORDER BY o_orderkey LIMIT 2""",
    """SELECT o_orderkey, CAST(o_orderdate + INTERVAL (o_orderkey % 3) DAY
              AS DATE) AS d
       FROM orders ORDER BY o_orderkey LIMIT 5""",
    """SELECT count(*) AS c FROM orders GROUP BY ()""",
    """SELECT first(o_orderkey ORDER BY o_orderstatus, o_orderkey DESC) AS f,
              last(o_orderstatus ORDER BY o_orderstatus DESC, o_orderkey) AS l
       FROM orders WHERE o_orderkey < 50""",
    """SELECT quantile_cont(o_totalprice, 0.5 ORDER BY o_totalprice) AS q,
              median(o_totalprice ORDER BY o_totalprice DESC) AS m
       FROM orders""",
    # probed-green anchors
    """SELECT o.o_orderkey FROM orders o SEMI JOIN
       (SELECT 1 AS o_orderkey) u USING (o_orderkey)""",
    """SELECT count(*) AS c FROM orders o ANTI JOIN
       (SELECT 1 AS o_orderkey) u USING (o_orderkey)""",
    """SELECT geomean(o_orderkey + 1) AS g FROM orders
       WHERE o_orderkey < 100""",
    """SELECT chr(8364) AS c, chr(65) AS a""",
    """SELECT any_value(o_orderkey ORDER BY o_orderkey DESC) AS av
       FROM orders""",
]


@pytest.mark.parametrize(
    "sql", CORPUS_R9_BATCH40, ids=range(len(CORPUS_R9_BATCH40))
)
def test_differential_batch40(engines, sql):
    spark, con = engines
    spark_rows = [tuple(r) for r in spark.sql(transpile(sql)).collect()]
    duck_rows = con.execute(sql).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


# Round-9 hunt wave 41: arithmetic function spellings, constant_or_null,
# alias(), session-identity introspection, setseed no-op; anchors for
# count_if / COLLATE / string_split empties / list family.
CORPUS_R9_BATCH41 = [
    """SELECT divide(7, 2) AS d, divide(7.5, 2) AS df, add(1,2) AS a,
              multiply(3,4) AS m, subtract(5,2) AS sb""",
    """SELECT constant_or_null(5, 1, NULL) AS c,
              constant_or_null(5, 1, 2) AS c2""",
    # alias() without an outer AS (DuckDB rebinds it to the select
    # item's alias when one is present — documented divergence)
    """SELECT alias(n_name) FROM nation LIMIT 1""",
    """SELECT current_schema() AS cs, current_database() AS cd""",
    """SELECT setseed(0.5) AS s""",
    """SELECT count_if(n_nationkey > 3) AS c FROM nation""",
    """SELECT string_split('a b  c', ' ') AS ss""",
    """SELECT array_pop_back([1,2,3]) AS pb, array_pop_front([1,2,3]) AS pf,
              list_position([7,8,9], 9) AS lp, flatten([[1,2],[3]]) AS f,
              list_has_all([1,2,3],[2,3]) AS ha""",
]


@pytest.mark.parametrize(
    "sql", CORPUS_R9_BATCH41, ids=range(len(CORPUS_R9_BATCH41))
)
def test_differential_batch41(engines, sql):
    spark, con = engines
    spark_rows = [tuple(r) for r in spark.sql(transpile(sql)).collect()]
    duck_rows = con.execute(sql).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


# Round-10 ADVICE fixes + literal-lexer rewrite: DISTINCT unnest-in-
# expression, literal spellings nested inside OTHER literal kinds (the
# left-to-right lexer — pre-r10 the three regex passes leaked stash
# placeholders for '$$abc$$' and ' e''x'''), and frame/DISTINCT EXCLUDE
# anchors with explicit frames (frameless EXCLUDE is pinned separately:
# DuckDB v1.0 itself rejects it).
CORPUS_R10_BATCH42 = [
    """SELECT DISTINCT unnest([1,2,2,3]) + 1 AS v ORDER BY v""",
    """SELECT DISTINCT upper(unnest(['a','b','a'])) AS v ORDER BY v""",
    # dollar-quote / e-string SPELLINGS inside plain literals stay text
    """SELECT '$$abc$$' AS a, '$t$x$t$' AS b, 'a$x$b' AS c""",
    """SELECT ' e''ab''' AS a, 'e''x''' AS b""",
    # real dollar-quotes and e-strings adjacent to plain literals
    """SELECT $$dollar body$$ AS a, 'plain' AS b,
              $tag$with 'quotes' inside$tag$ AS c""",
    """SELECT e'a\\tb' AS a, 'lit''eral' AS b, e'it''s' AS c""",
    # DISTINCT agg + EXCLUDE with an explicit default-equivalent frame
    """SELECT g, y, sum(DISTINCT x) OVER (PARTITION BY g ORDER BY y
         RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         EXCLUDE CURRENT ROW) AS s
       FROM (VALUES (1,1,10),(1,2,10),(1,3,20),(2,1,5),(2,2,5)) t(g,y,x)
       ORDER BY g, y""",
    """SELECT g, y, count(DISTINCT x) OVER (PARTITION BY g ORDER BY y
         RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         EXCLUDE GROUP) AS c
       FROM (VALUES (1,1,10),(1,1,10),(1,3,20),(2,1,5),(2,2,5)) t(g,y,x)
       ORDER BY g, y""",
]


@pytest.mark.parametrize(
    "sql", CORPUS_R10_BATCH42, ids=range(len(CORPUS_R10_BATCH42))
)
def test_differential_batch42(engines, sql):
    spark, con = engines
    spark_rows = [tuple(r) for r in spark.sql(transpile(sql)).collect()]
    duck_rows = con.execute(sql).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


def test_frameless_exclude_pinned(engines):
    """Frameless EXCLUDE (``OVER (PARTITION BY g ORDER BY y EXCLUDE …)``)
    is a parse error in DuckDB v1.0 (frame exclusion requires a frame
    clause), so it can't be differential-tested directly. The engine
    accepts it leniently with default-frame semantics; pin against
    DuckDB running the EXPLICIT default frame (RANGE UNBOUNDED
    PRECEDING..CURRENT ROW), which is what 'default frame' means with
    an ORDER BY. Covers the ADVICE r9 defect (DISTINCT+EXCLUDE consumed
    by rewrite_window_distinct emitted unparsable EXCLUDE) plus the
    min/max frameless shapes."""
    spark, con = engines
    V = ("FROM (VALUES (1,1,10),(1,2,10),(1,2,25),(1,3,20),(2,1,5),"
         "(2,2,5)) t(g,y,x) ORDER BY g, y, x")
    for fn, dist, mode in [
        ("sum", "DISTINCT ", "CURRENT ROW"),
        ("count", "DISTINCT ", "GROUP"),
        ("avg", "DISTINCT ", "TIES"),
        ("min", "DISTINCT ", "CURRENT ROW"),
        ("max", "", "GROUP"),
        ("min", "", "TIES"),
    ]:
        ours = (f"SELECT g, y, x, {fn}({dist}x) OVER (PARTITION BY g "
                f"ORDER BY y EXCLUDE {mode}) AS m {V}")
        duck = (f"SELECT g, y, x, {fn}({dist}x) OVER (PARTITION BY g "
                f"ORDER BY y RANGE BETWEEN UNBOUNDED PRECEDING AND "
                f"CURRENT ROW EXCLUDE {mode}) AS m {V}")
        # positional compare (the ORDER BY is total) with numerics as
        # float: Spark's DISTINCT-sum accumulates in DOUBLE (35.0) where
        # DuckDB returns HUGEINT (35) — equal values, different reprs,
        # which would misalign _rowset's repr sort
        def _val(v):
            return (
                float(v)
                if isinstance(v, (int, float, decimal.Decimal))
                and not isinstance(v, bool)
                else v
            )

        spark_rows = [
            tuple(_val(v) for v in r)
            for r in spark.sql(transpile(ours)).collect()
        ]
        duck_rows = [
            tuple(_val(v) for v in r) for r in con.execute(duck).fetchall()
        ]
        assert spark_rows == duck_rows, (fn, dist, mode)


# Round-10 hunt wave 42 (~90 surfaces probed across 3 sweeps): quoted
# identifiers, typed literals, string→int cast rounding, bare DECIMAL
# default, list-family 1-based subscripts, unicode identifiers.
CORPUS_R10_BATCH43 = [
    # double-quoted identifiers are IDENTIFIERS (DuckDB has no "…"
    # string form) — aliases, references, table names, keywords
    """SELECT r_name AS "Weird Name" FROM region
       ORDER BY "Weird Name" LIMIT 2""",
    """SELECT r_name AS "sel""ect" FROM region ORDER BY 1 LIMIT 1""",
    """SELECT "r_name" FROM "region" ORDER BY "r_name" LIMIT 2""",
    """SELECT 1 AS "from", 2 AS "group" """,
    """SELECT "nation"."n_name" FROM nation ORDER BY 1 LIMIT 2""",
    """SELECT '"not an ident"' AS s, "r_name" FROM region
       ORDER BY 2 LIMIT 1""",
    # bare unicode identifiers (Spark wants backticks)
    """SELECT 1 AS ümläut""",
    # typed literals beyond DATE/TIMESTAMP
    """SELECT INTEGER '42' AS a, DOUBLE '3.5' AS b, BOOLEAN 'true' AS c,
              VARCHAR 'xy' AS v""",
    """SELECT BIGINT '9007199254740993' AS big""",
    """SELECT DECIMAL '4.5' AS d""",
    # DuckDB ROUNDS string→int casts half away from zero; Spark
    # truncates / try_cast NULLs — literal operands computed exactly
    """SELECT '12.7'::INTEGER AS r, '12.5'::INT AS h,
              '-0.5'::BIGINT AS n, '1e2'::INTEGER AS e""",
    """SELECT TRY_CAST('12.7' AS INTEGER) AS t""",
    # list-family producers now carry 1-based subscripts
    """SELECT list(n_name ORDER BY n_nationkey)[1] AS f FROM nation""",
    """SELECT list(n_name ORDER BY n_nationkey DESC)[1] AS f
       FROM nation""",
    """SELECT list_value(7,8,9)[2] AS v, list_concat([1],[2,3])[3] AS c,
              array_pop_back([1,2,3])[2] AS p,
              list_reverse([1,2,3])[1] AS r,
              str_split('a b c', ' ')[2] AS s""",
    # anchors probed green in the wave
    """SELECT last_day(DATE '2024-02-05') AS ld,
              date_part('isodow', DATE '2024-01-07') AS iso,
              week(DATE '2024-01-04') AS w""",
    """SELECT bit_and(n_nationkey) AS ba, bool_or(n_nationkey > 20) AS bo,
              product(n_nationkey + 1) AS p
       FROM nation WHERE n_nationkey < 5""",
    """SELECT even(2.5) AS e1, even(-2.5) AS e2, gcd(12, 18) AS g,
              lcm(4, 6) AS l, cbrt(27) AS c""",
    """SELECT regexp_replace('aaa', 'a', 'b') AS r1,
              regexp_replace('aaa', 'a', 'b', 'g') AS rg,
              strip_accents('café') AS sa""",
    """SELECT list_reduce([1,2,3], (a, b) -> a + b) AS lr,
              [x * 2 FOR x IN [1,2,3] IF x > 1] AS lc,
              list_unique([1,1,2]) AS lu""",
]


@pytest.mark.parametrize(
    "sql", CORPUS_R10_BATCH43, ids=range(len(CORPUS_R10_BATCH43))
)
def test_differential_batch43(engines, sql):
    spark, con = engines
    spark_rows = [tuple(r) for r in spark.sql(transpile(sql)).collect()]
    duck_rows = con.execute(sql).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


def test_quoted_alias_column_name_parity(engines):
    """Result COLUMN NAMES must match DuckDB for quoted aliases (the
    driver's compare sorts columns by name)."""
    spark, con = engines
    sql = 'SELECT 1 AS "Weird Name", 2 AS "sel""ect"'
    assert spark.sql(transpile(sql)).columns == [
        c[0] for c in con.execute(sql).description
    ]


# Round-10 hunt wave 43 (~85 surfaces probed): JSON constructors and
# pointer paths, ::JSON feeding arrows (an 8-round-old silent corruption:
# the type NAME was lexed as the arrow operand), special DATE/TIMESTAMP
# input strings, anchors.
CORPUS_R10_BATCH44 = [
    """SELECT json_extract('{"a":[1,2]}', '/a/1') AS ptr,
              json_extract('{"a":{"b":2}}', '/a/b') AS p2""",
    """SELECT json('{"a": 1,  "b":2}') AS canon""",
    """SELECT json_array(1, 'x', NULL) AS ja, json_array() AS empty""",
    """SELECT json_object('a', 1, 'b', 'x') AS jo, json_object() AS eo,
              json_object('k', NULL) AS kn""",
    """SELECT '{"a":1}'::JSON ->> 'a' AS x""",
    """SELECT '{"a":{"b":5}}'::JSON -> 'a' ->> 'b' AS y""",
    """SELECT '{"a":{"b":{"c":7}}}'::JSON -> 'a' -> 'b' ->> 'c' AS y3""",
    """SELECT '[1,2,3]'::JSON ->> 1 AS idx""",
    """SELECT CAST('{"a":1}' AS JSON) ->> 'a' AS z""",
    """SELECT upper('{"k":9}') -> 'k' AS u""",
    # special date/timestamp input strings (silent NULL before wave 43)
    """SELECT 'infinity'::DATE > DATE '2024-01-01' AS a,
              '-infinity'::DATE < DATE '1900-01-01' AS b""",
    """SELECT 'epoch'::DATE AS e, 'epoch'::TIMESTAMP AS et""",
    """SELECT TRY_CAST('infinity' AS TIMESTAMP) > TIMESTAMP '2024-01-01' AS t""",
    # anchors probed green in the wave
    """SELECT json_array_length('[1,2,3]') AS l, json_valid('nope') AS nv,
              json_keys('{"a":1,"b":2}') AS k""",
    """SELECT json_merge_patch('{"a":1}', '{"b":2}') AS m,
              json_structure('{"a":1,"b":"x"}') AS s""",
    """SELECT encode('abc') AS e, decode(encode('xyz')) AS d,
              octet_length('abc'::BLOB) AS o""",
    """SELECT regexp_extract('2024-05-06', '(\\d+)-(\\d+)', 2) AS g2,
              regexp_full_match('abc', 'a.c') AS fm,
              regexp_escape('a.b*c') AS esc""",
    """SELECT extract(epoch FROM TIMESTAMP '2024-01-01 00:00:10') AS e,
              extract(microsecond FROM TIMESTAMP '2024-01-01 00:00:10.5') AS us""",
    """SELECT time_bucket(INTERVAL 15 MINUTE, TIMESTAMP '2024-01-01 10:22:00') AS tb,
              strptime('05/03/2024', '%d/%m/%Y') AS p,
              try_strptime('bogus', '%d/%m/%Y') AS tp""",
    """SELECT 5 & 3 AS ba, 5 | 3 AS bo, ~5 AS bn, 1 << 4 AS sl,
              16 >> 2 AS sr, bit_count(7) AS bc""",
    """SELECT mod(-7, 3) AS m, round(2.345, 2) AS r2, 1.0/0.0 AS fd""",
]


@pytest.mark.parametrize(
    "sql", CORPUS_R10_BATCH44, ids=range(len(CORPUS_R10_BATCH44))
)
def test_differential_batch44(engines, sql):
    spark, con = engines
    spark_rows = [tuple(r) for r in spark.sql(transpile(sql)).collect()]
    duck_rows = con.execute(sql).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


# Round-10 hunt wave 44 (~70 surfaces probed): quantified ordering
# subqueries, searched-CASE bare NULL, decimal literal cast rounding,
# anchors.
CORPUS_R10_BATCH45 = [
    """SELECT n_name FROM nation
       WHERE n_nationkey > ALL (SELECT r_regionkey FROM region)
       ORDER BY 1 LIMIT 3""",
    """SELECT n_name FROM nation
       WHERE n_nationkey <= ALL (SELECT r_regionkey FROM region)
       ORDER BY 1""",
    """SELECT n_name FROM nation
       WHERE n_nationkey < ANY (SELECT r_regionkey FROM region)
       ORDER BY 1""",
    """SELECT 5 > ALL (SELECT x FROM (VALUES (1),(NULL)) t(x)) AS a,
              0 > ALL (SELECT x FROM (VALUES (1),(NULL)) t(x)) AS b,
              NULL > ALL (SELECT x FROM (VALUES (1)) t(x)) AS c""",
    """SELECT 5 > ALL (SELECT x FROM (VALUES (7)) t(x) WHERE x < 0) AS ea,
              5 > ANY (SELECT x FROM (VALUES (7)) t(x) WHERE x < 0) AS eb,
              5 > ANY (SELECT x FROM (VALUES (NULL::INT)) t(x)) AS nn""",
    """SELECT 3 = ALL (SELECT x FROM (VALUES (3),(3)) t(x)) AS e1,
              3 = ALL (SELECT x FROM (VALUES (3),(4)) t(x)) AS e2,
              3 <> ANY (SELECT x FROM (VALUES (3),(4)) t(x)) AS e3""",
    """SELECT CASE WHEN NULL THEN 'x' ELSE 'y' END AS c""",
    # decimal-literal casts: DuckDB truncates scale reduction, rounds
    # half-away for int targets — incl. parenthesized negatives
    """SELECT CAST(123.456 AS DECIMAL(6,2)) AS d,
              123.465::DECIMAL(6,2) AS d2,
              (-123.456)::DECIMAL(6,2) AS d3""",
    """SELECT (-3.5)::INT AS i, 3.5::INT AS j, (-0.5)::BIGINT AS k""",
    # anchors probed green
    """SELECT percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice) AS p
       FROM orders""",
    """SELECT quantile_cont(o_totalprice, [0.25, 0.5, 0.75]) AS qs
       FROM orders""",
    """SELECT n_regionkey, n_nationkey % 2 AS par, count(*) AS c
       FROM nation GROUP BY GROUPING SETS ((n_regionkey), (par), ())
       ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""",
    """SELECT n_name, x FROM nation CROSS JOIN LATERAL
       (SELECT unnest([n_nationkey, n_nationkey+1]) AS x) t
       ORDER BY n_name, x LIMIT 4""",
    """SELECT x FROM (VALUES (1),(1),(2)) t(x)
       INTERSECT ALL SELECT y FROM (VALUES (1),(1),(3)) s(y) ORDER BY 1""",
    """SELECT DISTINCT ON (n_regionkey) n_regionkey, n_name FROM nation
       ORDER BY n_regionkey, n_name DESC""",
    """SELECT split_part('a,b,c', ',', 2) AS sp,
              concat_ws('-', 'a', NULL, 'b') AS cw,
              trim('xxaxx', 'x') AS t2""",
]


@pytest.mark.parametrize(
    "sql", CORPUS_R10_BATCH45, ids=range(len(CORPUS_R10_BATCH45))
)
def test_differential_batch45(engines, sql):
    spark, con = engines
    spark_rows = [tuple(r) for r in spark.sql(transpile(sql)).collect()]
    duck_rows = con.execute(sql).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


# Round-10 hunt wave 46: MAP brace-literal subscripts, the full slice-
# bound surface (open/negative/mixed-sign, fuzz-verified 300 pairs),
# JSON arrow list-of-paths, UUID casts, sem(), exact Kahan aggregates,
# calendar-exact bare age(), plus ~70 probed-green anchors.
CORPUS_R10_BATCH46 = [
    # MAP literal subscript returns a LIST ([] when missing) — the
    # function-call base was handled; the brace spelling was a silent
    # scalar
    """SELECT MAP {'k': 5}['k'] AS v, MAP {'k': 5}['x'] AS w""",
    # slice bounds: open ends, negative open ends, zero bounds,
    # mixed-sign, overshoot — strings and lists
    """SELECT 'abcdef'[2:] AS a, 'abcdef'[:3] AS b, 'abcdef'[-3:] AS c,
              'abcdef'[:-2] AS d, 'abcdef'[:] AS e, 'abcdef'[0:3] AS f,
              'abcdef'[2:-2] AS g, 'abcdef'[-7:4] AS h, 'abcdef'[3:0] AS i""",
    """SELECT ([1,2,3,4,5])[2:] AS a, ([1,2,3,4,5])[:2] AS b,
              ([1,2,3,4,5])[-2:] AS c, ([1,2,3,4,5])[:-2] AS d,
              ([1,2,3,4,5])[2:-2] AS e, ([1,2,3,4,5])[-8:-3] AS f,
              ([1,2,3,4,5])[-4:3] AS g, ([1,2,3,4,5])[0:] AS h""",
    # JSON arrows with a LIST of paths → list of extractions
    """SELECT '{"a":1,"b":{"c":2}}' -> ['a','b'] AS j,
              '{"a":1,"b":2}' ->> ['a','b'] AS t,
              '[10,20]' ->> ['$[0]','$[1]'] AS ix""",
    # UUID cast: DuckDB parses + re-renders lowercase; engine lowers to
    # a lower-cased string (no UUID cell type)
    """SELECT 'A0EEBC99-9C0B-4EF8-BB6D-6BB9BD380A11'::UUID AS u,
              try_cast('a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11' AS UUID) AS v""",
    # sem = stddev_POP/sqrt(n) (probed); fsum/favg exact via
    # DECIMAL(38,10) accumulation
    """SELECT round(sem(o_totalprice), 6) AS s FROM orders""",
    """SELECT fsum(o_totalprice) AS f, favg(o_totalprice) AS a FROM orders""",
    # bare age(): calendar decomposition (year/month borrow from the
    # EARLIER operand's month length), flattened with 30-day months —
    # DuckDB's own client timedelta convention; sign-symmetric
    """SELECT age(TIMESTAMP '2024-03-01', TIMESTAMP '2023-01-15') AS a1,
              age(TIMESTAMP '2023-01-15', TIMESTAMP '2024-03-01') AS a2,
              age(TIMESTAMP '2024-03-01 06:30:00',
                  TIMESTAMP '2024-02-28 12:45:10') AS a3,
              age(DATE '2024-03-30', DATE '2024-01-31') AS a4""",
    # ---- anchors probed green in wave 46 ----
    """SELECT (r_name).lower() AS v, ('ab' || 'cd').upper() AS w
       FROM region ORDER BY r_regionkey""",
    """SELECT x, lag(y IGNORE NULLS) OVER (ORDER BY x) AS p,
              first_value(y IGNORE NULLS) OVER (ORDER BY x) AS f
       FROM (VALUES (1,10),(2,NULL),(3,30),(4,NULL)) t(x,y) ORDER BY x""",
    """SELECT SUBSTRING('abcdef' FROM 2 FOR 3) AS s,
              POSITION('cd' IN 'abcdef') AS p,
              TRIM(LEADING 'x' FROM 'xxaxx') AS a,
              TRIM(TRAILING 'x' FROM 'xxaxx') AS b,
              TRIM(BOTH 'x' FROM 'xxaxx') AS c""",
    """SELECT DATE '2024-01-01' + 5 AS d, DATE '2024-01-10' - 3 AS e,
              DATE '2024-03-01' - DATE '2024-01-01' AS days,
              DATE '2024-01-01' + INTERVAL 1 MONTH * 3 AS m""",
    """SELECT n_nationkey FROM nation ORDER BY 1 LIMIT 2+3""",
    """SELECT n_nationkey FROM nation ORDER BY 1 OFFSET 20""",
    """SELECT count(*) AS c FROM nation
       WHERE (n_regionkey, n_nationkey % 2) IN ((1, 0), (2, 1))""",
    """SELECT (1,2) < (1,3) AS a, (2,1) <= (1,9) AS b,
              ROW(1,'x') = ROW(1,'x') AS e""",
    """SELECT regexp_extract('2024-03-05', '(\\d+)-(\\d+)-(\\d+)',
                             ['y','m','d']) AS s,
              regexp_extract('abc123', '([a-z]+)(\\d+)', 2) AS g2""",
    """SELECT map_entries(MAP {'a': 1}) AS e,
              cardinality(MAP {'a':1,'b':2}) AS c""",
    """SELECT round(1234.5, -2) AS a, round(1250, -2) AS b,
              log(2, 8) AS l2, log10(100) AS l10, log2(8) AS lb""",
    """SELECT greatest(1, NULL, 3) AS g, least(NULL, NULL) AS l,
              greatest('a', 'b') AS s""",
    """SELECT round(mad(o_totalprice), 4) AS mad,
              round(kurtosis(o_totalprice), 6) AS k,
              round(skewness(o_totalprice), 6) AS sk,
              bit_xor(n_nationkey) AS bx
       FROM orders, nation""",
    """SELECT quantile_disc(o_totalprice, [0.1, 0.9]) AS q FROM orders""",
    """SELECT mode(x) AS m FROM (VALUES (1),(2),(2)) t(x)""",
    """SELECT printf('%d-%s-%.2f', 7, 'x', 3.14159) AS s,
              format('{} and {}', 1, 'two') AS f,
              translate('abcba', 'ab', 'xy') AS t""",
    """SELECT to_base(255, 16) AS h, bin(5) AS b, hex(255) AS x,
              ascii('A') AS a, chr(66) AS c, unicode('€') AS u""",
    """SELECT left('abcdef', -2) AS l, right('abcdef', -2) AS r,
              repeat('ab', 3) AS rep, reverse('abc') AS rev,
              lpad('5', 3, '0') AS lp, rpad('5', 3, '*') AS rp""",
    """SELECT md5('abc') AS m, sha256('abc') AS s""",
    """SELECT damerau_levenshtein('ca', 'abc') AS d,
              hamming('abc', 'abd') AS h, jaccard('abc', 'abd') AS j""",
    """SELECT regexp_split_to_array('a1b22c', '\\d+') AS a,
              string_split_regex('a1b2', '\\d') AS b""",
    """SELECT round(list_cosine_similarity([1.0,2.0], [2.0,4.0]), 6) AS c,
              list_distance([0.0,0.0], [3.0,4.0]) AS d,
              list_dot_product([1.0,2.0], [3.0,4.0]) AS p""",
    """SELECT list_grade_up([30,10,20]) AS g,
              list_reverse_sort([1,3,2]) AS r,
              flatten([[1,2],[3]]) AS f,
              list_sort(list_intersect([1,2,3], [2,3,4])) AS i""",
    """SELECT list_resize([1,2], 4, 0) AS r,
              list_where([10,20,30], [true,false,true]) AS w,
              list_select([10,20,30], [3,1]) AS sel,
              list_sum([1,2,3]) AS s, list_min([3,1]) AS mn""",
    """SELECT array_agg(DISTINCT n_regionkey ORDER BY n_regionkey DESC) AS l
       FROM nation""",
    """SELECT unnest({'a': 1, 'b': 'x'})""",
    """SELECT unnest([[1,2],[3]], recursive := true) AS v""",
    """SELECT generate_subscripts([10,20,30], 1) AS i""",
    """SELECT * FROM range(DATE '2024-01-01', DATE '2024-04-01',
                           INTERVAL 1 MONTH) t(d)""",
    """SELECT count(*) AS c FROM range(TIMESTAMP '2024-01-01',
              TIMESTAMP '2024-01-02', INTERVAL 4 HOUR)""",
    """SELECT 'ab'::BLOB AS b, octet_length('ab'::BLOB) AS n""",
    """SELECT count(*) FILTER (n_regionkey = 1) AS c FROM nation""",
    """SELECT s.* FROM (SELECT {'a': 1, 'b': 'x'} AS s) t""",
    """SELECT extract(month FROM INTERVAL 14 MONTH) AS m""",
    """SELECT date_trunc('quarter', DATE '2024-05-05') AS q,
              date_trunc('decade', DATE '2024-05-05') AS d""",
    """SELECT date_diff('day', DATE '2024-01-01', DATE '2024-03-01') AS dd,
              date_sub('month', DATE '2024-01-15', DATE '2024-03-20') AS ds""",
    """SELECT epoch_ms(TIMESTAMP '2024-01-01 00:00:01') AS ms,
              epoch(TIMESTAMP '2024-01-01 00:00:01') AS s,
              julian(DATE '2024-01-01') AS j""",
    """SELECT make_timestamp(2024, 3, 5, 6, 7, 8.5) AS ts,
              dayname(DATE '2024-03-05') AS d,
              monthname(DATE '2024-03-05') AS m,
              weekofyear(DATE '2024-03-05') AS w""",
]


@pytest.mark.parametrize(
    "sql", CORPUS_R10_BATCH46, ids=range(len(CORPUS_R10_BATCH46))
)
def test_differential_batch46(engines, sql):
    spark, con = engines
    spark_rows = [tuple(r) for r in spark.sql(transpile(sql)).collect()]
    duck_rows = con.execute(sql).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


# Round-10 hunt wave 47 (~65 surfaces probed): typed-literal pg-casts,
# list element access, any_value NULL-skipping, positional
# struct_extract, time_bucket origins, plus anchors.
CORPUS_R10_BATCH47 = [
    # TIMESTAMP 'x'::VARCHAR bound the keyword OUTSIDE the cast (parse
    # error since round 2 — the typed literal binds first)
    """SELECT TIMESTAMP '2024-01-01 12:34:56.789123'::VARCHAR AS s,
              DATE '2024-03-01'::VARCHAR AS d,
              TIMESTAMP '2024-01-01 00:00:00'::DATE AS dd""",
    # list_extract/list_element: 1-based, negative from end, NULL OOB
    """SELECT list_extract([10,20,30], 2) AS e, list_element([10,20], 1) AS el,
              list_extract([10,20], -1) AS ln, list_extract([1], 9) AS oob""",
    # any_value skips NULLs in DuckDB
    """SELECT any_value(x) AS a FROM (VALUES (NULL),(3),(4)) t(x)""",
    # struct_extract by position (unnamed row()/struct() tuples)
    """SELECT struct_extract(row(7,'x'), 1) AS f,
              struct_extract(row(7,'x'), 2) AS g,
              struct_extract({'a': 42}, 'a') AS h""",
    # time_bucket with a DATE/TIMESTAMP origin (was loud)
    """SELECT time_bucket(INTERVAL 7 DAY, DATE '2024-03-05',
                          DATE '2024-01-01') AS b,
              time_bucket(INTERVAL 4 HOUR, TIMESTAMP '2024-03-05 13:00:00',
                          TIMESTAMP '2024-01-01 01:00:00') AS h,
              time_bucket(INTERVAL 2 WEEK, DATE '2024-03-05',
                          DATE '2024-01-08') AS w""",
    # ---- anchors probed green in wave 47 ----
    """SELECT 1 / 0 AS a, 1.0 / 0.0 AS b, 5 % 0 AS c, 5 // 0 AS d""",
    """SELECT strpos('hello','l') AS p, instr('hello','l') AS i,
              prefix('abcd','ab') AS pf, suffix('abcd','cd') AS sf,
              starts_with('abcd','ab') AS sw, ends_with('abcd','cd') AS ew""",
    """SELECT format_bytes(1234567) AS f, bar(3, 0, 10, 10) AS b,
              nextafter(1.0, 2.0) AS n, signbit(-0.5) AS s""",
    """SELECT list_has_any([1,2],[2,3]) AS a, list_has_all([1,2,3],[2,3]) AS b,
              list_position([10,20,30], 20) AS p, list_indexof([10,20],99) AS m,
              list_unique([1,1,2,NULL]) AS u, list_any_value([NULL,5,6]) AS av""",
    """SELECT list_reduce([1,2,3], (a,b) -> a+b) AS r,
              struct_insert({'a':1}, b := 2) AS s""",
    """SELECT count(DISTINCT (n_regionkey, n_nationkey % 3)) AS c FROM nation""",
    """SELECT first(n_name ORDER BY n_nationkey DESC) AS f,
              last(n_name ORDER BY n_nationkey) AS l,
              string_agg(n_name ORDER BY n_name) AS sa
       FROM nation""",
    """SELECT round(corr(o_totalprice, o_orderkey), 6) AS c,
              round(covar_samp(o_totalprice, o_orderkey), 2) AS cs
       FROM orders""",
    """SELECT n_nationkey, median(n_nationkey) OVER (PARTITION BY n_regionkey) AS m,
              lead(n_name, -1) OVER (ORDER BY n_nationkey) AS p,
              nth_value(n_name, 2) OVER (ORDER BY n_nationkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS nv
       FROM nation ORDER BY n_nationkey LIMIT 5""",
    """SELECT o_orderkey, count(*) OVER (ORDER BY o_orderdate
         RANGE BETWEEN INTERVAL 3 DAY PRECEDING AND CURRENT ROW) AS c
       FROM orders ORDER BY o_orderkey LIMIT 5""",
    """SELECT count(*) AS c FROM nation HAVING count(*) > 3""",
    """SELECT n_regionkey + 1 AS g, count(*) AS c FROM nation
       GROUP BY g ORDER BY g""",
    """SELECT * FROM (VALUES (1,'a'),(2,'b')) t(k, x)
       FULL JOIN (VALUES (2,'B'),(3,'C')) s(k, y) USING (k)
       ORDER BY k NULLS FIRST""",
    """SELECT 5 BETWEEN 10 AND 1 AS a,
              NULL IS NOT DISTINCT FROM NULL AS b,
              1 IN (2, NULL) AS c, 1 NOT IN (2, NULL) AS d,
              CASE WHEN 1=2 THEN 'x' END AS e""",
    """SELECT true::INT AS a, 1::BOOLEAN AS b, 'true'::BOOLEAN AS c,
              't'::BOOLEAN AS d, - -5 AS e, 'ab' || NULL AS n""",
    """SELECT last_day(TIMESTAMP '2024-02-10 10:00:00') AS d,
              greatest(DATE '2024-01-01', DATE '2023-05-05') AS g,
              INTERVAL 2 DAY > INTERVAL 1 DAY AS c,
              extract(week FROM DATE '2024-01-01') AS w,
              extract(isoyear FROM DATE '2024-01-01') AS iy""",
]


@pytest.mark.parametrize(
    "sql", CORPUS_R10_BATCH47, ids=range(len(CORPUS_R10_BATCH47))
)
def test_differential_batch47(engines, sql):
    spark, con = engines
    spark_rows = [tuple(r) for r in spark.sql(transpile(sql)).collect()]
    duck_rows = con.execute(sql).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)


def test_file_table_functions_parity(engines, sf_dir):
    """glob/read_blob/read_text (wave 47): value parity with DuckDB on
    the same local files — counts, sizes, and UTF-8 content lengths."""
    from vscode_parquet_visualizer_spark.plans.sql_gateway import run_sql

    spark, con = engines
    for sql in (
        f"SELECT count(*) AS c FROM glob('{sf_dir}/*.parquet')",
        f"SELECT filename, size FROM read_blob('{sf_dir}/region.parquet')",
    ):
        duck = con.execute(sql).fetchall()
        got = [tuple(r) for r in run_sql(spark, sql).collect()]
        assert sorted(got) == sorted(duck), sql
    # read_text decodes UTF-8: length(content) counts CHARACTERS while
    # size counts bytes — both must match DuckDB exactly
    sql = "SELECT length(content) AS n, size FROM read_text('/root/repo/README.md')"
    assert (
        [tuple(r) for r in run_sql(spark, sql).collect()]
        == con.execute(sql).fetchall()
    )


# Round-10 hunt wave 48 (~45 expression surfaces + statement sweep —
# statement fixes tested in test_sql_gateway): slash-date literals,
# plus anchors.
CORPUS_R10_BATCH48 = [
    # DuckDB parses slash-separated date strings; Spark CAST silently
    # NULLed them (wrong-value class)
    """SELECT '2024/03/05'::DATE AS d, '2024/3/5'::DATE AS e,
              '2024/03/05 10:11:12'::TIMESTAMP AS t,
              DATE '2024/3/5' AS f,
              try_cast('2024/13/05' AS DATE) AS bad""",
    # ---- anchors probed green in wave 48 ----
    """SELECT date_part('dow', DATE '2024-03-03') AS sun,
              date_part('dow', DATE '2024-03-04') AS mon,
              dayofweek(DATE '2024-03-03') AS dw,
              week(DATE '2024-01-01') AS w""",
    """SELECT [1,2] < [1,3] AS a, [1,2] = [1,2] AS b, [2] > [1,9] AS c,
              {'a':1} < {'a':2} AS d, row(1,2) < row(1,3) AS e""",
    """SELECT [1,2] || [3] AS l, [1,2]::DOUBLE[] AS d, ['1','2']::INT[] AS i,
              {'a':1}::STRUCT(a DOUBLE) AS s""",
    """SELECT split_part('a,b,c', ',', -1) AS sp,
              array_slice('abcdef', 2, 4) AS ss,
              list_slice([1,2,3,4,5], 2, 4) AS a,
              list_slice([1,2,3,4,5], 2, NULL) AS b,
              list_slice([1,2,3,4,5], 2, 4, 2) AS c""",
    """SELECT format('{:.2f}|{:>6}|{:04d}', 3.14159, 'x', 42) AS f,
              printf('%10d|%-5s|%05.1f', 42, 'ab', 3.14) AS p""",
    """SELECT regexp_matches('abc123', '[a-z]+\\d') AS m,
              regexp_extract_all('a1b2', '([a-z])(\\d)', 2) AS g""",
    """SELECT strptime('2024-03-05 06:07:08.123456',
                       '%Y-%m-%d %H:%M:%S.%f') AS ts,
              try_strptime('bogus', '%Y') AS n,
              strftime(DATE '2024-03-05', '%a %b %j') AS s""",
    """SELECT median(x) AS m FROM (VALUES (1),(2),(3),(4)) t(x)""",
    """SELECT product(x) AS p, bool_and(x > 1.0) AS a, bool_or(x > 3.0) AS o
       FROM (VALUES (2.0),(3.0),(4.0)) t(x)""",
    """SELECT '1e3'::DOUBLE::INT AS v, 'ab'::BLOB::VARCHAR AS b""",
    """SELECT n_nationkey, sum(n_nationkey) OVER
         (ORDER BY n_nationkey ROWS 2 PRECEDING) AS s
       FROM nation ORDER BY n_nationkey LIMIT 4""",
    """SELECT x, first_value(y RESPECT NULLS) OVER (ORDER BY x) AS f,
              row_number() OVER (ORDER BY y DESC) AS r
       FROM (VALUES (1,NULL),(2,20),(3,30)) t(x,y) ORDER BY x""",
    """SELECT 'a_b' LIKE 'a!_b' ESCAPE '!' AS e,
              '50%' LIKE '50|%' ESCAPE '|' AS p""",
    """SELECT n_regionkey, grouping(n_regionkey) AS g FROM nation
       GROUP BY ROLLUP (n_regionkey) ORDER BY 1 NULLS LAST, 2""",
    """SELECT r_name FROM region WHERE EXISTS
         (SELECT 1 FROM nation WHERE n_regionkey = r_regionkey
          AND n_nationkey > 20) ORDER BY 1""",
    """SELECT array_to_string([1,2,3], '-') AS s,
              list_aggregate(['x','y'], 'string_agg', ',') AS l""",
    # nested same-name calls: every level gets the one lowering
    # (floored fmod/fdiv with a negative divisor, DuckDB's trim
    # argument order, NULL-skipping concat, first-element-seeded fold)
    """SELECT fmod(fmod(7, -2), 3) AS f""",
    """SELECT fdiv(fdiv(fdiv(7, 3), 3), -2) AS f""",
    """SELECT trim(trim('abcba', 'a'), 'b') AS t""",
    """SELECT concat(upper(concat(CAST(NULL AS VARCHAR), 'a')), 'b') AS c""",
    """SELECT list_reduce([list_reduce([list_reduce([1, 2],
              (x, y) -> x + y), 3], (x, y) -> x * y), 4],
              (x, y) -> x - y) AS r""",
    # list_reduce and reduce share one lowering: NULL elements reach the
    # lambda, the fold is seeded with the first element, row-dependent
    # lists come from a table
    """SELECT r_regionkey,
              list_reduce([r_regionkey, NULL, 2],
                          (x, y) -> coalesce(x, 10) * coalesce(y, 3)) AS a,
              list_reduce(split(r_name, 'A'), (x, y) -> y || '|' || x) AS b
       FROM region""",
    """SELECT r_regionkey,
              reduce([r_regionkey, r_regionkey + 1, NULL],
                     (x, y) -> coalesce(y, x) - x) AS a,
              reduce(['x', r_name, NULL], (x, y) -> concat(x, lower(y))) AS b
       FROM region""",
]


@pytest.mark.parametrize(
    "sql", CORPUS_R10_BATCH48, ids=range(len(CORPUS_R10_BATCH48))
)
def test_differential_batch48(engines, sql):
    spark, con = engines
    spark_rows = [tuple(r) for r in spark.sql(transpile(sql)).collect()]
    duck_rows = con.execute(sql).fetchall()
    assert _rowset(spark_rows) == _rowset(duck_rows)
