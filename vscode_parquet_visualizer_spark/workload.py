"""Query workload: every operator from SURVEY.md §2 (plus the
training-data pipeline extensions) as a named (spark_fn, oracle_sql) pair.

``QUERIES[name]`` is a callable ``(spark, sf_dir) -> DataFrame``; most are
idiomatic DataFrame plans, some are Spark SQL where the SQL surface itself
is the thing under test (CTEs, grouping sets, correlated subqueries…).
``ORACLES[name]`` is the DuckDB-runnable ANSI SQL producing the same rows
(column names aligned; omitted for ops that aren't SQL-expressible —
those get the driver's weaker rows-only check).

Determinism rules applied throughout (why hash-matching works):
- every float that is *computed* (not read raw) is rounded at a precision
  far below the engines' accumulation noise;
- every LIMIT/top-k has a total order (unique tiebreaker column);
- timestamps are compared at ≥ millisecond granularity via epoch_ms
  (events.parquet carries ns, Spark truncates to µs — SURVEY.md §1.3);
- rank/row_number cast to BIGINT (DuckDB window fns return BIGINT).
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from vscode_parquet_visualizer_spark.operators import curation as cu
from vscode_parquet_visualizer_spark.operators import dedup as dd
from vscode_parquet_visualizer_spark.operators import multimodal as mm
from vscode_parquet_visualizer_spark.operators import quantiles as quant
from vscode_parquet_visualizer_spark.operators import search as search_ops
from vscode_parquet_visualizer_spark.operators import similarity as sim
from vscode_parquet_visualizer_spark.operators import text as tx
from vscode_parquet_visualizer_spark.operators.asof import asof_join
from vscode_parquet_visualizer_spark.functions import metadata
from vscode_parquet_visualizer_spark.sources import registry

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

_table_cache: dict[tuple[int, str], dict[str, DataFrame]] = {}
_current_views: dict[int, str] = {}

# Tables worth keeping hot across the workload run. At sf0.1 this is a few
# hundred MB; on a cluster persist() spills per-executor — the same
# run-once-read-many shape the reference gets from its CTAS result table.
_HOT = {"lineitem", "orders", "customer", "events", "documents", "embeddings"}

# ... capped at an on-disk size where caching stops making sense: a fixed
# 32 GiB, not derived from RAM (about twice a 16 GB machine's RAM; there
# MEMORY_AND_DISK spills what the heap cannot hold). Controlled
# in-process A/B at the 100×-scale crossover (2.4 GB input, warm cache
# both ways): persist 39.9 s vs direct pruned scans 44.0 s over the 8
# heaviest queries — the full-column in-memory cache beats re-decoding
# parquet as long as it fits, and MEMORY_AND_DISK degrades gracefully
# near the cap.
_PERSIST_MAX_BYTES = 32 * 1024**3

# Keyed cache partitioning — the in-memory analogue of bucketed storage.
# Every heavy workload join runs lineitem⋈orders on orderkey and then
# hangs customer off o_custkey; caching those three hash-partitioned on
# their join key gives both sides matching HashPartitioning, so
# EnsureRequirements plans the fact join with NO exchange at all — the
# 60 M-row lineitem shuffle disappears from every orderkey join
# (measured at the 100× crossover: q02 4.9 s → 2.1 s warm). The
# partition count must MATCH across the trio or the exchange comes
# back, so all three use the largest table's size-derived count. At
# 100 TB the same layout is a bucketed (or Z-ordered) table on disk;
# the cache build pays the one shuffle that every query then skips.
_CACHE_KEYS = {
    "lineitem": "l_orderkey",
    "orders": "o_orderkey",
    "customer": "c_custkey",
}


def _table_bytes(path: str) -> int:
    if os.path.isdir(path):
        # recursive: partitioned tables nest files under key=value dirs
        return sum(
            os.path.getsize(os.path.join(root, f))
            for root, _dirs, files in os.walk(path)
            for f in files
            if f.endswith(".parquet")
        )
    try:
        return os.path.getsize(path)
    except OSError:
        return 0


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Read all testdata tables, register temp views, and keep one shared
    (persisted) DataFrame per table so the ~47-query workload scans each
    parquet file once instead of once per query."""
    key = (id(spark), sf_dir)
    cached = _table_cache.get(key)
    if cached is not None:
        # Re-bind the temp views if another sf_dir was loaded on this
        # session in between (SQL-based queries resolve by view name).
        if _current_views.get(id(spark)) != sf_dir:
            for t, df in cached.items():
                df.createOrReplaceTempView(t)
            _current_views[id(spark)] = sf_dir
        return cached
    # Defensive for sessions not built by session.get_spark: date_trunc /
    # CAST-to-DATE bucketing on tz-aware timestamps must agree with the
    # (tz-naive) DuckDB oracle, so pin the session to UTC; and ship the
    # package so Python workers can unpickle our UDF closures whatever the
    # driver's cwd is.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # NTZ-flagged parquet timestamps (isAdjustedToUTC=false) must land as
    # TimestampType so epoch functions resolve; same wall clock under UTC.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # Standard-SQL (raw) string literals to match the DuckDB oracle's
    # interpretation of identical query text.
    spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    from vscode_parquet_visualizer_spark.session import ship_package

    ship_package(spark)
    # Vanilla sessions (the driver's) never pass through session.get_spark,
    # so the SQL compat shims (json_structure, jaro_winkler, ...) must be
    # registered here too; register() is idempotent per-session.
    from vscode_parquet_visualizer_spark.functions import udf_compat

    udf_compat.register(spark)
    from pyspark import StorageLevel

    out = {}
    cores = spark.sparkContext.defaultParallelism

    def _want(path: str) -> int:
        return min(cores, max(8, _table_bytes(path) // (8 << 20)))

    # Shared count for the keyed trio (see _CACHE_KEYS): exchange-free
    # joins need equal numPartitions on both sides.
    keyed_want = max(_want(f"{sf_dir}/{t}.parquet") for t in _CACHE_KEYS)
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        df = registry.read(spark, path, "parquet")
        if t in _HOT and _table_bytes(path) <= _PERSIST_MAX_BYTES:
            # A small file scans as ONE split, so every expression over
            # the cached table runs single-core (measured: lang_id over
            # 5k docs 1.3 s → 0.36 s at 32-way). Rebalance once at
            # persist time — the cache then serves parallel partitions
            # to every query. Scan-order-sensitive gates (positional
            # join) use nation/region, which are not _HOT, so their
            # file order survives.
            # Partition count ∝ data size, floored at 8: a 32-task stage
            # over a few-MB cached table pays ~0.1 s of pure task
            # scheduling per scan (measured; full-bench A/B at sf0.1:
            # 20.7 s at 32-way vs 16.2 s at 8-way), while big tables
            # still fan out to every core — at sf1+ the ratio drives
            # partitions back to `cores`, which is the 100 TB posture.
            parts = df.rdd.getNumPartitions()
            want = _want(path)
            key_col = _CACHE_KEYS.get(t)
            if key_col is not None and key_col in df.columns:
                df = df.repartition(keyed_want, key_col)
            elif parts < want:
                df = df.repartition(want)
            elif parts > max(want, cores):
                df = df.coalesce(want)
            df = df.persist(StorageLevel.MEMORY_AND_DISK)
        df.createOrReplaceTempView(t)
        out[t] = df
    _table_cache[key] = out
    _current_views[id(spark)] = sf_dir
    return out


_projection_cache: dict[tuple[int, str], DataFrame] = {}


def lineitem_partkey_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A cached 4-column slice of lineitem hash-partitioned on
    ``l_partkey`` — the in-memory analogue of a C-Store/Vertica-style
    bucketed PROJECTION (on a cluster: a bucketed derived table written
    once beside the base data). The base cache is keyed on l_orderkey
    for the orderkey fact joins (_CACHE_KEYS); partkey-keyed analytics
    (q17's decorrelated avg-per-part probe, q66's exact-distinct
    (flag, partkey) dedup) would otherwise re-shuffle all of lineitem
    per query — the single largest exchange in the workload at sf10.
    HashPartitioning(l_partkey) satisfies any ClusteredDistribution
    whose keys INCLUDE l_partkey, so both the groupBy(l_partkey) agg,
    the probe join, and dropDuplicates(flag, partkey) plan with zero
    exchanges. Built lazily from the (already cached) base table; one
    exchange at build time, amortized across every partkey query."""
    key = (id(spark), sf_dir)
    proj = _projection_cache.get(key)
    if proj is not None:
        return proj
    from pyspark import StorageLevel

    t = load_tables(spark, sf_dir)
    cores = spark.sparkContext.defaultParallelism
    path = f"{sf_dir}/lineitem.parquet"
    parts = min(cores, max(8, _table_bytes(path) // (8 << 20)))
    proj = (
        t["lineitem"]
        .select(
            "l_partkey", "l_quantity", "l_extendedprice", "l_returnflag"
        )
        .repartition(parts, "l_partkey")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    _projection_cache[key] = proj
    return proj


def events_props_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A cached (event_type, k) slice of events with the ``props`` JSON
    field ``k`` parsed ONCE at build — schema-on-write for a hot JSON
    path. Spark's get_json_object re-parses the string per row per
    query (codegen'd, but still the whole cost: q31 at sf10 measured
    1.84 s, DuckDB's vectorized parser 0.08 s); materializing the typed
    column turns every later read into a plain int scan. On a 100 TB
    deployment this is the standard derived-column pattern — frequently
    queried JSON paths get extracted to typed parquet columns at ingest
    and the raw string stays for cold paths. Built lazily off the
    (already cached) events table; no repartition — the ≤25-group agg
    that consumes it needs no co-location."""
    key = (id(spark), f"{sf_dir}#props_k")
    proj = _projection_cache.get(key)
    if proj is not None:
        return proj
    from pyspark import StorageLevel

    t = load_tables(spark, sf_dir)
    proj = (
        t["events"]
        .select(
            "event_type",
            F.get_json_object("props", "$.k").cast("int").alias("k"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    _projection_cache[key] = proj
    return proj


def lineitem_nation_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A cached (c_nationkey, s_nationkey, rev) slice of lineitem with
    both dimension KEYS denormalized onto the fact at build time — the
    star-schema analogue of events_props_projection's schema-on-write:
    frequently-probed dim foreign keys get resolved to typed int
    columns once (orders ride the exchange-free orderkey co-partition;
    customer/supplier key maps broadcast as 2-int rows), and every
    two-dim rollup after that is a plain 3-column scan + 625-group
    partial agg with no joins at all. ``rev`` is pre-cast to the exact
    DECIMAL(18,4) accumulator the gates sum. On a 100 TB deployment
    this is a derived fact table written at ingest; here it's built
    lazily off the cached base tables — one lineitem pass, amortized
    across reps/queries."""
    key = (id(spark), f"{sf_dir}#nat_keys")
    proj = _projection_cache.get(key)
    if proj is not None:
        return proj
    from pyspark import StorageLevel

    t = load_tables(spark, sf_dir)
    cust = t["customer"].select("c_custkey", "c_nationkey")
    supp = t["supplier"].select("s_suppkey", "s_nationkey")
    ord_k = (
        t["orders"]
        .select("o_orderkey", "o_custkey", "o_orderdate")
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "c_nationkey", "o_orderdate")
    )
    proj = (
        t["lineitem"]
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(ord_k, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "c_nationkey",
            "s_nationkey",
            # o_orderdate rides along (r10): date-sliced per-nation
            # rollups (q02) become zero-join scans of this projection
            # too; the columnar cache prunes it away for consumers that
            # don't read it (q68)
            "o_orderdate",
            F.expr(
                "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18, 4))"
            ).alias("rev"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    _projection_cache[key] = proj
    return proj


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


# Execution mode for the streaming-shaped queries whose INPUT here is a
# static parquet file: 'batch' (default) runs the identical
# transformation as a batch plan — window/session_window/interval joins
# are the same operators and withWatermark is a no-op in batch — because
# data at rest should not pay Structured Streaming's micro-batch +
# state-store floor (round-3 verdict: data-proportional state writes,
# 16.7 s vs 0.12 s batch at sf10). 'stream' runs the incremental plan;
# tests patch this constant to pin the two modes row-for-row equal. A
# LIVE source (kafka, a growing directory) takes the stream path
# regardless — only static file inputs are short-circuited.
_STREAM_MODE = "batch"


def q(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn
    return deco


def sql_query(name: str, sql: str, oracle: str | None = None) -> None:
    """Register a query whose Spark side is the same (or adjusted) SQL."""
    def fn(spark: SparkSession, sf_dir: str, _sql=sql) -> DataFrame:
        load_tables(spark, sf_dir)
        return spark.sql(_sql)
    fn.__name__ = name
    QUERIES[name] = fn
    ORACLES[name] = oracle if oracle is not None else sql


def _rev() -> F.Column:
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


@contextmanager
def _stream_profile(spark: SparkSession, sf_dir: str):
    """Size the streaming state-store partition count to the input.

    Every shuffle partition of a stateful streaming query carries its own
    state-store instance whose init/commit cost dominates at interactive
    scale (measured at sf0.1: q70 3.8 s @ 8 partitions → 2.4 s @ 2;
    q72 2.9 → 1.4) — but starving a big input of partitions serializes
    the state work (measured at sf1, 1 M events: q72 sessionize 16.2 s
    @ 2 partitions → 9.8 s @ 8 → 8.4 s @ 32; the round-3 fixed 2-below-
    256 MB rule cost q72 66 s at sf10). Graduate: one partition per
    ~2 MiB of events, floored at 2 (store init is ~0.1-0.2 s each),
    capped at the machine's cores. Beyond local mode the session's
    configured parallelism already reflects cluster size and the cap
    binds only there."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    events_bytes = _table_bytes(f"{sf_dir}/events.parquet")
    cores = spark.sparkContext.defaultParallelism
    parts = max(2, min(cores, events_bytes // (2 * 1024 * 1024)))
    if parts < int(old):
        spark.conf.set(key, str(parts))
    elif events_bytes >= 16 * 1024 * 1024:
        # big enough that state-work parallelism beats per-store cost
        spark.conf.set(key, str(parts))
    try:
        yield
    finally:
        spark.conf.set(key, old)


# ---------------------------------------------------------------------------
# Relational core (SURVEY.md §2B): aggregation, joins, windows, set ops …
# ---------------------------------------------------------------------------

@q(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice) / 1000.0, 2) AS sum_base_price_k,
           round(sum(l_extendedprice * (1 - l_discount)) / 1000.0, 2) AS sum_disc_price_k,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) / 1000.0, 2) AS sum_charge_k,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01(spark, sf_dir):
    """TPC-H Q1 shape: scan-filter-aggregate. Filter pushes to the parquet
    scan; partial aggregation map-side — the shuffle carries 6 groups."""
    t = load_tables(spark, sf_dir)
    return (
        t["lineitem"]
        .filter(F.col("l_shipdate") <= F.lit("1998-09-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice") / 1000.0, 2).alias("sum_base_price_k"),
            F.round(F.sum(_rev()) / 1000.0, 2).alias("sum_disc_price_k"),
            F.round(F.sum(_rev() * (1 + F.col("l_tax"))) / 1000.0, 2).alias("sum_charge_k"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@q(
    "q02_regional_revenue",
    """
    SELECT n_name,
           round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18, 4))) AS DOUBLE) / 1000.0, 2) AS revenue_k
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
)
def q02(spark, sf_dir):
    """Per-nation revenue for a date slice, read off
    lineitem_nation_projection (r10): c_nationkey AND o_orderdate were
    denormalized onto the fact at projection build (schema-on-write,
    the q68/q31 precedent), so the per-run plan is a cached 3-column
    scan → date filter → 25-group partial agg — ZERO joins before the
    aggregate; n_name/region attach after it, on 25 rows. The DECIMAL
    accumulator makes the sum exact and order-independent (the product
    has exactly ≤4 decimals), so the oracle hash is stable at every sf.

    History, measured at sf10 (min-of-4, quiet box): 4-join star with
    AQE-boundary repartition 1.64 s / without 1.54 s (r9's repartition
    experiment HURT in isolation: repartitioning 15 M customers cost
    more than the runtime broadcast saved — the r9 crossover number
    never moved because of this); stage decomposition put the
    lineitem⋈orders fact join at 0.79 s and the custkey join at
    +0.7-0.9 s. This projection probe removes both joins: 0.28 s ≈
    0.5× DuckDB's 0.60 s. At 100 TB the projection is the derived fact
    table written at ingest; the date filter prunes its partitions.
    The r8 A/B note (forced customer broadcast rejected at 1000×)
    still stands and now applies to nobody — there is no per-query
    join left to hint."""
    t = load_tables(spark, sf_dir)
    agg = (
        lineitem_nation_projection(spark, sf_dir)
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .groupBy("c_nationkey")
        .agg(F.sum("rev").alias("rv"))
    )
    names = t["nation"].join(
        F.broadcast(t["region"]),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select("n_nationkey", "n_name")
    return (
        agg.join(F.broadcast(names), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            "n_name",
            F.round(F.col("rv").cast("double") / 1000.0, 2).alias("revenue_k"),
        )
    )


@q(
    "q03_shipping_priority",
    """
    SELECT o_orderkey, CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS orderdate,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1997-06-01'
      AND l_shipdate > TIMESTAMP '1997-06-01'
    GROUP BY o_orderkey, CAST(CAST(o_orderdate AS DATE) AS VARCHAR)
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q03(spark, sf_dir):
    """TPC-H Q3 shape: selective dim filter + top-k. The LIMIT has a
    unique tiebreaker so the top-10 set is deterministic."""
    t = load_tables(spark, sf_dir)
    return (
        t["customer"].filter(F.col("c_mktsegment") == "BUILDING")
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate") < F.lit("1997-06-01").cast("timestamp"))
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.lit("1997-06-01").cast("timestamp"))
        .groupBy(
            "o_orderkey",
            F.col("o_orderdate").cast("date").cast("string").alias("orderdate"),
        )
        .agg(F.round(F.sum(_rev()), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@q(
    "q04_order_priority_check",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01' AND o_orderdate < TIMESTAMP '1996-10-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q04(spark, sf_dir):
    """Semi join (EXISTS), shaped around an AQE blind spot: the
    orderkey-co-partitioned cache makes a left_semi plan exchange-free,
    which is exactly why it is SLOW — with no stage boundary AQE never
    sees the filtered slice's real size, the planner can only build a
    semi hash on the RIGHT (all of lineitem), and the fallback SMJ
    sorts 60 M cached rows per run (measured sf10: 8-12 s). Instead:
    broadcast the 3-month orders slice (3 narrow cols, ~1/24 of
    orders) into lineitem, reduce matched pairs per l_orderkey — the
    probe preserves the cache's HashPartitioning(l_orderkey), so that
    agg is exchange-free — then the ≤5-row priority count. EXISTS
    semantics survive as count-of-distinct-matched-orderkeys; priority
    is functionally dependent on orderkey so first() is exact. At true
    100 TB the date slice outgrows broadcast: drop the hint and AQE
    plans a shuffled join off the slice's exchange, keeping the same
    per-orderkey reduce shape."""
    t = load_tables(spark, sf_dir)
    o = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    ).select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = t["lineitem"].select("l_orderkey", "l_shipdate")
    matched = (
        li.join(
            F.broadcast(o),
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "inner",
        )
        .groupBy("l_orderkey")
        .agg(F.first("o_orderpriority").alias("o_orderpriority"))
    )
    return matched.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


@q(
    "q05_top_customers",
    """
    SELECT c_custkey, c_name, n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q05(spark, sf_dir):
    """Top-k revenue per customer, shaped for scale: the fact join runs
    lineitem(R)⋈orders first — exchange-free on the orderkey-partitioned
    caches — and the per-custkey aggregate happens BEFORE customer joins
    in, so the custkey shuffle carries ~1 row per customer instead of
    ~15 rows per order, and no wide c_name strings ride through the fact
    join. The agg's HashPartitioning(custkey) then lines up with the
    custkey-partitioned customer cache: that join is exchange-free too
    (broadcasting 1.5 M customers instead was measured SLOWER — the
    per-run broadcast build of a ~60 MB named-row table costs more than
    the aligned join; without the shuffle_hash hint Catalyst picked
    exactly that broadcast at sf10, 6.6 s vs 2.3 s min-of-4).
    sum-of-sums re-aggregation is exact."""
    t = load_tables(spark, sf_dir)
    per_cust = (
        t["lineitem"]
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .join(
            t["orders"].select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_custkey")
        .agg(F.sum(_rev()).alias("rev"))
    )
    return (
        per_cust.join(
            t["customer"]
            .select("c_custkey", "c_name", "c_nationkey")
            .hint("shuffle_hash"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum("rev"), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@q(
    "q06_revenue_forecast",
    """
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
)
def q06(spark, sf_dir):
    """TPC-H Q6 shape: pure scan + predicate + scalar agg. All three
    predicates push to parquet (min/max row-group skipping)."""
    t = load_tables(spark, sf_dir)
    return (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


@q(
    "q07_customers_without_orders",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def q07(spark, sf_dir):
    """Anti join (NOT EXISTS), distinct-reduced build side: NOT EXISTS
    only needs the SET of o_custkey, and a groupBy dedupes MAP-SIDE
    before the shuffle — ~1M distinct keys move instead of 15M raw
    ones at sf10 (Spark's anti join does no build-side dedup itself).
    Same rows by construction; at 100 TB the shuffle-volume ratio is
    the fact-table's duplication factor."""
    t = load_tables(spark, sf_dir)
    keys = t["orders"].select("o_custkey").distinct()
    return t["customer"].join(
        keys, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    ).select("c_custkey", "c_name")


@q(
    "q08_topk_per_customer",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS BIGINT) AS rn FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders) t
    WHERE rn <= 3
    """,
)
def q08(spark, sf_dir):
    """Top-k per group: the row_number window idiom (one shuffle on the
    partition key; rank filter prunes before anything wide happens)."""
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        t["orders"]
        .select(
            "o_custkey", "o_orderkey", "o_totalprice",
            F.row_number().over(w).cast("bigint").alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@q(
    "q09_running_total",
    """
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
    FROM orders
    """,
)
def q09(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return t["orders"].select(
        "o_custkey", "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


@q(
    "q10_lag_lead",
    """
    SELECT event_id,
           lag(value) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_value,
           lead(value) OVER (PARTITION BY user_id ORDER BY event_id) AS next_value
    FROM events
    """,
)
def q10(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("event_id")
    return t["events"].select(
        "event_id",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
    )


@q(
    "q11_rollup",
    """
    SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
           count(*) AS n
    FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
)
def q11(spark, sf_dir):
    """Two-phase rollup (r11 verdict item 4): Spark plans ROLLUP as an
    Expand that inflates EVERY scan row once per grouping level (3×
    here) BEFORE the partial aggregate — 1.20 s at sf10 (5.3× DuckDB),
    all of it Expand throughput. Aggregate to the finest level first
    (~6 groups over 60 M rows — the Expand-free plan), then roll the
    tiny aggregate up: sum/count are decomposable, so re-aggregating
    group sums is exact (l_quantity is integral, so double addition
    order cannot shift a rounding boundary). At 100 TB the same shape
    holds: the Expand would triple the shuffle-input volume."""
    t = load_tables(spark, sf_dir)
    base = t["lineitem"].groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("__s"), F.count(F.lit(1)).alias("__n")
    )
    return base.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("__s"), 2).alias("sum_qty"),
        F.sum("__n").cast("long").alias("n"),
    )


@q(
    "q12_cube",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           round(avg(o_totalprice), 4) AS avg_price
    FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
)
def q12(spark, sf_dir):
    """Two-phase cube (the q11 Expand class): CUBE plans as a 4× Expand
    of every scan row; aggregate to the finest level first (~15 groups
    over orders), cube the tiny aggregate. avg decomposes as
    sum/count; the double sum re-aggregates over ≤15 partials, far
    below any rounding-boundary magnitude the sf10 sweep flagged."""
    t = load_tables(spark, sf_dir)
    base = t["orders"].groupBy("o_orderstatus", "o_orderpriority").agg(
        F.sum("o_totalprice").alias("__s"), F.count(F.lit(1)).alias("__n")
    )
    return base.cube("o_orderstatus", "o_orderpriority").agg(
        F.sum("__n").cast("long").alias("n"),
        F.round(F.sum("__s") / F.sum("__n"), 4).alias("avg_price"),
    )


@q(
    "q13_grouping_sets",
    """
    SELECT event_type, CAST(CAST(date_trunc('day', ts) AS DATE) AS STRING) AS day,
           count(*) AS n
    FROM events
    GROUP BY GROUPING SETS ((event_type), (CAST(CAST(date_trunc('day', ts) AS DATE) AS STRING)),
                            (event_type, CAST(CAST(date_trunc('day', ts) AS DATE) AS STRING)))
    """,
)
def q13(spark, sf_dir):
    """Two-phase grouping sets (same Expand class as q11): aggregate to
    the finest set (event_type × day — a few hundred groups) first,
    then expand the SETS over the tiny aggregate; counts re-aggregate
    as sums. The naive GROUP BY GROUPING SETS plan Expands every event
    row 3× before the partial aggregate (0.61 s / 9.1× DuckDB at
    sf10)."""
    t = load_tables(spark, sf_dir)
    day = F.date_trunc("day", F.col("ts")).cast("date").cast("string")
    base = t["events"].groupBy(
        F.col("event_type"), day.alias("day")
    ).agg(F.count(F.lit(1)).alias("__n"))
    base.createOrReplaceTempView("__q13_base")
    return spark.sql(
        "SELECT event_type, day, CAST(sum(__n) AS BIGINT) AS n "
        "FROM __q13_base "
        "GROUP BY GROUPING SETS ((event_type), (day), (event_type, day))"
    )

sql_query(
    "q14_setop_except",
    """
    SELECT n_name FROM nation JOIN customer ON c_nationkey = n_nationkey
    EXCEPT
    SELECT n_name FROM nation JOIN supplier ON s_nationkey = n_nationkey
    """,
)

@q(
    "q15_setop_intersect",
    """
    SELECT n_name FROM nation JOIN customer ON c_nationkey = n_nationkey
    INTERSECT
    SELECT n_name FROM nation JOIN supplier ON s_nationkey = n_nationkey
    """,
)
def q15(spark, sf_dir):
    """Distinct-through-join pushdown (r11 verdict item 4): Spark plans
    the INTERSECT by joining first — 1.5 M name-carrying rows flow
    through two joins and a distinct (0.48 s / 11.6× DuckDB at sf10).
    The set operation only needs which NATIONKEYS appear on each side:
    distinct the 25-value key on each fact side (a one-int-column
    scan + tiny shuffle), intersect those, then one broadcast join to
    nation. Catalyst does not push aggregates through joins; at 100 TB
    the naive plan shuffles the whole fact table's name strings."""
    t = load_tables(spark, sf_dir)
    ck = t["customer"].select(F.col("c_nationkey").alias("k")).distinct()
    sk = t["supplier"].select(F.col("s_nationkey").alias("k")).distinct()
    keys = ck.intersect(sk)
    return (
        t["nation"]
        .join(F.broadcast(keys), F.col("n_nationkey") == F.col("k"))
        .select("n_name")
        .distinct()
    )

sql_query(
    "q16_cte",
    """
    WITH big_orders AS (
      SELECT * FROM orders WHERE o_totalprice > 400000
    )
    -- exact-integer cents accumulator + round BEFORE the /1000: a
    -- double-sum hits engine-divergent half-boundary rounding once
    -- magnitudes grow (sf1 sweep, r11 — the q02/q68 lesson). Prices
    -- are 2-decimal, so LONG cents sum exactly in both engines and
    -- round(total, -1)/1000 folds to FLOOR((cents+500)/1000)/100
    -- (see q47's note; replaces the r11 DECIMAL accumulator, which
    -- Spark sums ~2x slower than primitive longs)
    SELECT n_name, count(*) AS n,
           CAST(FLOOR((sum(CAST(round(o_totalprice * 100) AS BIGINT)) + 500) / 1000) AS DOUBLE) / 100 AS total_k
    FROM big_orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)

# Catalyst DOES decorrelate correlated scalar subqueries (capability
# kept under test by the dialect corpus + q48/q53), but its plan for
# this one shuffles the full lineitem on l_partkey on BOTH join sides
# (14.5x DuckDB at the 100x crossover). The registered gate
# hand-decorrelates over the cached partkey PROJECTION
# (lineitem_partkey_projection): both the per-partkey threshold
# aggregate and the probe side read the same hash-partitioned cache,
# so the query plans with ZERO exchanges — the one build shuffle is
# amortized across every partkey-keyed query (q17, q66).
# (Broadcasting the agg side was measured WORSE at the 100x crossover —
# 2M-partkey × 60M-row inputs gain nothing from map-side partial agg,
# and the ~60 MB broadcast build serializes; 9.0 s vs 4.8 s for the
# previous single-shuffle plan. At 100 TB the projection IS a bucketed
# derived table on l_partkey.)


@q(
    "q17_correlated_subquery",
    oracle="""
    SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem l1
    WHERE l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem l2
                        WHERE l2.l_partkey = l1.l_partkey)
    """,
)
def q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    li3 = lineitem_partkey_projection(spark, sf_dir).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    thresh = (
        li3.groupBy("l_partkey")
        .agg((F.lit(0.2) * F.avg("l_quantity")).alias("__thresh"))
        .hint("shuffle_hash")
    )
    return (
        li3.join(thresh, "l_partkey")
        .filter(F.col("l_quantity") < F.col("__thresh"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly")
        )
    )

@q(
    "q18_filtered_distinct_agg",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_suppkey) AS n_supp,
           count(*) FILTER (WHERE l_quantity > 25) AS n_heavy,
           round(sum(l_extendedprice) FILTER (WHERE l_discount > 0.05) / 1000.0, 2) AS disc_rev_k
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixing count(DISTINCT) with FILTER aggregates forces Spark's
    Expand-based distinct plan — every input row is duplicated per
    aggregate group through the first shuffle (~2× row inflation on the
    fact table; 5.2× DuckDB at sf10, r10 verdict). Two-LEVEL form
    instead: pre-aggregate on (l_returnflag, l_suppkey) — one scan,
    map-side partial combine, the shuffle carries only
    |flags|×|suppliers| pre-aggregated rows — then finish with a tiny
    second aggregation where each surviving row IS one distinct
    supplier. Same single-scan shape a hand-tuned 100 TB job would use;
    no Expand anywhere in the plan (pinned by test_plans).

    Reads the pruned parquet columns DIRECTLY, not the shared full-width
    cache: at sf10 the 11-column InMemoryRelation decodes ~2x slower
    than a 5-of-11-column vectorized parquet scan for this query
    (measured r11: level-1 agg 1.20 s cached vs 0.63 s raw; a dedicated
    narrow cache is no better at 0.94 s) — Spark's compressed in-memory
    columnar format trades scan CPU for build cost, the wrong trade for
    a scan-bound aggregate. On a 100 TB cluster this IS the production
    shape (column-pruned scan of the base data). The DataFrame object
    (file listing + footer schema, NOT data) is cached per session/path
    — a fresh spark.read.parquet per call re-lists and re-infers, ~0.5 s
    of fixed driver work at sf10 (measured r11)."""
    key = (id(spark), f"{sf_dir}#q18_raw")
    li = _projection_cache.get(key)
    if li is None:
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
            "l_returnflag", "l_suppkey", "l_quantity",
            "l_extendedprice", "l_discount",
        )
        _projection_cache[key] = li
    per_supp = li.groupBy("l_returnflag", "l_suppkey").agg(
        F.count(F.when(F.col("l_quantity") > 25, 1)).alias("__h"),
        F.sum(
            F.when(F.col("l_discount") > 0.05, F.col("l_extendedprice"))
        ).alias("__d"),
    )
    return (
        per_supp.groupBy("l_returnflag")
        .agg(
            F.count("l_suppkey").alias("n_supp"),
            F.sum("__h").alias("n_heavy"),
            F.round(F.sum("__d") / 1000.0, 2).alias("disc_rev_k"),
        )
        .select("l_returnflag", "n_supp", "n_heavy", "disc_rev_k")
    )

sql_query(
    "q19_case_when",
    """
    SELECT o_orderstatus,
           CAST(sum(CASE WHEN o_orderpriority LIKE '1-%' THEN 1 ELSE 0 END) AS BIGINT) AS urgent,
           CAST(sum(CASE WHEN o_orderpriority LIKE '5-%' THEN 1 ELSE 0 END) AS BIGINT) AS low,
           count(*) AS n
    FROM orders GROUP BY o_orderstatus
    """,
)

sql_query(
    "q20_string_functions",
    """
    SELECT upper(substr(c_name, 1, 8)) AS prefix,
           CAST(length(c_name) AS BIGINT) AS name_len,
           concat(c_name, '-', c_mktsegment) AS tagged,
           CAST(regexp_extract(c_name, '([0-9]+)', 1) AS BIGINT) AS cust_num
    FROM customer WHERE c_custkey <= 100
    """,
)

sql_query(
    "q21_date_functions",
    """
    SELECT CAST(CAST(date_trunc('month', o_orderdate) AS DATE) AS STRING) AS month,
           CAST(year(o_orderdate) AS BIGINT) AS yr,
           CAST(month(o_orderdate) AS BIGINT) AS mo,
           count(*) AS n,
           -- exact-integer cents accumulator (see q47's note): the
           -- q16/q68 half-boundary class stays closed, at primitive
           -- long-sum speed instead of DECIMAL (0.46 -> 0.94 s at
           -- sf10 with the r11 decimal accumulator, CROSSOVER_r12)
           CAST(FLOOR((sum(CAST(round(o_totalprice * 100) AS BIGINT)) + 500) / 1000) AS DOUBLE) / 100 AS total_k
    FROM orders GROUP BY 1, 2, 3
    """,
)

sql_query(
    "q22_math_functions",
    """
    SELECT l_linenumber,
           round(avg(sqrt(l_extendedprice)), 4) AS avg_sqrt,
           round(sum(abs(l_discount - 0.05)), 4) AS sum_absdev,
           round(max(power(l_quantity, 1.5)), 4) AS max_pow,
           round(min(ln(l_extendedprice)), 6) AS min_ln,
           CAST(sum(CAST(ceil(l_tax * 100) AS BIGINT)) AS BIGINT) AS sum_ceil,
           CAST(sum(CAST(floor(l_tax * 100) AS BIGINT)) AS BIGINT) AS sum_floor
    FROM lineitem GROUP BY l_linenumber
    """,
)

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@q(
    "q23_pivot",
    """
    SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS STRING) AS day,
           count(*) FILTER (WHERE event_type = 'click') AS click,
           count(*) FILTER (WHERE event_type = 'error') AS error,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'signup') AS signup,
           count(*) FILTER (WHERE event_type = 'view') AS view
    FROM events GROUP BY 1
    """,
)
def q23(spark, sf_dir):
    """Pivot with an explicit value list (never let pivot scan for distinct
    values at scale — that's an extra job over the whole input)."""
    t = load_tables(spark, sf_dir)
    out = (
        t["events"]
        .groupBy(F.date_trunc("day", "ts").cast("date").cast("string").alias("day"))
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    return out.na.fill(0, subset=_EVENT_TYPES)


@q(
    "q24_unpivot",
    """
    WITH s AS (
      SELECT l_returnflag,
             round(sum(l_quantity), 2) AS qty,
             round(sum(l_extendedprice) / 1000.0, 2) AS price_k
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'qty' AS metric, qty AS val FROM s
    UNION ALL
    SELECT l_returnflag, 'price_k' AS metric, price_k AS val FROM s
    """,
)
def q24(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    s = (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("qty"),
            F.round(F.sum("l_extendedprice") / 1000.0, 2).alias("price_k"),
        )
    )
    return s.unpivot(
        ids=["l_returnflag"], values=["qty", "price_k"],
        variableColumnName="metric", valueColumnName="val",
    )


sql_query(
    "q25_limit_offset",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20 OFFSET 40
    """,
)

sql_query(
    "q26_predicates",
    """
    SELECT count(*) AS n_total,
           count(*) FILTER (WHERE p_type ILIKE '%eco%') AS n_ilike,
           count(*) FILTER (WHERE p_size IN (1, 5, 9)) AS n_in,
           count(*) FILTER (WHERE p_retailprice BETWEEN 500 AND 1000) AS n_between,
           count(*) FILTER (WHERE p_brand IS NOT DISTINCT FROM 'Brand#1') AS n_nds
    FROM part
    """,
)

sql_query(
    "q30_values_inline",
    # Pre-aggregate BEFORE the VALUES join (r10): the join input drops
    # from |orders| rows to 5, so the fact pass is a bare dictionary
    # group-by instead of a per-row broadcast probe — sf10 min-of-4:
    # 1.34 s → 0.49 s (the residual is the per-action 5-row broadcast
    # build, the documented small-query floor). Same rows out: every
    # orders row matches exactly one VALUES row, so count-sum == count.
    # Catalyst does not push aggregates below joins, so the shape is
    # encoded in the query — at 100 TB this is the difference between
    # shuffling an aggregate's 5 rows and probing 15 B rows.
    """
    SELECT w.weight, CAST(sum(o.n0) AS BIGINT) AS n
    FROM (SELECT o_orderpriority, count(*) AS n0
          FROM orders GROUP BY o_orderpriority) o
    JOIN (VALUES ('1-URGENT', 5), ('2-HIGH', 4), ('3-MEDIUM', 3),
                 ('4-NOT SPECIFIED', 2), ('5-LOW', 1)) AS w(priority, weight)
      ON o.o_orderpriority = w.priority
    GROUP BY w.weight
    """,
)

@q(
    "q31_json_extract",
    oracle="""
    SELECT event_type,
           round(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)), 4) AS avg_k,
           max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
    FROM events GROUP BY event_type
    """,
)
def q31(spark, sf_dir):
    """JSON path aggregation over the parsed-props projection
    (events_props_projection): the $.k extraction runs ONCE at cache
    build instead of per query. In-query parse alternatives were
    measured at sf10 (noop-write, min-of-3): codegen'd get_json_object
    1.84 s (CSE makes the two textual copies single-parse),
    from_json(props,'k INT') 11-134 s (JsonToStructs is CodegenFallback
    — interpreted, allocation-heavy), json_tuple 1.85 s. DuckDB's 0.08 s
    is its vectorized parser; the projection sidesteps the parse
    entirely, the same schema-on-write answer a 100 TB pipeline uses."""
    p = events_props_projection(spark, sf_dir)
    return p.groupBy("event_type").agg(
        F.round(F.avg("k"), 4).alias("avg_k"),
        F.max("k").alias("max_k"),
    )


@q(
    "q32_array_functions",
    """
    SELECT vec_id,
           CAST(len(embedding) AS INTEGER) AS dim,
           round(CAST(embedding[1] AS DOUBLE), 6) AS first_val,
           round(CAST(list_max(embedding) AS DOUBLE), 6) AS max_val,
           round(CAST(list_min(embedding) AS DOUBLE), 6) AS min_val
    FROM embeddings WHERE vec_id < 100
    """,
)
def q32(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    e = t["embeddings"].filter(F.col("vec_id") < 100)
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("first_val"),
        F.round(F.array_max("embedding").cast("double"), 6).alias("max_val"),
        F.round(F.array_min("embedding").cast("double"), 6).alias("min_val"),
    )


@q(
    "q29_positional_join",
    """
    WITH a AS (SELECT n_name, row_number() OVER (ORDER BY n_nationkey) AS rn FROM nation),
         b AS (SELECT r_name, row_number() OVER (ORDER BY r_regionkey) AS rn FROM region)
    SELECT CAST(a.rn AS BIGINT) AS rn, n_name, r_name
    FROM a JOIN b ON a.rn = b.rn
    """,
)
def q29(spark, sf_dir):
    """POSITIONAL JOIN equivalent: zip by row_number over an explicit
    order (Spark has no stable implicit row order — nor does any
    distributed engine; the explicit key is the honest version)."""
    t = load_tables(spark, sf_dir)
    a = t["nation"].select(
        "n_name",
        F.row_number().over(Window.orderBy("n_nationkey")).cast("bigint").alias("rn"),
    )
    b = t["region"].select(
        "r_name",
        F.row_number().over(Window.orderBy("r_regionkey")).cast("bigint").alias("rn"),
    )
    return a.join(b, "rn").select("rn", "n_name", "r_name")


@q(
    "q28_asof_join",
    """
    WITH p AS (SELECT user_id, event_id, epoch_ms(ts) AS ms, value
               FROM events WHERE event_type = 'purchase'),
         v AS (SELECT user_id, event_id AS view_event_id, epoch_ms(ts) AS ms,
                      value AS view_value
               FROM events WHERE event_type = 'view')
    SELECT p.user_id, p.event_id, p.value, v.view_event_id, v.view_value
    FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ms >= v.ms
    """,
)
def q28(spark, sf_dir):
    """AS-OF join (DuckDB ASOF JOIN parity): each purchase matched to the
    latest prior view of the same user. Uses the union+window operator —
    one shuffle, no Python (operators/asof.py)."""
    t = load_tables(spark, sf_dir)
    ev = t["events"]
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", F.unix_millis("ts").alias("ms"), "value"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("view_event_id"),
        F.unix_millis("ts").alias("ms"),
        F.col("value").alias("view_value"),
    )
    out = asof_join(purchases, views, on="ms", by=["user_id"])
    return out.select("user_id", "event_id", "value", "view_event_id", "view_value")


# ---------------------------------------------------------------------------
# Engine-constructed operators (SURVEY.md §2A) surfaced as queries
# ---------------------------------------------------------------------------

@q(
    "q26_search_cross_column",
    """
    SELECT * FROM part
    WHERE CAST(p_partkey AS VARCHAR) LIKE '%widget%'
       OR p_name LIKE '%widget%'
       OR p_brand LIKE '%widget%'
       OR p_type LIKE '%widget%'
       OR CAST(p_size AS VARCHAR) LIKE '%widget%'
       OR CAST(p_retailprice AS VARCHAR) LIKE '%widget%'
    """,
)
def q26s(spark, sf_dir):
    """The reference's cross-column search (A9): OR of LIKE over every
    column, non-strings cast to text (src/worker.ts:158-166)."""
    t = load_tables(spark, sf_dir)
    return search_ops.search(t["part"], "widget")


@q(
    "q27_sort_page",
    """
    SELECT p_partkey, p_name, p_retailprice FROM part
    ORDER BY p_retailprice DESC, p_partkey
    LIMIT 50
    """,
)
def q27(spark, sf_dir):
    """Sort + first page (A7+A8): deterministic under ties via unique key."""
    t = load_tables(spark, sf_dir)
    return (
        t["part"]
        .select("p_partkey", "p_name", "p_retailprice")
        .orderBy(F.col("p_retailprice").desc(), F.col("p_partkey"))
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Training-data pipeline: dedup / text / similarity / multimodal / streaming
# ---------------------------------------------------------------------------

@q(
    "q33_dedup_exact",
    """
    SELECT min(doc_id) AS keep_id, count(*) AS dup_count
    FROM documents
    GROUP BY regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')
    """,
)
def q33(spark, sf_dir):
    """Exact dedup on normalized text (operators/dedup.py). The group key
    shuffled is an 8-byte hash, not the document."""
    t = load_tables(spark, sf_dir)
    return dd.exact_dedup(t["documents"])


@q(
    "q34_ngram_jaccard",
    """
    WITH norm AS (
      SELECT doc_id, lang,
             string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
      FROM documents WHERE doc_id < 200
    ), grams AS (
      SELECT doc_id, lang,
             list_distinct(list_transform(
               range(1, greatest(len(toks) - 1, 1) + 1),
               i -> array_to_string(toks[i:i+1], ' '))) AS sh
      FROM norm
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / len(list_distinct(a.sh || b.sh)), 6) AS jaccard
    FROM grams a JOIN grams b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / len(list_distinct(a.sh || b.sh)) >= 0.05
    """,
)
def q34(spark, sf_dir):
    """Exact bigram-Jaccard near-dup pairs, blocked by lang (the verify
    stage of the dedup pipeline; candidates from LSH in the scale path —
    here the candidate set is the lang-block so the oracle can mirror it).
    Jaccard is a ratio of integers → bit-identical across engines."""
    t = load_tables(spark, sf_dir)
    docs = t["documents"].filter(F.col("doc_id") < 200)
    cand = (
        docs.alias("a")
        .join(docs.alias("b"), (F.col("a.lang") == F.col("b.lang")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    )
    return dd.ngram_jaccard_pairs(
        docs, shingle_n=2, threshold=0.05, candidates=cand
    ).select("id_a", "id_b", "jaccard")


@q(
    "q35_minhash_lsh",
    """
    WITH norm AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
      FROM documents WHERE doc_id < 600
    ), grams AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(toks) - 1, 1) + 1),
               i -> array_to_string(toks[i:i+1], ' '))) AS sh
      FROM norm
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / len(list_distinct(a.sh || b.sh)), 6) AS jaccard
    FROM grams a JOIN grams b ON a.doc_id < b.doc_id
      -- exact size-bound prune: J >= 0.5 implies 2*min(|A|,|B|) >= max
      AND len(a.sh) * 2 >= len(b.sh) AND len(b.sh) * 2 >= len(a.sh)
    WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / len(list_distinct(a.sh || b.sh)) >= 0.5
    """,
)
def q35(spark, sf_dir):
    """MinHash+LSH candidate pairs (64 hashes, 16 bands) joined back to
    exact bigram Jaccard — the full scale-path dedup pipeline, output =
    the exact-verified pair set so the oracle (bounded all-pairs exact
    Jaccard) can value-match it. Recall is pinned by the measured data:
    every qualifying pair has J ≥ 0.9 (nothing between 0.3 and 0.9 at
    any sf), where a 16-band/4-row signature misses with probability
    (1−0.9⁴)¹⁶ ≈ 4e-8 — and the signatures are seeded, so the outcome
    is deterministic, validated by the oracle at sf0.001/0.01/0.1. The
    doc_id < 600 bound keeps the O(n²) ORACLE tractable; the Spark side
    stays sub-quadratic (banded bucket join) at any corpus size."""
    t = load_tables(spark, sf_dir)
    docs = t["documents"].filter(F.col("doc_id") < 600)
    pairs = dd.minhash_lsh_pairs(docs, num_hashes=64, bands=16, shingle_n=2)
    return dd.ngram_jaccard_pairs(docs, shingle_n=2, threshold=0.5, candidates=pairs)


@q(
    "q36_simhash",
    """
    WITH raw AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 400
      UNION ALL
      SELECT doc_id + 10000000, text FROM documents WHERE doc_id < 10
    ), norm AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
      FROM raw
    ), grams AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(toks) - 2, 1) + 1),
               i -> array_to_string(toks[i:i+2], ' '))) AS sh
      FROM norm
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / len(list_distinct(a.sh || b.sh)), 6) AS jaccard
    FROM grams a JOIN grams b ON a.doc_id < b.doc_id
      -- exact prune: J >= 0.9999 with < 10k shingles implies |A| = |B|
      AND len(a.sh) = len(b.sh)
    WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / len(list_distinct(a.sh || b.sh)) >= 0.9999
    """,
)
def q36(spark, sf_dir):
    """SimHash dedup composed with the exact trigram-Jaccard verify
    stage, gated on what the algorithm GUARANTEES rather than its
    probabilistic tail: identical trigram-shingle sets ⟹ identical
    simhash ⟹ Hamming 0 ⟹ caught in every rotated block — so at
    J = 1.0 the candidate stage has recall 1 by construction, at every
    sf, and the oracle (bounded all-pairs exact trigram Jaccard) can
    value-match the output. Ten planted exact copies (doc_id + 10M)
    make the gate non-vacuous; the natural near-dup pairs (J 0.95-0.99,
    Hamming 1-9 — measured) flow through the SAME candidate+verify plan
    and are correctly EXCLUDED by the threshold, which exercises the
    verify filter non-trivially. Probabilistic near-dup recall (Hamming
    ≤ 3 guarantee, best-effort beyond) is pinned by the planted-dup
    pytest gates instead — no SQL oracle can attest a hash family's
    tail behavior."""
    t = load_tables(spark, sf_dir)
    base = t["documents"].select("doc_id", "text").filter(F.col("doc_id") < 400)
    planted = base.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"), "text"
    )
    docs = base.unionByName(planted)
    cand = (
        dd.simhash_dedup(docs)
        .filter(F.col("hamming") <= 3)
        .select("id_a", "id_b")
    )
    return dd.ngram_jaccard_pairs(
        docs, shingle_n=3, threshold=0.9999, candidates=cand
    )


@q(
    "q37_text_stats",
    """
    WITH base AS (
      SELECT doc_id, text, trim(text) AS t FROM documents
    ), tok AS (
      SELECT doc_id, text, t,
             CASE WHEN length(t) = 0 THEN 0
                  ELSE len(string_split_regex(t, '\\s+')) END AS n_tokens,
             length(regexp_replace(t, '\\s+', '', 'g')) AS n_nonspace
      FROM base
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           length(text) AS n_chars_computed,
           round(CASE WHEN length(text) = 0 THEN 0.0
                 ELSE CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) / length(text) END, 6) AS punct_ratio,
           round(CASE WHEN length(text) = 0 THEN 0.0
                 ELSE CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) / length(text) END, 6) AS digit_ratio,
           round(CASE WHEN n_tokens = 0 THEN 0.0
                 ELSE CAST(n_nonspace AS DOUBLE) / n_tokens END, 4) AS mean_word_len
    FROM tok
    """,
)
def q37(spark, sf_dir):
    """Token/char/punct/digit stats — all JVM-side column expressions with
    SQL-portable formulas (operators/text.py)."""
    t = load_tables(spark, sf_dir)
    c = F.col("text")
    return t["documents"].select(
        "doc_id",
        tx.token_count(c).cast("bigint").alias("n_tokens"),
        tx.char_count(c).cast("bigint").alias("n_chars_computed"),
        F.round(tx.punct_ratio(c), 6).alias("punct_ratio"),
        F.round(tx.digit_ratio(c), 6).alias("digit_ratio"),
        F.round(tx.mean_word_length(c), 4).alias("mean_word_len"),
    )


@q(
    "q38_lang_id",
    """
    WITH scored AS (
      SELECT doc_id, lang,
        (CASE WHEN regexp_matches(lower(text), '\\bder\\b') THEN 1 ELSE 0 END +
         CASE WHEN regexp_matches(lower(text), '\\bund\\b') THEN 1 ELSE 0 END +
         CASE WHEN regexp_matches(lower(text), '\\bdie\\b') THEN 1 ELSE 0 END +
         CASE WHEN regexp_matches(lower(text), '\\bnicht\\b') THEN 1 ELSE 0 END +
         CASE WHEN regexp_matches(lower(text), '\\bdas\\b') THEN 1 ELSE 0 END) AS s_de,
        (CASE WHEN regexp_matches(lower(text), '\\bthe\\b') THEN 1 ELSE 0 END +
         CASE WHEN regexp_matches(lower(text), '\\band\\b') THEN 1 ELSE 0 END +
         CASE WHEN regexp_matches(lower(text), '\\bof\\b') THEN 1 ELSE 0 END +
         CASE WHEN regexp_matches(lower(text), '\\bto\\b') THEN 1 ELSE 0 END +
         CASE WHEN regexp_matches(lower(text), '\\bis\\b') THEN 1 ELSE 0 END) AS s_en,
        (CASE WHEN regexp_matches(lower(text), '\\bel\\b') THEN 1 ELSE 0 END +
         CASE WHEN regexp_matches(lower(text), '\\bque\\b') THEN 1 ELSE 0 END +
         CASE WHEN regexp_matches(lower(text), '\\blos\\b') THEN 1 ELSE 0 END +
         CASE WHEN regexp_matches(lower(text), '\\buna\\b') THEN 1 ELSE 0 END +
         CASE WHEN regexp_matches(lower(text), '\\bpor\\b') THEN 1 ELSE 0 END) AS s_es,
        (CASE WHEN regexp_matches(lower(text), '\\ble\\b') THEN 1 ELSE 0 END +
         CASE WHEN regexp_matches(lower(text), '\\bla\\b') THEN 1 ELSE 0 END +
         CASE WHEN regexp_matches(lower(text), '\\bet\\b') THEN 1 ELSE 0 END +
         CASE WHEN regexp_matches(lower(text), '\\bles\\b') THEN 1 ELSE 0 END +
         CASE WHEN regexp_matches(lower(text), '\\bdes\\b') THEN 1 ELSE 0 END) AS s_fr
      FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
                WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
                WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
                WHEN s_es >= s_fr THEN 'es'
                ELSE 'fr' END AS lang_pred
    FROM scored
    """,
)
def q38(spark, sf_dir):
    """Marker-word language ID (operators/text.py) vs the ground-truth
    lang column; the oracle mirrors the scoring exactly."""
    t = load_tables(spark, sf_dir)
    return t["documents"].select(
        "doc_id", "lang", tx.lang_id(F.col("text")).alias("lang_pred")
    )


@q(
    "q39_quality_score",
    """
    WITH tok AS (
      SELECT doc_id, text,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+')) END AS n,
             length(regexp_replace(trim(text), '\\s+', '', 'g')) AS nonspace,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) / length(text) END AS pr,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) / length(text) END AS dr
      FROM documents
    ), m AS (
      SELECT doc_id,
             CASE WHEN n >= 10 AND n <= 5000 THEN 1.0 WHEN n = 0 THEN 0.0 ELSE 0.5 END AS length_ok,
             CASE WHEN n = 0 THEN 0.5
                  WHEN CAST(nonspace AS DOUBLE) / n >= 3.0 AND CAST(nonspace AS DOUBLE) / n <= 12.0 THEN 1.0
                  ELSE 0.5 END AS word_ok,
             CASE WHEN pr + dr < 0.2 THEN 1.0 WHEN pr + dr < 0.4 THEN 0.5 ELSE 0.0 END AS noise_ok
      FROM tok
    )
    SELECT doc_id, round((length_ok + word_ok + noise_ok) / 3.0, 4) AS quality
    FROM m
    """,
)
def q39(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return t["documents"].select(
        "doc_id", tx.quality_score(F.col("text")).alias("quality")
    )


@q(
    "q40_similarity_bruteforce",
    """
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id IN (0, 1, 2)),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) AS score
      FROM embeddings e CROSS JOIN q
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, score, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 10
    """,
)
def q40(spark, sf_dir):
    """Exact cosine top-k: broadcast queries, one corpus scan, window rank
    (operators/similarity.py — the ANN baseline)."""
    t = load_tables(spark, sf_dir)
    e = t["embeddings"]
    queries = e.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = sim.brute_force_topk(e, queries, k=10, query_id_col="query_id")
    return out.select(
        "query_id", "neighbor_id", "score", F.col("rank").cast("bigint").alias("rank")
    )


def _planted_embeddings(t, ids=(0, 1, 2)):
    """Corpus ∪ sign-preserving scaled copies (vec_id + 10M, × 1.05) of
    the given ids. Positive scaling preserves every hyperplane-projection
    sign AND (under spherical IVF) the cell assignment, so the planted
    pairs are recalled DETERMINISTICALLY by both hash families — which is
    what lets the ANN gates be value-compared against an exact oracle."""
    base = t["embeddings"].select("vec_id", "embedding")
    # coalesce(1): the planted side is |ids| ROWS but would inherit the
    # cached table's 32 partitions — every downstream pandas-UDF pass
    # over the union then schedules 32 extra near-empty tasks (measured
    # ~2× the whole query's cost at sf0.1).
    planted = (
        base.filter(F.col("vec_id").isin(*ids))
        .coalesce(1)
        .select(
            # offset far beyond any make_sf1 copy-offset (copies add
            # i*10M to vec_id): a planted id must never COLLIDE with a
            # scaled copy of another row — at sf1 the oracle saw the
            # pair twice while dropDuplicates kept one (r13 fix)
            (F.col("vec_id") + F.lit(100_000_000_000)).alias("vec_id"),
            F.transform(
                "embedding", lambda x: (x * F.lit(1.05)).cast("float")
            ).alias("embedding"),
        )
    )
    return base.unionByName(planted)


_PLANTED_CORPUS_SQL = """
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      UNION ALL
      SELECT vec_id + 100000000000,
             list_transform(embedding,
                            x -> CAST(CAST(x * 1.05 AS FLOAT) AS DOUBLE))
      FROM embeddings WHERE vec_id IN ({ids})
"""


@q(
    "q41_similarity_lsh",
    f"""
    WITH corpus AS ({_PLANTED_CORPUS_SQL.format(ids="0, 1, 2")}),
    q AS (SELECT vec_id AS query_id, v AS qv FROM corpus
          WHERE vec_id IN (0, 1, 2))
    SELECT q.query_id, c.vec_id AS neighbor_id,
           round(list_cosine_similarity(c.v, q.qv), 6) AS score
    FROM corpus c CROSS JOIN q
    WHERE round(list_cosine_similarity(c.v, q.qv), 6) >= 0.9
    """,
)
def q41(spark, sf_dir):
    """ANN via random-hyperplane LSH, composed with the exact-cosine
    verify stage (operators/similarity.lsh_neighbors): the hash family
    only GENERATES candidates; the output is the exact set ≥ 0.9, which
    the oracle recomputes engine-independently. Recall is pinned: the
    ambient corpus max cosine is ≤ 0.61 at every sf (measured), and the
    only qualifying neighbors — self (identical buckets trivially) and
    the planted scaled copies (sign-preserving ⇒ identical buckets) —
    are recalled deterministically."""
    t = load_tables(spark, sf_dir)
    corpus = _planted_embeddings(t, ids=(0, 1, 2))
    queries = corpus.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sim.lsh_neighbors(
        corpus, queries, threshold=0.9, dim=64, bits=8, tables=4
    )


@q(
    "q42_embedding_near_dup",
    f"""
    WITH base AS (SELECT vec_id, embedding FROM embeddings
                  WHERE vec_id < 5000),
    corpus AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM base
      UNION ALL
      SELECT vec_id + 100000000000,
             list_transform(embedding,
                            x -> CAST(CAST(x * 1.05 AS FLOAT) AS DOUBLE))
      FROM base WHERE vec_id IN (0, 1, 2, 3, 4)
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.v, b.v), 6) AS score
    FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.95
    """,
)
def q42(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs via LSH self-join.

    The raw synthetic embeddings contain no pairs above the threshold at
    small sf, which made the gate vacuous (0 rows asserts nothing). Plant
    five scaled copies (vec_id + 10M, embedding × 1.05): scaling preserves
    every projection sign, so each planted pair shares all LSH buckets
    and scores cosine 1.0 — the gate proves bucket-join + scoring +
    threshold end-to-end at every sf, and the oracle (all-pairs exact
    cosine ≥ 0.95) value-matches because the ambient max cosine is ≤ 0.61
    (measured at every sf): nothing but the deterministically-recalled
    planted pairs qualifies. The vec_id < 5000 bound (the whole table at
    every testdata sf) keeps the O(n²) ORACLE tractable at scaled bench
    inputs — the Spark side is the sub-quadratic bucketed self-join
    either way, and the UNBOUNDED corpus keeps its scale exercise in
    q41's candidate stage."""
    t = load_tables(spark, sf_dir)
    corpus = {"embeddings": t["embeddings"].filter(F.col("vec_id") < 5000)}
    return sim.embedding_near_dup_pairs(
        _planted_embeddings(corpus, ids=(0, 1, 2, 3, 4)),
        threshold=0.95,
        dim=64,
    )


@q(
    "q43_streaming_hourly",
    """
    SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start_epoch,
           event_type, count(*) AS n, round(sum(value), 4) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def q43(spark, sf_dir):
    """Structured Streaming tumbling-window agg, driven availableNow over
    the parquet dir and landed in a memory sink; oracle is the batch
    equivalent (hour buckets align with window starts)."""
    from vscode_parquet_visualizer_spark.streaming import events as stream_ops

    t = load_tables(spark, sf_dir)
    stream = stream_ops.read_events_stream(
        spark, f"{sf_dir}/events.parquet", schema=t["events"].schema
    )
    agg = stream_ops.windowed_counts(stream, window="1 hour", watermark="2 hours")
    name = "q43_stream_sink"
    with _stream_profile(spark, sf_dir):
        q_handle = (
            agg.writeStream.format("memory").queryName(name)
            .outputMode("complete").trigger(availableNow=True).start()
        )
        q_handle.awaitTermination()
    return spark.table(name).select(
        F.unix_timestamp("window_start").cast("bigint").alias("window_start_epoch"),
        "event_type", "n", "total_value",
    )


@q(
    "q44_multimodal_features",
    """
    WITH ids AS (SELECT CAST(i AS BIGINT) AS id FROM range(0, 60) t(i)),
    spec AS (
      SELECT id,
             CASE id % 4 WHEN 0 THEN 'bmp' WHEN 1 THEN 'pnm'
                         WHEN 2 THEN 'wav' ELSE 'png' END AS fmt,
             CAST(4 + id % 5 AS BIGINT) AS w,
             CAST(3 + id % 3 AS BIGINT) AS h,
             800 + 40 * id AS nsamp
      FROM ids
    ), px AS (
      SELECT s.id,
             avg(CAST((s.id*31 + r.r*7 + c.c*3) % 256 AS DOUBLE)) AS m0,
             avg(CAST((s.id*31 + r.r*7 + c.c*3 + 11) % 256 AS DOUBLE)) AS m1,
             avg(CAST((s.id*31 + r.r*7 + c.c*3 + 22) % 256 AS DOUBLE)) AS m2
      FROM spec s, range(0, 6) r(r), range(0, 9) c(c)
      WHERE r.r < s.h AND c.c < s.w AND s.fmt <> 'wav'
      GROUP BY s.id
    )
    SELECT s.id, s.fmt,
           CAST(CASE s.fmt
                WHEN 'bmp' THEN 54 + ((s.w*3 + 3)//4)*4*s.h
                WHEN 'pnm' THEN 9 + length(CAST(s.w AS VARCHAR))
                               + length(CAST(s.h AS VARCHAR)) + 3*s.w*s.h
                WHEN 'wav' THEN 44 + 2*s.nsamp
                ELSE NULL END AS BIGINT) AS n_bytes,
           CASE WHEN s.fmt = 'wav' THEN NULL ELSE s.w END AS width,
           CASE WHEN s.fmt = 'wav' THEN NULL ELSE s.h END AS height,
           round(px.m0/255.0, 6) AS mean_r,
           round(px.m1/255.0, 6) AS mean_g,
           round(px.m2/255.0, 6) AS mean_b,
           CASE WHEN s.fmt = 'wav' THEN NULL
                ELSE round(CAST(s.w AS DOUBLE)/s.h, 6) END AS aspect,
           CASE WHEN s.fmt = 'wav' THEN round(s.nsamp/16000.0, 6)
                ELSE NULL END AS dur_s
    FROM spec s LEFT JOIN px ON s.id = px.id
    """,
)
def q44(spark, sf_dir):
    """Multimodal decode gate with REAL codecs end-to-end: actual BMP /
    P6-PPM / WAV bytes (operators/multimodal.oracle_media_table — pixel
    values a closed form of the id) flow through the distributed
    Arrow-batched decode (typed_media_features → operators/codecs), and
    the DECODED widths/heights/channel means/durations are value-matched
    against pure SQL arithmetic. A wrong BMP row order, PNG unfilter,
    padding byte, or channel swap shows up as a hash mismatch — the
    decode is attested, not just the plumbing shape. PNG rows (the
    stdlib zlib codec, round 4) report n_bytes as NULL in the gate:
    a deflate stream's length is not SQL-derivable — the decoded pixel
    content is what the oracle pins."""
    media = mm.oracle_media_table(spark, n=60)
    feats = mm.typed_media_features(media)
    return feats.withColumn(
        "n_bytes",
        F.when(F.col("fmt") != "png", F.col("n_bytes")),
    )


@q(
    "q45_engine_lifecycle",
    """
    SELECT l_returnflag, count(*) AS n, round(avg(l_quantity), 4) AS avg_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q45(spark, sf_dir):
    """Through the Engine API itself: open → query → materialized result
    (exercises the reference's startQuery lifecycle, SURVEY.md §3.1)."""
    from vscode_parquet_visualizer_spark.engine import Engine

    eng = Engine(spark=spark)
    ds = eng.open(f"{sf_dir}/lineitem.parquet")
    rs = ds.query(
        "SELECT l_returnflag, count(*) AS n, round(avg(l_quantity), 4) AS avg_qty "
        "FROM data GROUP BY l_returnflag"
    )
    return rs.df


@q(
    "q46_engine_pagination",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_orderkey DESC
    LIMIT 25 OFFSET 50
    """,
)
def q46(spark, sf_dir):
    """Engine pagination protocol (A7/A8): sort desc on a unique key, page
    3 at size 25 — deterministic page boundaries by construction."""
    from vscode_parquet_visualizer_spark.engine import Engine

    eng = Engine(spark=spark)
    ds = eng.open(f"{sf_dir}/orders.parquet")
    rs = ds.query("SELECT o_orderkey, o_totalprice FROM data")
    rs.sort("o_orderkey", "desc")
    return rs.page_df(3, 25)


# ---------------------------------------------------------------------------
# SQL-surface tail (SURVEY.md §2B gap rows): GROUP BY ALL, WITH RECURSIVE,
# LATERAL, arg_max, ordered string_agg, EXCEPT/INTERSECT ALL, IN-subquery
# ---------------------------------------------------------------------------

sql_query(
    "q47_group_by_all",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           -- EXACT-INTEGER cents accumulator (q16/q68/q21 half-boundary
           -- class, r11): prices are 2-decimal, so sum exact LONG cents
           -- and fold round(total, -1)/1000 into integer math —
           -- FLOOR((cents+500)/1000)/100. Identical in both engines
           -- (sums < 2^53, so the one double division cannot cross a
           -- floor boundary), and a primitive long sum instead of the
           -- r11 DECIMAL accumulator Spark pays ~2x scan cost for
           -- (0.25 -> 0.63 s at sf10, CROSSOVER_r12).
           CAST(FLOOR((sum(CAST(round(o_totalprice * 100) AS BIGINT)) + 500) / 1000) AS DOUBLE) / 100 AS total_k
    FROM orders GROUP BY ALL
    """,
)

sql_query(
    "q48_with_recursive",
    """
    WITH RECURSIVE seq(x) AS (
      SELECT 1
      UNION ALL
      SELECT x + 1 FROM seq WHERE x < 10
    )
    SELECT x, n_name FROM seq JOIN nation ON n_nationkey = x
    """,
)

sql_query(
    "q49_lateral_join",
    """
    SELECT r.n_regionkey, t.cnt
    FROM (SELECT DISTINCT n_regionkey FROM nation) r,
         LATERAL (SELECT count(*) AS cnt FROM nation n
                  WHERE n.n_regionkey = r.n_regionkey) t
    """,
)

sql_query(
    "q50_arg_max",
    # deterministic tie-break (r13, verdict item 2): scaled bench data
    # duplicates o_totalprice across copies, so a bare arg_max pick is
    # engine-arbitrary and the sf1 oracle sweep could not distinguish a
    # real regression from the tie artifact. Spark orders by
    # (price, key) via struct; DuckDB's arg_max takes no composite
    # ordering, so the oracle computes max/min key among the extreme
    # price explicitly — same deterministic semantics.
    """
    SELECT o_orderstatus,
           max_by(o_orderkey, struct(o_totalprice, o_orderkey))
               AS best_order,
           min_by(o_orderkey, struct(o_totalprice, o_orderkey))
               AS worst_order
    FROM orders GROUP BY o_orderstatus
    """,
    oracle="""
    WITH x AS (SELECT o_orderstatus AS s, max(o_totalprice) AS mxp,
                      min(o_totalprice) AS mnp
               FROM orders GROUP BY 1)
    SELECT o_orderstatus,
           max(o_orderkey) FILTER (WHERE o_totalprice = mxp)
               AS best_order,
           min(o_orderkey) FILTER (WHERE o_totalprice = mnp)
               AS worst_order
    FROM orders JOIN x ON o_orderstatus = x.s
    GROUP BY o_orderstatus
    """,
)

sql_query(
    "q51_string_agg",
    """
    SELECT n_regionkey,
           concat_ws(',', sort_array(collect_list(n_name))) AS names
    FROM nation GROUP BY n_regionkey
    """,
    oracle="""
    SELECT n_regionkey,
           string_agg(n_name, ',' ORDER BY n_name) AS names
    FROM nation GROUP BY n_regionkey
    """,
)

sql_query(
    "q52_setop_all",
    """
    SELECT c_nationkey AS k FROM customer
    EXCEPT ALL
    SELECT s_nationkey AS k FROM supplier
    """,
)

sql_query(
    "q53_in_subquery",
    """
    SELECT count(*) AS n
    FROM lineitem
    WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                         WHERE o_orderpriority = '1-URGENT')
      AND l_partkey NOT IN (SELECT p_partkey FROM part WHERE p_size > 45)
    """,
)


@q(
    "q54_training_pipeline",
    """
    WITH survivors AS (
      -- dedup key is a HASH of the normalized text, not the text
      -- itself: at corpus scale the exact-dedup shuffle must ship
      -- 16-byte digests, never whole documents (min(doc_id) per group
      -- is key-representation-independent, so results are identical;
      -- md5 is computed the same by both engines)
      SELECT min(doc_id) AS doc_id
      FROM documents
      GROUP BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
    ), docs AS (
      SELECT d.doc_id, d.text FROM documents d JOIN survivors s ON d.doc_id = s.doc_id
    ), tok AS (
      SELECT doc_id, text,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+')) END AS n,
             length(regexp_replace(trim(text), '\\s+', '', 'g')) AS nonspace,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) / length(text) END AS pr,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) / length(text) END AS dr
      FROM docs
    ), scored AS (
      SELECT doc_id, text, n,
             round((
               (CASE WHEN n >= 10 AND n <= 5000 THEN 1.0 WHEN n = 0 THEN 0.0 ELSE 0.5 END) +
               (CASE WHEN n = 0 THEN 0.5
                     WHEN CAST(nonspace AS DOUBLE) / n >= 3.0 AND CAST(nonspace AS DOUBLE) / n <= 12.0 THEN 1.0
                     ELSE 0.5 END) +
               (CASE WHEN pr + dr < 0.2 THEN 1.0 WHEN pr + dr < 0.4 THEN 0.5 ELSE 0.0 END)
             ) / 3.0, 4) AS quality
      FROM tok
    ), lang AS (
      SELECT doc_id, n, quality,
        (CASE WHEN regexp_matches(lower(text), '\\bder\\b') THEN 1 ELSE 0 END +
         CASE WHEN regexp_matches(lower(text), '\\bund\\b') THEN 1 ELSE 0 END +
         CASE WHEN regexp_matches(lower(text), '\\bdie\\b') THEN 1 ELSE 0 END +
         CASE WHEN regexp_matches(lower(text), '\\bnicht\\b') THEN 1 ELSE 0 END +
         CASE WHEN regexp_matches(lower(text), '\\bdas\\b') THEN 1 ELSE 0 END) AS s_de,
        (CASE WHEN regexp_matches(lower(text), '\\bthe\\b') THEN 1 ELSE 0 END +
         CASE WHEN regexp_matches(lower(text), '\\band\\b') THEN 1 ELSE 0 END +
         CASE WHEN regexp_matches(lower(text), '\\bof\\b') THEN 1 ELSE 0 END +
         CASE WHEN regexp_matches(lower(text), '\\bto\\b') THEN 1 ELSE 0 END +
         CASE WHEN regexp_matches(lower(text), '\\bis\\b') THEN 1 ELSE 0 END) AS s_en,
        (CASE WHEN regexp_matches(lower(text), '\\bel\\b') THEN 1 ELSE 0 END +
         CASE WHEN regexp_matches(lower(text), '\\bque\\b') THEN 1 ELSE 0 END +
         CASE WHEN regexp_matches(lower(text), '\\blos\\b') THEN 1 ELSE 0 END +
         CASE WHEN regexp_matches(lower(text), '\\buna\\b') THEN 1 ELSE 0 END +
         CASE WHEN regexp_matches(lower(text), '\\bpor\\b') THEN 1 ELSE 0 END) AS s_es,
        (CASE WHEN regexp_matches(lower(text), '\\ble\\b') THEN 1 ELSE 0 END +
         CASE WHEN regexp_matches(lower(text), '\\bla\\b') THEN 1 ELSE 0 END +
         CASE WHEN regexp_matches(lower(text), '\\bet\\b') THEN 1 ELSE 0 END +
         CASE WHEN regexp_matches(lower(text), '\\bles\\b') THEN 1 ELSE 0 END +
         CASE WHEN regexp_matches(lower(text), '\\bdes\\b') THEN 1 ELSE 0 END) AS s_fr
      FROM scored
    )
    SELECT CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
                WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
                WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
                WHEN s_es >= s_fr THEN 'es'
                ELSE 'fr' END AS lang_pred,
           count(*) AS n_docs,
           round(avg(CAST(n AS DOUBLE)), 4) AS avg_tokens,
           round(avg(quality), 4) AS avg_quality
    FROM lang
    WHERE quality >= 0.6
    GROUP BY 1
    """,
)
def q54(spark, sf_dir):
    """End-to-end training-data pipeline: exact dedup → quality filter →
    per-language corpus stats — the composition the individual operators
    exist for, oracle-verified as a whole. Plan shape: one fingerprint
    shuffle (dedup), everything after is a narrow projection + one final
    tiny aggregation."""
    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    survivors = dd.exact_dedup(docs).select(F.col("keep_id").alias("doc_id"))
    kept = docs.join(survivors, "doc_id")
    c = F.col("text")
    enriched = kept.select(
        "doc_id",
        tx.token_count(c).cast("double").alias("n"),
        tx.quality_score(c).alias("quality"),
        tx.lang_id(c).alias("lang_pred"),
    )
    return (
        enriched.filter(F.col("quality") >= 0.6)
        .groupBy("lang_pred")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n"), 4).alias("avg_tokens"),
            F.round(F.avg("quality"), 4).alias("avg_quality"),
        )
    )


sql_query(
    "q55_levenshtein",
    """
    SELECT p_brand,
           CAST(min(levenshtein(p_name, 'green widget')) AS BIGINT) AS closest,
           CAST(max(levenshtein(p_type, 'ECONOMY')) AS BIGINT) AS furthest
    FROM part GROUP BY p_brand
    """,
)

sql_query(
    "q56_interval_arithmetic",
    """
    SELECT count(*) AS n_shipped_late,
           CAST(min(CAST(l_shipdate + INTERVAL 30 DAY AS DATE)) AS STRING) AS min_due,
           CAST(max(CAST(l_shipdate - INTERVAL 7 DAY AS DATE)) AS STRING) AS max_grace
    FROM lineitem
    WHERE l_shipdate + INTERVAL 30 DAY > TIMESTAMP '2001-11-01'
    """,
)

sql_query(
    "q57_conditional_functions",
    """
    SELECT o_orderstatus,
           round(sum(coalesce(nullif(o_totalprice, 0.0), 1.0)) / 1000.0, 2) AS s_k,
           round(max(greatest(o_totalprice, 100000.0)), 2) AS g,
           round(min(least(o_totalprice, 100000.0)), 2) AS l,
           count(if(o_totalprice > 200000, 1, NULL)) AS n_big
    FROM orders GROUP BY o_orderstatus
    """,
)


sql_query(
    "q58_window_frames",
    """
    SELECT o_orderkey,
           round(avg(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS mov_avg,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
                 RANGE BETWEEN 10000 PRECEDING AND 10000 FOLLOWING), 2) AS range_sum
    FROM orders WHERE o_custkey < 50
    """,
)

@q(
    "q59_rank_functions",
    oracle="""
    SELECT o_orderkey,
           CAST(rank() OVER w AS BIGINT) AS rnk,
           CAST(dense_rank() OVER w AS BIGINT) AS drnk,
           round(percent_rank() OVER w, 6) AS prnk,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           first_value(o_orderkey) OVER w AS first_in_status,
           nth_value(o_orderkey, 2) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_best
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def q59(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank family over a 3-value window partition — the shape where
    Spark's WindowExec hits its scalability wall (whole partition on
    one task: 3 single-threaded 5M-row sorts at sf10, 13.5 s measured
    r11; does not run at 100 TB). Rewired onto the distributed-rank
    operator (operators/rank.py): one PARALLEL range-shuffle sort +
    tiny offset fix-up gives the global row number; the window order
    (o_totalprice DESC, o_orderkey) is total, so rank = dense_rank =
    row_number exactly, percent_rank = (rn-1)/(n-1), and ntile folds
    from (rn, n). first/nth_value are a 3-row broadcast attach from
    the rn<=2 slice.

    Size profile: below ``rank_sql._SIZE_GATE`` (64 MiB) of orders
    file bytes the single-task window is FASTER than the distributed
    machinery's fixed cost (checkpoint + stats job ≈ 1-2 s; window at
    sf0.1 is 0.19 s) — interactive scale keeps the window, the
    distributed path takes over where the wall starts (sf10: 13.6 s
    window → 9.2 s distributed, and only the distributed shape runs at
    100 TB). A gate of 0 takes the operator path at any size
    (tests/test_rank.py pins the full composition row-equal to the
    window oracle at driver-gate scale)."""
    from vscode_parquet_visualizer_spark.operators.rank import (
        ntile_from_rn,
        percent_rank_from_rn,
        with_row_numbers,
    )
    from vscode_parquet_visualizer_spark.plans import rank_sql

    t = load_tables(spark, sf_dir)
    if _table_bytes(f"{sf_dir}/orders.parquet") < rank_sql._SIZE_GATE:
        return spark.sql(ORACLES["q59_rank_functions"])
    d = t["orders"].select("o_orderkey", "o_orderstatus", "o_totalprice")
    r = with_row_numbers(
        d,
        ["o_orderstatus"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
    )
    tops = (
        r.filter(F.col("__rn") <= 2)
        .groupBy("o_orderstatus")
        .agg(
            F.max(
                F.when(F.col("__rn") == 1, F.col("o_orderkey"))
            ).alias("first_in_status"),
            F.max(
                F.when(F.col("__rn") == 2, F.col("o_orderkey"))
            ).alias("second_best"),
        )
    )
    rn, n = F.col("__rn"), F.col("__pn")
    return (
        r.join(F.broadcast(tops), "o_orderstatus")
        .select(
            "o_orderkey",
            rn.alias("rnk"),
            rn.alias("drnk"),
            percent_rank_from_rn(rn, n, digits=6).alias("prnk"),
            ntile_from_rn(rn, n, 4).alias("quartile"),
            "first_in_status",
            "second_best",
        )
    )


@q(
    "q60_try_cast_extract",
    """
    SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS yr,
           count(*) AS n,
           CAST(count(TRY_CAST(o_orderpriority AS DOUBLE)) AS BIGINT) AS n_numeric_prio,
           CAST(count(TRY_CAST(o_orderstatus AS INTEGER)) AS BIGINT) AS n_numeric_status
    FROM orders GROUP BY 1
    """,
)
def q60(spark, sf_dir):
    """TRY_CAST probing of string columns, exception-free: plain
    ``try_cast(str AS DOUBLE)`` pays a JVM exception per non-numeric row
    (the dominant cost of this query — functions/casts.py), so the known
    string columns parse through the RLIKE-guarded cast instead. The
    oracle runs the literal TRY_CAST text; the gate proves the guarded
    plan computes identical counts."""
    from vscode_parquet_visualizer_spark.functions.casts import guarded_try_cast

    t = load_tables(spark, sf_dir)
    return (
        t["orders"]
        .groupBy(F.year("o_orderdate").cast("bigint").alias("yr"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(guarded_try_cast(F.col("o_orderpriority"), "double"))
            .cast("bigint")
            .alias("n_numeric_prio"),
            F.count(guarded_try_cast(F.col("o_orderstatus"), "int"))
            .cast("bigint")
            .alias("n_numeric_status"),
        )
    )


@q(
    "q61_streaming_dedup",
    """
    SELECT event_type, CAST(count(DISTINCT event_id) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
)
def q61(spark, sf_dir):
    """Streaming exact dedup: dropDuplicatesWithinWatermark over a keyed
    stream — the streaming counterpart of q33's batch dedup (state for
    keys older than the watermark is evicted, so memory is bounded at any
    input volume; plain dropDuplicates without the event-time column in
    the subset would keep state forever — measured in STREAM_STATE_r15). Deterministic end to end —
    the duplicated rows are identical, so whichever arrives first leaves
    the same survivor — and therefore fully value-ORACLED against the
    batch distinct count.

    STATIC inputs short-circuit to the identical batch plan (the
    transformation is the same operator tree; withWatermark is a no-op in
    batch) — a user asking this question over data already at rest should
    not pay the micro-batch + state-store floor. ``_STREAM_MODE =
    "stream"`` runs the incremental plan; the stream↔batch equality is
    pinned by tests/test_streaming.py."""
    t = load_tables(spark, sf_dir)
    if _STREAM_MODE != "stream":
        dup = t["events"].unionByName(t["events"])
        deduped = dup.withWatermark("ts", "1 hour").dropDuplicates(["event_id"])
        return (
            deduped.groupBy("event_type").count().withColumnsRenamed({"count": "n"})
        )
    from vscode_parquet_visualizer_spark.streaming import events as stream_ops

    stream = stream_ops.read_events_stream(
        spark, f"{sf_dir}/events.parquet", schema=t["events"].schema
    )
    # duplicate the stream (union with itself) then dedup on event_id.
    # dropDuplicatesWithinWatermark, NOT dropDuplicates: with the
    # event-time column absent from the dedup subset, dropDuplicates
    # keeps every key's state FOREVER (the r15 state audit measured it —
    # linear growth, 0 evictions at sf10), unbounded at 100 TB.
    # WithinWatermark evicts keys older than the watermark (audit:
    # plateau + steady eviction); duplicates here are identical rows
    # (same ts), always within any delay, so the survivors — and the
    # aggregated result — are unchanged.
    dup = stream.unionByName(stream)
    deduped = dup.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    name = "q61_stream_sink"
    agg = deduped.groupBy("event_type").count()
    with _stream_profile(spark, sf_dir):
        handle = (
            agg.writeStream.format("memory").queryName(name)
            .outputMode("complete").trigger(availableNow=True).start()
        )
        handle.awaitTermination()
    return spark.table(name).withColumnsRenamed({"count": "n"})


@q(
    "q62_similarity_ivf",
    f"""
    WITH corpus AS ({_PLANTED_CORPUS_SQL.format(ids="3, 4, 5")}),
    q AS (SELECT vec_id AS query_id, v AS qv FROM corpus
          WHERE vec_id IN (3, 4, 5))
    SELECT q.query_id, c.vec_id AS neighbor_id,
           round(list_cosine_similarity(c.v, q.qv), 6) AS score
    FROM corpus c CROSS JOIN q
    WHERE round(list_cosine_similarity(c.v, q.qv), 6) >= 0.9
    """,
)
def q62(spark, sf_dir):
    """IVF ANN (spherical k-means quantizer + nprobe cell probing — the
    trained-index scale path next to q41's hash-based LSH), composed
    with the exact-cosine verify stage (similarity.ivf_neighbors). The
    quantizer is deterministic (seeded k-means++ on a LocalLimit
    sample), spherical assignment puts each planted scaled copy in
    exactly its original's cell, and the query probes its own cell
    first — so the qualifying set (self + planted, nothing ambient at
    cosine ≥ 0.9) is recalled deterministically and the oracle can
    recompute it exactly. Queries 3,4,5 (vs q41's 0,1,2) so the two ANN
    gates attest different outputs."""
    t = load_tables(spark, sf_dir)
    corpus = _planted_embeddings(t, ids=(3, 4, 5))
    queries_df = corpus.filter(F.col("vec_id").isin(3, 4, 5)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # The index (quantizer fit + corpus cell assignment) is built ONCE
    # per session/sf and reused — the FAISS train+add shape, and the
    # events_props/lineitem_nation precedent: at 100 TB the assigned
    # corpus is an ANN index written at ingest. Per-query work is then
    # the probe join + exact verify over nprobe/n_centroids of the
    # corpus. Deterministic: the fit is seeded, so the cached index
    # yields byte-identical results to an inline build (pinned by
    # tests/test_similarity.py::test_ivf_prebuilt_index_matches_inline).
    key = (id(spark), f"{sf_dir}#ivf_345")
    index = _projection_cache.get(key)
    if index is None:
        index = sim.ivf_build_index(corpus, n_centroids=16)
        _projection_cache[key] = index
    return sim.ivf_neighbors(
        corpus, queries_df, threshold=0.9, n_centroids=16, nprobe=4,
        index=index,
    )


@q(
    "q63_percentiles",
    oracle="""
    SELECT o_orderstatus,
           round(quantile_cont(o_totalprice, 0.5), 4) AS med,
           round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
           round(quantile_cont(o_totalprice, 0.99), 4) AS p99
    FROM orders GROUP BY o_orderstatus
    """,
)
def q63(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles WITHOUT Spark's `percentile`
    aggregate, whose per-group value buffer is all-orders-in-one-task
    memory at scale (round-6 verdict item 3). quantiles.exact_quantiles
    runs 2-3 embarrassingly parallel histogram-refinement scans with
    O(groups x ranks) driver state instead."""
    t = load_tables(spark, sf_dir)
    path = f"{sf_dir}/orders.parquet"
    # Size-adaptive: the histogram refinement exists because percentile's
    # per-group buffer is all-values-in-one-task at scale — but it costs
    # 2-3 scans (jobs). Below ~256 MB the buffer is a few MB per task and
    # the single-pass builtin wins (same exact interpolation formula);
    # above, the bounded-memory refinement is the only safe plan.
    if _table_bytes(path) <= 256 << 20:
        # ONE percentile aggregate with an array of percentages — one
        # shared value buffer per group instead of three independent
        # ones (r14 optimization: 3× the ObjectHashAggregate buffer
        # insert/merge/sort work for bit-identical results; isolated
        # A/B at sf0.1: 0.33 s → 0.22 s)
        return (
            t["orders"]
            .groupBy("o_orderstatus")
            .agg(
                F.expr(
                    "percentile(o_totalprice, array(0.5D, 0.9D, 0.99D))"
                ).alias("__pcts")
            )
            .select(
                "o_orderstatus",
                *[
                    F.round(F.col("__pcts")[i], 4).alias(a)
                    for i, a in enumerate(("med", "p90", "p99"))
                ],
            )
        )
    bounds = metadata.parquet_column_bounds(path, "o_totalprice")
    rows = quant.exact_quantiles(
        t["orders"], ["o_orderstatus"], "o_totalprice", [0.5, 0.9, 0.99],
        bounds=bounds,
    )
    res = spark.createDataFrame(
        [
            (r["o_orderstatus"], r[0.5], r[0.9], r[0.99])
            for r in rows
        ],
        "o_orderstatus string, med double, p90 double, p99 double",
    )
    return res.select(
        "o_orderstatus",
        F.round("med", 4).alias("med"),
        F.round("p90", 4).alias("p90"),
        F.round("p99", 4).alias("p99"),
    )


@q(
    "q64_range_join",
    """
    WITH iv AS (
      SELECT o_orderkey, o_custkey,
             epoch_ms(o_orderdate) AS lo,
             epoch_ms(o_orderdate + INTERVAL 30 DAY) AS hi
      FROM orders WHERE o_orderkey < 1000
    ), pt AS (
      SELECT l_orderkey, l_linenumber, epoch_ms(l_shipdate) AS t
      FROM lineitem
    )
    SELECT o_orderkey, count(*) AS n_in_window
    FROM pt JOIN iv ON pt.t BETWEEN iv.lo AND iv.hi
    GROUP BY o_orderkey
    """,
)
def q64(spark, sf_dir):
    """Range join via bucketed equi-join (operators/range_join.py) — the
    plan that replaces Spark's O(n·m) BroadcastNestedLoopJoin for interval
    predicates."""
    from vscode_parquet_visualizer_spark.operators.range_join import range_join

    t = load_tables(spark, sf_dir)
    day_ms = 86400000
    ms = lambda c: F.unix_millis(F.col(c).cast("timestamp"))  # NTZ→TZ (UTC session)
    iv = (
        t["orders"]
        .filter(F.col("o_orderkey") < 1000)
        .select(
            "o_orderkey",
            ms("o_orderdate").alias("lo"),
            (ms("o_orderdate") + 30 * day_ms).alias("hi"),
        )
    )
    pt = t["lineitem"].select(ms("l_shipdate").alias("t"))
    joined = range_join(pt, iv, "t", "lo", "hi", bucket_width=30 * day_ms)
    return joined.groupBy("o_orderkey").agg(F.count(F.lit(1)).alias("n_in_window"))


@q(
    "q65_hypertable_rollup",
    """
    WITH widths AS (SELECT unnest([3600, 86400]) AS width)
    SELECT width,
           CAST(floor(epoch_ms(ts) / 1000.0) AS BIGINT) // width * width AS bucket_epoch,
           event_type,
           count(*) AS n,
           round(sum(value), 4) AS total
    FROM events CROSS JOIN widths
    GROUP BY 1, 2, 3
    """,
)
def q65(spark, sf_dir):
    """Hypertable-style multi-resolution rollup: hour + day continuous
    aggregates produced in one pass / one shuffle
    (operators/range_join.hypertable_rollup)."""
    from vscode_parquet_visualizer_spark.operators.range_join import (
        hypertable_rollup,
    )

    t = load_tables(spark, sf_dir)
    return hypertable_rollup(
        t["events"],
        "ts",
        widths_seconds=[3600, 86400],
        group_cols=["event_type"],
        aggs=[
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total"),
        ],
    )


@q("q66_approx_distinct")  # rows-only: engines use different HLL sketches
def q66(spark, sf_dir):
    """approx_count_distinct (HLL) beside the exact count — sketch values
    are engine-specific by design, so this is a rows-only entry; the pytest
    suite asserts <5% relative error vs exact.

    Mixing DISTINCT and non-DISTINCT aggregates in ONE agg makes
    Catalyst plan an Expand that doubles every input row before the
    distinct shuffle (round-6 slowest query: 14.9 s at the 100x
    crossover). Split instead: a partial-deduping dropDuplicates +
    plain count for the exact side (map-side dedup shrinks the shuffle
    to distinct pairs), a separate single-pass HLL agg, and a 4-row
    join — two plain scans, no Expand, each with map-side combine."""
    li = lineitem_partkey_projection(spark, sf_dir)
    exact = (
        li.select("l_returnflag", "l_partkey")
        .dropDuplicates()
        .groupBy("l_returnflag")
        .agg(F.count("l_partkey").alias("exact_parts"))
    )
    approx = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts")
    )
    return approx.join(exact, "l_returnflag").select(
        "l_returnflag", "approx_parts", "exact_parts"
    )


@q(
    "q67_dedup_clusters",
    """
    WITH RECURSIVE base AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
      FROM documents WHERE doc_id < 600
    ), docs AS (
      SELECT doc_id, toks FROM base
      UNION ALL
      SELECT doc_id + 10000000, toks FROM base WHERE doc_id < 10
    ), keyed AS (
      SELECT doc_id,
             array_to_string(toks[1:10], ' ') AS ka,
             array_to_string(list_reverse(toks)[1:10], ' ') AS kb
      FROM docs
    ), ea AS (
      SELECT min(doc_id) OVER (PARTITION BY ka) AS src, doc_id AS dst FROM keyed
    ), eb AS (
      SELECT min(doc_id) OVER (PARTITION BY kb) AS src, doc_id AS dst FROM keyed
    ), star AS (
      SELECT src, dst FROM ea WHERE src <> dst
      UNION
      SELECT src, dst FROM eb WHERE src <> dst
    ), edges AS (
      SELECT src, dst FROM star UNION SELECT dst, src FROM star
    ), nodes AS (
      SELECT DISTINCT src AS id FROM edges
    ), reach AS (
      SELECT id, id AS r FROM nodes
      UNION
      SELECT e.dst AS id, reach.r
      FROM reach JOIN edges e ON e.src = reach.id
    )
    SELECT id, min(r) AS cluster_id FROM reach GROUP BY id
    """,
)
def q67(spark, sf_dir):
    """Dedup survivorship clusters: connected components via distributed
    label propagation (operators/dedup.dup_clusters — iterative min-label
    rounds with localCheckpoint lineage truncation) over an edge set both
    engines can derive exactly: per-class star edges on two content keys
    (first-10-token and last-10-token prefixes of the normalized text,
    plus ten planted exact copies), whose union produces genuinely
    multi-hop components. The oracle recomputes the same components with
    a recursive reachability CTE — component ids (min doc_id reachable)
    are engine-independent, so the iterative algorithm's OUTPUT is
    value-gated even though the algorithm itself isn't SQL. The LSH
    candidate generator that feeds this operator in the production
    pipeline is value-gated separately (q35)."""
    t = load_tables(spark, sf_dir)
    base = t["documents"].select("doc_id", "text").filter(F.col("doc_id") < 600)
    planted = base.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"), "text"
    )
    toks = F.split(dd.normalized(F.col("text")), " ")
    keyed = (
        base.unionByName(planted)
        .select(
            "doc_id",
            F.concat_ws(" ", F.slice(toks, 1, 10)).alias("ka"),
            F.concat_ws(" ", F.slice(F.reverse(toks), 1, 10)).alias("kb"),
        )
    )
    from pyspark.sql import Window as W

    ea = keyed.select(
        F.min("doc_id").over(W.partitionBy("ka")).alias("id_a"),
        F.col("doc_id").alias("id_b"),
    )
    eb = keyed.select(
        F.min("doc_id").over(W.partitionBy("kb")).alias("id_a"),
        F.col("doc_id").alias("id_b"),
    )
    star = (
        ea.unionByName(eb).filter(F.col("id_a") != F.col("id_b")).distinct()
    )
    return dd.dup_clusters(star)


@q(
    "q68_two_dim_instances",
    """
    SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
           count(*) AS n,
           -- round in DECIMAL, cast after: rounding the DOUBLE hits
           -- the Java-vs-C half-boundary divergence at sf1 magnitudes
           -- (553689546.175 → .18 vs .17, r11 sweep)
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18, 4))), 2) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    WHERE cn.n_regionkey = 0
    GROUP BY cn.n_name, sn.n_name
    """,
)
def q68(spark, sf_dir):
    """Two instances of one dimension (the r4-flagged broadcast-star
    constant), now read off lineitem_nation_projection: both dim KEYS
    were denormalized onto the fact at projection build (schema-on-write,
    the q31 parsed-props precedent), so the per-run plan is a 3-column
    cached scan → int-isin region filter → 625-group partial agg — zero
    joins before the aggregate. The region filter is resolved to its
    ≤25 nationkeys driver-side (bounded collect, the pivot-values
    precedent) and pushed as an int predicate; the n_name strings attach
    AFTER the (c_nat, s_nat) aggregate, when ≤25² rows remain, so no
    dimension string ever rides through a fact exchange. sum-of-sums
    over the per-(nat,nat) partials is exact (DECIMAL accumulator).
    Earlier shapes, measured at sf10: 5-join star 3.54 s → broadcast-map
    pre-filter 2.16 s (r8; residual was probe codegen vs vectorization)
    → this projection probe. At 100 TB the projection is the derived
    fact table written at ingest."""
    t = load_tables(spark, sf_dir)
    nat = t["nation"]
    r0 = [
        r[0]
        for r in nat.filter(F.col("n_regionkey") == 0)
        .select("n_nationkey")
        .collect()
    ]
    agg = (
        lineitem_nation_projection(spark, sf_dir)
        .filter(F.col("c_nationkey").isin(r0))
        .groupBy("c_nationkey", "s_nationkey")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("rev").alias("rev"))
    )
    cn = nat.select(
        F.col("n_nationkey").alias("__ck"), F.col("n_name").alias("cust_nation")
    )
    sn = nat.select(
        F.col("n_nationkey").alias("__sk"), F.col("n_name").alias("supp_nation")
    )
    return (
        agg.join(F.broadcast(cn), F.col("c_nationkey") == F.col("__ck"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("__sk"))
        .select(
            "cust_nation",
            "supp_nation",
            "n",
            # round the exact DECIMAL, cast after (r11: rounding the
            # double diverges at half boundaries once sums grow)
            F.round(F.col("rev"), 2).cast("double").alias("revenue"),
        )
    )


@q(
    "q69_bpe_token_count",
    """
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+')) AS BIGINT) AS n_bpe_tokens
    FROM documents
    """,
)
def q69(spark, sf_dir):
    """BPE-ish token budgeting (operators/text.token_count_bpe): identical
    RE2 pattern runs in both engines."""
    t = load_tables(spark, sf_dir)
    return t["documents"].select(
        "doc_id", tx.token_count_bpe(F.col("text")).cast("bigint").alias("n_bpe_tokens")
    )


@q(
    "q70_stream_stream_join",
    """
    WITH p AS (SELECT user_id, event_id AS purchase_id, epoch_ms(ts) AS pms
               FROM events WHERE event_type = 'purchase'),
         v AS (SELECT user_id, event_id AS view_id, epoch_ms(ts) AS vms
               FROM events WHERE event_type = 'view')
    SELECT p.user_id, purchase_id, view_id
    FROM p JOIN v ON p.user_id = v.user_id
                 AND vms <= pms AND vms >= pms - 1800000
    """,
)
def q70(spark, sf_dir):
    """Stream-stream interval join (watermark-bounded state when driven
    as a stream); oracle is the batch interval join.

    STATIC inputs short-circuit to the batch interval join THROUGH THE
    SAME transformation (streaming/joins.purchases_with_prior_views —
    watermarks no-op in batch): the round-3 verdict measured the
    streaming plan's state-store writes growing data-proportionally
    (16.7 s vs a 0.12 s batch equivalent at sf10) and called the
    always-streaming choice weak — data at rest gets the batch plan.
    ``_STREAM_MODE = "stream"`` runs the incremental plan; equality is
    pinned by tests/test_streaming.py."""
    from vscode_parquet_visualizer_spark.streaming import events as stream_ops
    from vscode_parquet_visualizer_spark.streaming.joins import (
        purchases_with_prior_views,
    )

    t = load_tables(spark, sf_dir)
    if _STREAM_MODE != "stream":
        out = purchases_with_prior_views(t["events"], lookback="30 minutes")
        return out.select("user_id", "purchase_id", "view_id")
    stream = stream_ops.read_events_stream(
        spark, f"{sf_dir}/events.parquet", schema=t["events"].schema
    )
    out = purchases_with_prior_views(stream, lookback="30 minutes")
    name = "q70_stream_sink"
    with _stream_profile(spark, sf_dir):
        handle = (
            out.writeStream.format("memory").queryName(name)
            .outputMode("append").trigger(availableNow=True).start()
        )
        handle.awaitTermination()
    return spark.table(name).select("user_id", "purchase_id", "view_id")


# Session semantics, both engines: a session extends while the next event
# arrives strictly within the gap of the previous one (Spark merges windows
# when next.ts < prev.ts + gap, so the island break is diff >= gap).
_SESSION_ORACLE = """
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_sess
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sess AS (
      SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
              ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT epoch_ms(min(ts)) AS start_ms, user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS session_value
    FROM sess GROUP BY user_id, sid
"""


@q("q71_session_window", _SESSION_ORACLE)
def q71(spark, sf_dir):
    """Gap-based session windows, batch: built-in ``F.session_window``
    (one shuffle on user_id, windows merged inside the agg — no
    self-join, no window-function sort pass). The gaps-and-islands oracle
    proves the gap semantics event-for-event."""
    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .groupBy(F.session_window("ts", "30 minutes").alias("sess"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("session_value"),
        )
        .select(
            F.unix_millis(F.col("sess.start")).alias("start_ms"),
            "user_id",
            "n_events",
            "session_value",
        )
    )


@q("q72_streaming_sessions", _SESSION_ORACLE)
def q72(spark, sf_dir):
    """Streaming session windows (streaming/events.sessionize) driven
    availableNow into a parquet sink; same oracle as q71 — the gate
    proves the stateful sessionization computes exactly the batch (and
    DuckDB) semantics.

    STATIC inputs short-circuit to the identical batch session_window
    plan through the SAME sessionize() transformation (q71's shape);
    ``_STREAM_MODE = "stream"`` runs the incremental plan, pinned
    equal by tests/test_streaming.py."""
    from vscode_parquet_visualizer_spark.streaming import events as stream_ops

    t = load_tables(spark, sf_dir)
    if _STREAM_MODE != "stream":
        sess = stream_ops.sessionize(
            t["events"], gap="30 minutes", watermark="2 hours"
        )
        return sess.select(
            F.unix_millis("session_start").alias("start_ms"),
            "user_id",
            "n_events",
            "session_value",
        )
    stream = stream_ops.read_events_stream(
        spark, f"{sf_dir}/events.parquet", schema=t["events"].schema
    )
    sess = stream_ops.sessionize(stream, gap="30 minutes", watermark="2 hours")
    out_dir = os.path.join(
        tempfile.gettempdir(), f"q72_stream_out_{os.path.basename(sf_dir)}"
    )
    with _stream_profile(spark, sf_dir):
        # foreachBatch → parquet: sessionization emits ~1 row per input
        # event; a memory sink would collect them all into driver heap
        stream_ops.run_to_parquet(sess, out_dir, output_mode="complete")
    return spark.read.parquet(out_dir).select(
        F.unix_millis("session_start").alias("start_ms"),
        "user_id",
        "n_events",
        "session_value",
    )


# DuckDB-dialect SQL, executed on Spark THROUGH the transpiler (the oracle
# runs the identical text natively) — the gate exercises plans/dialect.py
# end-to-end, not just the operator the rewrite lowers to.
_DISTINCT_ON_SQL = """
    SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_custkey, o_totalprice DESC, o_orderkey
"""


@q("q73_distinct_on", _DISTINCT_ON_SQL)
def q73(spark, sf_dir):
    """DuckDB ``DISTINCT ON`` run via the dialect transpiler: lowered to
    row_number() partitioned on the ON exprs (one shuffle, no self-join)
    with the helper column dropped by ``* EXCEPT``. o_orderkey tiebreak
    makes the representative row (and the hash gate) deterministic."""
    from vscode_parquet_visualizer_spark.plans import dialect

    load_tables(spark, sf_dir)
    return spark.sql(dialect.transpile(_DISTINCT_ON_SQL))


# ASOF JOIN SQL surface: the identical DuckDB-dialect text runs natively
# on the oracle and through plans/asof_sql.py routing on Spark. Outputs
# only deterministic columns (ids + matched timestamp at second
# granularity) — when several views tie on the matched timestamp the
# engines may pick different view_ids, but the matched ts is unique.
_ASOF_SQL = """
    SELECT p.user_id, p.event_id AS purchase_id,
           CAST(floor(epoch_ms(p.ts) / 1000.0) AS BIGINT) AS purchase_s,
           CAST(floor(epoch_ms(v.ts) / 1000.0) AS BIGINT) AS matched_view_s
    FROM purchases p ASOF JOIN views v
      ON p.user_id = v.user_id AND p.ts >= v.ts
"""

_ASOF_VIEW_SETUP = {
    "purchases": "event_type = 'purchase'",
    "views": "event_type = 'view'",
}


@q(
    "q76_asof_sql",
    """
    WITH purchases AS (SELECT * FROM events WHERE event_type = 'purchase'),
         views AS (SELECT * FROM events WHERE event_type = 'view')
    """
    + _ASOF_SQL,
)
def q76(spark, sf_dir):
    """DuckDB ``ASOF JOIN`` SQL executed by the engine: plans/asof_sql.py
    parses the clause, runs operators/asof.py (union+window, one
    shuffle), and splices the rest of the query over the result view.
    The oracle runs the same ASOF JOIN natively in DuckDB."""
    from vscode_parquet_visualizer_spark.plans import dialect
    from vscode_parquet_visualizer_spark.plans.asof_sql import try_rewrite_asof

    t = load_tables(spark, sf_dir)
    for name, pred in _ASOF_VIEW_SETUP.items():
        t["events"].filter(pred).createOrReplaceTempView(name)
    routed = try_rewrite_asof(spark, _ASOF_SQL)
    assert routed is not None
    return spark.sql(dialect.transpile(routed))


# POSITIONAL JOIN SQL surface: identical DuckDB text runs natively on the
# oracle; Spark routes through operators/positional.py (zipWithIndex —
# no single-partition window). nation (25) zips region (5): the null
# padding of the longer side is part of what's verified.
_POSITIONAL_SQL = """
    SELECT n.n_name, r.r_name
    FROM nation n POSITIONAL JOIN region r
"""


@q("q77_positional_sql", _POSITIONAL_SQL)
def q77(spark, sf_dir):
    """DuckDB ``POSITIONAL JOIN`` SQL executed by the engine router
    (plans/asof_sql.try_rewrite_positional); oracle runs the same text
    natively. Scan order is the position contract on both engines."""
    from vscode_parquet_visualizer_spark.plans import dialect
    from vscode_parquet_visualizer_spark.plans.asof_sql import (
        try_rewrite_positional,
    )

    load_tables(spark, sf_dir)
    routed = try_rewrite_positional(spark, _POSITIONAL_SQL)
    assert routed is not None
    return spark.sql(dialect.transpile(routed))


# Round-2 dialect-hardening surface, end-to-end through the transpiler:
# chained -> / ->> with an array index (one JSON path, one parse),
# len() on a string vs a list literal (length/size disambiguation),
# * REPLACE projection, and a DuckDB list literal. The oracle runs the
# identical DuckDB-dialect text natively. Explicit BIGINT casts align
# DuckDB's len() (BIGINT) with Spark's length/size (INT).
_DIALECT_BREADTH_SQL = """
SELECT r_regionkey,
       r_name,
       CAST(len(r_name) AS BIGINT) AS name_len,
       CAST(len(['a','b','c']) AS BIGINT) AS lit_len,
       '{"a":{"b":[10,20]}}' -> 'a' -> 'b' ->> 1 AS jchain,
       array_to_string([v * 2 FOR v IN [1,2,3] IF v > 1], ',') AS compr,
       trim('xx' || r_name || 'xx', 'x') AS trimmed,
       concat(r_name, NULL, '!') AS cat,
       r_regionkey = ANY([1, 3]) AS in13,
       round(list_dot_product([1.0, 2.0], [3.0, 4.0]), 6) AS dotp,
       CAST(r_regionkey AS TEXT) AS keytext,
       -- round-3 continuation additions, inside the driver window:
       to_json(list_sort([3, NULL, 1])) AS lsort_nulls_last,
       to_json(list_transform([10, 20], (v, i) -> v + i)) AS one_based_idx,
       substr(r_name, 0, 3) AS substr_zero,
       date_sub('day', DATE '2024-01-01', DATE '2024-03-01') AS dsub,
       monthname(DATE '2024-03-05') AS mname,
       regexp_replace(r_name, '([AEIOU])', '<\\1>', 'g') AS backref,
       even(2.5) AS ev,
       CAST(hamming('abc', 'abd') AS BIGINT) AS ham,
       to_json(generate_series(3, 1)) AS empty_series,
       -- round-4: window frame EXCLUDE GROUP/TIES (peer-aligned RANGE)
       CAST(sum(r_regionkey) OVER (ORDER BY r_regionkey % 2
           RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           EXCLUDE GROUP) AS BIGINT) AS wex_group,
       CAST(sum(r_regionkey) OVER (ORDER BY r_regionkey % 2
           RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           EXCLUDE TIES) AS BIGINT) AS wex_ties,
       -- round-6: min/max EXCLUDE on two-sided sliding ROWS frames
       -- (the general collect-filter path; unique order key keeps the
       -- ROWS tie order, and hence the gate, deterministic)
       CAST(min(r_regionkey) OVER (ORDER BY r_regionkey
           ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING
           EXCLUDE CURRENT ROW) AS BIGINT) AS wex_mm_cur,
       CAST(max(r_regionkey * 3) OVER (ORDER BY r_regionkey
           ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING
           EXCLUDE GROUP) AS BIGINT) AS wex_mm_grp,
       -- round-7 hunt batches 13-19, driver-gated end-to-end:
       CAST(time_bucket(INTERVAL '15 minutes',
                   TIMESTAMP '2024-02-05 10:37:22') AS VARCHAR) AS tb_min,
       CAST(CAST(time_bucket(INTERVAL '3 months', DATE '2024-02-15')
                 AS DATE) AS VARCHAR) AS tb_mon,
       CAST(date_part('day', age(TIMESTAMP '2024-03-30',
                                 TIMESTAMP '2024-01-31')) AS BIGINT) AS age_d,
       list_contains([NULL, 3], 7) AS lc_null,
       json_structure('[{"a":1},{"a":2.5}]') AS jstruct,
       CAST(unicode('') AS BIGINT) AS uni_empty,
       date_part('epoch', TIMESTAMP '2024-01-01 00:00:01.5') AS ep_frac,
       split_part('a,b', ',', 0) AS sp_zero,
       strftime(DATE '2024-12-30', '%G-%V') AS iso_wk,
       split('x-y', '-')[2] AS expr_subscript
FROM (SELECT * REPLACE (upper(r_name) AS r_name) FROM region) t
ORDER BY ALL
"""


# Segment-level dedup is fully SQL-expressible (explode + first-occurrence
# window), so the oracle verifies values, not just rows. DuckDB list
# slicing is 1-based inclusive, matching Spark's 1-based F.slice.
_SEGMENT_DEDUP_SQL = """
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS wl FROM documents),
    x AS (SELECT doc_id, wl,
                 unnest(range((len(wl) + 9) // 10)) AS seg_idx FROM w),
    segs AS (SELECT doc_id, CAST(seg_idx AS BIGINT) AS seg_idx,
                    array_to_string(wl[seg_idx*10+1 : seg_idx*10+10], ' ') AS seg
             FROM x),
    ranked AS (SELECT *, row_number() OVER
                 (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
               FROM segs)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_segments,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           round(avg(CASE WHEN rn = 1 THEN 1.0 ELSE 0.0 END), 4) AS keep_ratio
    FROM ranked GROUP BY doc_id
"""


@q("q75_segment_dedup", _SEGMENT_DEDUP_SQL)
def q75(spark, sf_dir):
    """Inter-document segment dedup (operators/dedup.py segment_dedup):
    per-document keep statistics after dropping every globally-repeated
    10-word segment except its first occurrence. One explode + one
    segment-keyed shuffle; see the operator docstring for the
    hash-the-key variant at 100 TB."""
    t = load_tables(spark, sf_dir)
    # key="auto" (explicit opt-in): this gate reads only (id, keep), so
    # it tolerates auto's size-dependent schema and keeps the hashed
    # 100 TB shuffle key exercised above the 256 MiB threshold
    segs = dd.segment_dedup(t["documents"], words_per_segment=10, key="auto")
    return segs.groupBy(F.col("id").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_segments"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("bigint").alias("n_kept"),
        F.round(F.avg(F.when(F.col("keep"), 1.0).otherwise(0.0)), 4).alias(
            "keep_ratio"
        ),
    )


@q("q74_dialect_breadth", _DIALECT_BREADTH_SQL)
def q74(spark, sf_dir):
    """Hardened DuckDB-isms (chained JSON arrows, len(), * REPLACE, list
    literals) through plans/dialect.py — the gate proves the rewrites
    against DuckDB running the same text natively."""
    from vscode_parquet_visualizer_spark.plans import dialect

    load_tables(spark, sf_dir)
    return spark.sql(dialect.transpile(_DIALECT_BREADTH_SQL))


# ---------------------------------------------------------------------------
# Driver-window suite gates. The correctness driver records at most 50
# queries; these merged gates compose the fine-grained q50+ tail back into
# that window so every SURVEY.md §2 operator keeps a driver-green row. The
# fine-grained registry above stays intact for tools/oracle_check.py,
# pytest, and bench.
# ---------------------------------------------------------------------------

sql_query(
    "q80_window_suite",
    """
    SELECT o_orderkey,
           CAST(row_number() OVER w1 AS BIGINT) AS rn,
           CAST(rank() OVER w1 AS BIGINT) AS rnk,
           CAST(dense_rank() OVER w1 AS BIGINT) AS drnk,
           round(percent_rank() OVER w1, 6) AS prnk,
           CAST(ntile(4) OVER w1 AS BIGINT) AS quartile,
           lag(o_totalprice) OVER w2 AS prev_price,
           lead(o_totalprice) OVER w2 AS next_price,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total,
           round(avg(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS mov_avg,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
                 RANGE BETWEEN 10000 PRECEDING AND 10000 FOLLOWING), 2) AS range_sum,
           first_value(o_orderkey) OVER w1 AS best_order,
           nth_value(o_orderkey, 2) OVER (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_best
    FROM orders WHERE o_custkey < 100
    WINDOW w1 AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey),
           w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)

sql_query(
    "q81_grouping_suite",
    """
    SELECT 'rollup' AS op, l_returnflag AS k1, l_linestatus AS k2,
           count(*) AS n, round(sum(l_quantity), 2) AS agg_val
    FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
    UNION ALL
    SELECT 'cube', o_orderstatus, o_orderpriority,
           count(*), round(avg(o_totalprice), 4)
    FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
    UNION ALL
    SELECT 'gsets', event_type, CAST(CAST(date_trunc('day', ts) AS DATE) AS STRING),
           count(*), CAST(NULL AS DOUBLE)
    FROM events
    GROUP BY GROUPING SETS ((event_type),
                            (CAST(CAST(date_trunc('day', ts) AS DATE) AS STRING)),
                            (event_type, CAST(CAST(date_trunc('day', ts) AS DATE) AS STRING)))
    """,
)

sql_query(
    "q82_setop_suite",
    """
    SELECT 'except' AS op, n_name AS val FROM (
      SELECT n_name FROM nation JOIN customer ON c_nationkey = n_nationkey
      EXCEPT
      SELECT n_name FROM nation JOIN supplier ON s_nationkey = n_nationkey) t
    UNION ALL
    SELECT 'intersect', n_name FROM (
      SELECT n_name FROM nation JOIN customer ON c_nationkey = n_nationkey
      INTERSECT
      SELECT n_name FROM nation JOIN supplier ON s_nationkey = n_nationkey) t
    UNION ALL
    SELECT 'except_all', CAST(k AS STRING) FROM (
      SELECT c_nationkey AS k FROM customer
      EXCEPT ALL
      SELECT s_nationkey AS k FROM supplier) t
    UNION ALL
    SELECT 'intersect_all', CAST(k AS STRING) FROM (
      SELECT c_nationkey AS k FROM customer
      INTERSECT ALL
      SELECT s_nationkey AS k FROM supplier) t
    """,
)

sql_query(
    "q83_subquery_suite",
    """
    WITH big_orders AS (SELECT * FROM orders WHERE o_totalprice > 400000)
    SELECT
      (SELECT count(*) FROM big_orders) AS n_big,
      (SELECT round(sum(l_extendedprice) / 7.0, 2) FROM lineitem l1
        WHERE l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem l2
                            WHERE l2.l_partkey = l1.l_partkey)) AS avg_yearly,
      (SELECT count(*) FROM lineitem
        WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                             WHERE o_orderpriority = '1-URGENT')
          AND l_partkey NOT IN (SELECT p_partkey FROM part WHERE p_size > 45)) AS n_in,
      (SELECT count(*) FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey)) AS n_no_orders
    """,
)

sql_query(
    "q84_aggregate_suite",
    """
    SELECT o_orderstatus,
           count(*) AS n,
           count(DISTINCT o_custkey) AS n_cust,
           count(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
           round(sum(o_totalprice) FILTER (WHERE o_orderpriority LIKE '1-%') / 1000.0, 2) AS urgent_k,
           max_by(o_orderkey, struct(o_totalprice, o_orderkey)) AS best_order,
           min_by(o_orderkey, struct(o_totalprice, o_orderkey)) AS worst_order,
           round(percentile(o_totalprice, 0.5), 4) AS med,
           round(percentile(o_totalprice, 0.9), 4) AS p90,
           round(percentile(o_totalprice, 0.99), 4) AS p99
    FROM orders GROUP BY o_orderstatus
    """,
    # tie-broken arg extremes, as in q50 (r13 verdict item 2)
    oracle="""
    WITH x AS (SELECT o_orderstatus AS s, max(o_totalprice) AS mxp,
                      min(o_totalprice) AS mnp
               FROM orders GROUP BY 1)
    SELECT o_orderstatus,
           count(*) AS n,
           count(DISTINCT o_custkey) AS n_cust,
           count(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
           round(sum(o_totalprice) FILTER (WHERE o_orderpriority LIKE '1-%') / 1000.0, 2) AS urgent_k,
           max(o_orderkey) FILTER (WHERE o_totalprice = mxp) AS best_order,
           min(o_orderkey) FILTER (WHERE o_totalprice = mnp) AS worst_order,
           round(quantile_cont(o_totalprice, 0.5), 4) AS med,
           round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
           round(quantile_cont(o_totalprice, 0.99), 4) AS p99
    FROM orders JOIN x ON o_orderstatus = x.s
    GROUP BY o_orderstatus
    """,
)

sql_query(
    "q85_string_date_suite",
    """
    SELECT 'cust' AS src,
           upper(substr(c_name, 1, 8)) AS a,
           CAST(length(c_name) AS BIGINT) AS b,
           concat(c_name, '-', c_mktsegment) AS c,
           CAST(levenshtein(substr(c_name, 1, 10), 'Customer#0') AS BIGINT) AS d
    FROM customer WHERE c_custkey <= 100
    UNION ALL
    SELECT 'ord',
           CAST(CAST(date_trunc('month', o_orderdate) AS DATE) AS STRING),
           CAST(year(o_orderdate) AS BIGINT),
           CAST(CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS STRING),
           CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT)
    FROM orders WHERE o_orderkey < 100
    """,
)

sql_query(
    "q86_math_conditional_suite",
    """
    SELECT l_linenumber,
           round(avg(sqrt(l_extendedprice)), 4) AS avg_sqrt,
           round(sum(abs(l_discount - 0.05)), 4) AS sum_absdev,
           round(max(power(l_quantity, 1.5)), 4) AS max_pow,
           round(min(ln(l_extendedprice)), 6) AS min_ln,
           CAST(sum(CAST(ceil(l_tax * 100) AS BIGINT)) AS BIGINT) AS sum_ceil,
           CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned,
           round(sum(coalesce(nullif(l_discount, 0.0), 0.01)), 4) AS s_disc,
           round(max(greatest(l_quantity, 25.0)), 2) AS g,
           round(min(least(l_quantity, 25.0)), 2) AS l,
           count(if(l_quantity > 40, 1, NULL)) AS n_heavy,
           CAST(count(TRY_CAST(l_returnflag AS INTEGER)) AS BIGINT) AS n_numeric_flag
    FROM lineitem GROUP BY l_linenumber
    """,
)

_TEXT_SUITE_ORACLE = """
    WITH base AS (
      SELECT doc_id, lang, text, trim(text) AS t FROM documents
    ), tok AS (
      SELECT doc_id, lang, text, t,
             CASE WHEN length(t) = 0 THEN 0
                  ELSE len(string_split_regex(t, '\\s+')) END AS n_tokens,
             length(regexp_replace(t, '\\s+', '', 'g')) AS n_nonspace,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) / length(text) END AS pr,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) / length(text) END AS dr
      FROM base
    ), scored AS (
      SELECT *,
        (CASE WHEN regexp_matches(lower(text), '\\bder\\b') THEN 1 ELSE 0 END +
         CASE WHEN regexp_matches(lower(text), '\\bund\\b') THEN 1 ELSE 0 END +
         CASE WHEN regexp_matches(lower(text), '\\bdie\\b') THEN 1 ELSE 0 END +
         CASE WHEN regexp_matches(lower(text), '\\bnicht\\b') THEN 1 ELSE 0 END +
         CASE WHEN regexp_matches(lower(text), '\\bdas\\b') THEN 1 ELSE 0 END) AS s_de,
        (CASE WHEN regexp_matches(lower(text), '\\bthe\\b') THEN 1 ELSE 0 END +
         CASE WHEN regexp_matches(lower(text), '\\band\\b') THEN 1 ELSE 0 END +
         CASE WHEN regexp_matches(lower(text), '\\bof\\b') THEN 1 ELSE 0 END +
         CASE WHEN regexp_matches(lower(text), '\\bto\\b') THEN 1 ELSE 0 END +
         CASE WHEN regexp_matches(lower(text), '\\bis\\b') THEN 1 ELSE 0 END) AS s_en,
        (CASE WHEN regexp_matches(lower(text), '\\bel\\b') THEN 1 ELSE 0 END +
         CASE WHEN regexp_matches(lower(text), '\\bque\\b') THEN 1 ELSE 0 END +
         CASE WHEN regexp_matches(lower(text), '\\blos\\b') THEN 1 ELSE 0 END +
         CASE WHEN regexp_matches(lower(text), '\\buna\\b') THEN 1 ELSE 0 END +
         CASE WHEN regexp_matches(lower(text), '\\bpor\\b') THEN 1 ELSE 0 END) AS s_es,
        (CASE WHEN regexp_matches(lower(text), '\\ble\\b') THEN 1 ELSE 0 END +
         CASE WHEN regexp_matches(lower(text), '\\bla\\b') THEN 1 ELSE 0 END +
         CASE WHEN regexp_matches(lower(text), '\\bet\\b') THEN 1 ELSE 0 END +
         CASE WHEN regexp_matches(lower(text), '\\bles\\b') THEN 1 ELSE 0 END +
         CASE WHEN regexp_matches(lower(text), '\\bdes\\b') THEN 1 ELSE 0 END) AS s_fr
      FROM tok
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           length(text) AS n_chars_computed,
           round(pr, 6) AS punct_ratio,
           round(dr, 6) AS digit_ratio,
           round(CASE WHEN n_tokens = 0 THEN 0.0
                 ELSE CAST(n_nonspace AS DOUBLE) / n_tokens END, 4) AS mean_word_len,
           CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
                WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
                WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
                WHEN s_es >= s_fr THEN 'es'
                ELSE 'fr' END AS lang_pred,
           round((
             (CASE WHEN n_tokens >= 10 AND n_tokens <= 5000 THEN 1.0 WHEN n_tokens = 0 THEN 0.0 ELSE 0.5 END) +
             (CASE WHEN n_tokens = 0 THEN 0.5
                   WHEN CAST(n_nonspace AS DOUBLE) / n_tokens >= 3.0 AND CAST(n_nonspace AS DOUBLE) / n_tokens <= 12.0 THEN 1.0
                   ELSE 0.5 END) +
             (CASE WHEN pr + dr < 0.2 THEN 1.0 WHEN pr + dr < 0.4 THEN 0.5 ELSE 0.0 END)
           ) / 3.0, 4) AS quality,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+')) AS BIGINT) AS n_bpe_tokens
    FROM scored
"""


@q("q87_text_suite", _TEXT_SUITE_ORACLE)
def q87(spark, sf_dir):
    """One per-document projection gating the whole text-analysis family
    (operators/text.py): stats, language ID, quality score, and BPE-ish
    token budgeting — all JVM-side column expressions, one scan."""
    t = load_tables(spark, sf_dir)
    c = F.col("text")
    return t["documents"].select(
        "doc_id",
        tx.token_count(c).cast("bigint").alias("n_tokens"),
        tx.char_count(c).cast("bigint").alias("n_chars_computed"),
        F.round(tx.punct_ratio(c), 6).alias("punct_ratio"),
        F.round(tx.digit_ratio(c), 6).alias("digit_ratio"),
        F.round(tx.mean_word_length(c), 4).alias("mean_word_len"),
        tx.lang_id(c).alias("lang_pred"),
        tx.quality_score(c).alias("quality"),
        tx.token_count_bpe(c).cast("bigint").alias("n_bpe_tokens"),
    )


_PIVOT_SHORTHAND = "PIVOT events ON event_type USING count(*) GROUP BY user_id"


@q("q88_pivot_shorthand", _PIVOT_SHORTHAND)
def q88(spark, sf_dir):
    """DuckDB dynamic ``PIVOT`` shorthand: the identical statement text
    runs natively on DuckDB and lowered (plans/pivot_sql.py) on Spark —
    value-matched column for column."""
    from vscode_parquet_visualizer_spark.plans.sql_gateway import run_sql

    load_tables(spark, sf_dir)
    return run_sql(spark, _PIVOT_SHORTHAND)


sql_query(
    "q89_values_agg_page",
    """
    WITH w AS (SELECT * FROM (VALUES ('1-URGENT', 5), ('2-HIGH', 4), ('3-MEDIUM', 3),
                                     ('4-NOT SPECIFIED', 2), ('5-LOW', 1)) AS t(priority, weight)),
         j AS (SELECT weight, count(*) AS n FROM orders
               JOIN w ON o_orderpriority = priority GROUP BY weight)
    SELECT weight, n,
           (SELECT concat_ws(',', sort_array(collect_list(priority))) FROM w) AS all_prios
    FROM j ORDER BY weight LIMIT 3 OFFSET 1
    """,
    oracle="""
    WITH w AS (SELECT * FROM (VALUES ('1-URGENT', 5), ('2-HIGH', 4), ('3-MEDIUM', 3),
                                     ('4-NOT SPECIFIED', 2), ('5-LOW', 1)) AS t(priority, weight)),
         j AS (SELECT weight, count(*) AS n FROM orders
               JOIN w ON o_orderpriority = priority GROUP BY weight)
    SELECT weight, n,
           (SELECT string_agg(priority, ',' ORDER BY priority) FROM w) AS all_prios
    FROM j ORDER BY weight LIMIT 3 OFFSET 1
    """,
)


_UNPIVOT_SHORTHAND = (
    "UNPIVOT unpivot_src ON qty, price_k INTO NAME metric VALUE val"
)


@q(
    "q90_unpivot_shorthand",
    """
    WITH unpivot_src AS (
      SELECT l_returnflag,
             round(sum(l_quantity), 2) AS qty,
             round(sum(l_extendedprice) / 1000.0, 2) AS price_k
      FROM lineitem GROUP BY l_returnflag
    )
    """
    + _UNPIVOT_SHORTHAND.replace("UNPIVOT unpivot_src", "SELECT * FROM (UNPIVOT unpivot_src")
    + ")",
)
def q90(spark, sf_dir):
    """DuckDB ``UNPIVOT`` statement shorthand through the SQL gateway
    (plans/pivot_sql.try_rewrite_unpivot): lowered to DataFrame.unpivot
    with NULL-exclusion parity; the oracle runs the shorthand natively
    (wrapped in a CTE because the statement form takes a relation)."""
    from vscode_parquet_visualizer_spark.plans.sql_gateway import run_sql

    t = load_tables(spark, sf_dir)
    (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("qty"),
            F.round(F.sum("l_extendedprice") / 1000.0, 2).alias("price_k"),
        )
        .createOrReplaceTempView("unpivot_src")
    )
    return run_sql(spark, _UNPIVOT_SHORTHAND)


_STRICT_ASOF_SQL = """
    SELECT p.event_id, p.value, v.event_id AS view_id
    FROM strict_p p ASOF LEFT JOIN strict_v v
      ON p.user_id = v.user_id AND p.ts > v.ts
"""


@q(
    "q91_strict_asof_sql",
    """
    WITH strict_p AS (SELECT * FROM events WHERE event_type = 'purchase'),
         strict_v AS (SELECT * FROM events WHERE event_type = 'view')
    """
    + _STRICT_ASOF_SQL,
)
def q91(spark, sf_dir):
    """Strict-inequality ASOF JOIN SQL (``>`` — ties excluded): routed
    through the strict window plan (operators/asof.py tiebreak flip);
    the oracle runs the identical ASOF JOIN natively in DuckDB."""
    from vscode_parquet_visualizer_spark.plans import dialect
    from vscode_parquet_visualizer_spark.plans.asof_sql import try_rewrite_asof

    t = load_tables(spark, sf_dir)
    ev = t["events"]
    ev.filter(F.col("event_type") == "purchase").createOrReplaceTempView("strict_p")
    ev.filter(F.col("event_type") == "view").createOrReplaceTempView("strict_v")
    routed = try_rewrite_asof(spark, _STRICT_ASOF_SQL)
    assert routed is not None
    return spark.sql(dialect.transpile(routed))


@q("q92_describe_sql", "DESCRIBE SELECT * FROM lineitem")
def q92(spark, sf_dir):
    """User-typed ``DESCRIBE <query>`` (SURVEY §2B introspection; the
    reference passes it to DuckDB verbatim, src/duckdb-backend.ts:142-146).
    Routed by the SQL gateway to the schema-tab row shape with DuckDB
    type spellings (functions/summarize.describe_df) — the oracle runs
    the identical statement natively and every cell must match."""
    from vscode_parquet_visualizer_spark.plans.sql_gateway import run_sql

    load_tables(spark, sf_dir)
    return run_sql(spark, "DESCRIBE SELECT * FROM lineitem")


_SUMMARIZE_GATE_COLS = (
    "column_name, column_type, min, max, count, "
    "CAST(null_percentage AS DOUBLE) AS null_percentage"
)
_SUMMARIZE_GATE_SRC = (
    "SUMMARIZE SELECT l_linenumber, l_quantity, l_extendedprice, "
    "l_returnflag FROM lineitem"
)


@q(
    "q93_summarize_sql",
    f"SELECT {_SUMMARIZE_GATE_COLS} FROM ({_SUMMARIZE_GATE_SRC}) "
    "ORDER BY column_name",
)
def q93(spark, sf_dir):
    """User-typed ``SUMMARIZE <query>`` (DuckDB profiling statement) →
    one distributed agg pass producing DuckDB's 12-column shape
    (functions/summarize.summarize_df). The gate compares the
    deterministic columns (min/max/count/null_percentage; approx_unique
    and the quantiles are sketch-based on both engines by design)."""
    from vscode_parquet_visualizer_spark.plans.sql_gateway import run_sql

    load_tables(spark, sf_dir)
    return (
        run_sql(spark, _SUMMARIZE_GATE_SRC)
        .selectExpr(*_SUMMARIZE_GATE_COLS.split(", "))
        .orderBy("column_name")
    )


_FROM_FIRST_SQL = """
    FROM (FROM lineitem
          SELECT l_returnflag, count(*) AS n,
                 round(sum(l_quantity), 2) AS qty
          WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
          GROUP BY l_returnflag) summary
    ORDER BY ALL DESC
"""


@q("q94_from_first", _FROM_FIRST_SQL)
def q94(spark, sf_dir):
    """DuckDB FROM-first syntax + ``ORDER BY ALL`` running as identical
    text on both engines: the inner FROM…SELECT scope parses natively on
    Spark 4; the SELECT-less outer scope gets ``SELECT *`` inserted and
    ORDER BY ALL gets DuckDB's NULLS LAST default
    (plans/dialect.rewrite_from_first / rewrite_order_by_all)."""
    from vscode_parquet_visualizer_spark.plans.sql_gateway import run_sql

    load_tables(spark, sf_dir)
    return run_sql(spark, _FROM_FIRST_SQL)


_UNION_BY_NAME_SQL = """
    SELECT o_orderstatus AS status, count(*) AS n
    FROM orders GROUP BY o_orderstatus
    UNION ALL BY NAME
    SELECT l_returnflag AS flag, count(*) AS n
    FROM lineitem GROUP BY l_returnflag
    ORDER BY ALL
"""


@q("q95_union_by_name", _UNION_BY_NAME_SQL)
def q95(spark, sf_dir):
    """DuckDB ``UNION ALL BY NAME`` (name-matched set op, new columns
    appended and NULL-filled) routed to unionByName by the SQL gateway,
    with the trailing ORDER BY ALL binding to the union result — the
    oracle runs the identical text natively."""
    from vscode_parquet_visualizer_spark.plans.sql_gateway import run_sql

    load_tables(spark, sf_dir)
    return run_sql(spark, _UNION_BY_NAME_SQL)


@q(
    "q96_hash_split",
    """
    WITH b AS (
      SELECT n_chars,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT
               % 10000 AS bucket
      FROM documents
    )
    SELECT CASE WHEN bucket < 8000 THEN 'train'
                WHEN bucket < 9000 THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
    FROM b GROUP BY 1 ORDER BY 1
    """,
)
def q96(spark, sf_dir):
    """Deterministic hash split (operators/split.hash_split): stable
    md5-bucket train/val/test assignment — a pure narrow projection (no
    shuffle; the one shuffle here is the gate's per-split aggregate).
    The oracle computes the identical formula in DuckDB, proving the
    assignment is engine-portable, which is the operator's contract."""
    from vscode_parquet_visualizer_spark.operators.split import hash_split

    t = load_tables(spark, sf_dir)
    return (
        hash_split(
            t["documents"], "doc_id",
            {"train": 0.8, "val": 0.1, "test": 0.1},
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").alias("chars"),
        )
        .orderBy("split")
    )


_INLINE_SERIES_SQL = """
    SELECT r.range AS n, g.generate_series AS s
    FROM range(0, 3) r CROSS JOIN generate_series(10, 14, 2) g
    ORDER BY ALL
"""


@q("q97_inline_series", _INLINE_SERIES_SQL)
def q97(spark, sf_dir):
    """DuckDB inline-series table functions (SURVEY §2B values/inline):
    ``range()`` (end-exclusive, column ``range``) lowers onto Spark's
    partitioned native range(); ``generate_series()`` (end-inclusive)
    onto explode(sequence()) — identical text on both engines
    (plans/dialect.rewrite_series_table_functions)."""
    from vscode_parquet_visualizer_spark.plans.sql_gateway import run_sql

    load_tables(spark, sf_dir)
    return run_sql(spark, _INLINE_SERIES_SQL)


@q(
    "q98_sequence_packing",
    """
    WITH packed AS (
      SELECT lang, n_chars,
             CAST(floor((sum(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) - n_chars)
                        / 50000.0) AS BIGINT) AS pack_id
      FROM documents
    )
    SELECT lang, pack_id, count(*) AS docs,
           CAST(sum(n_chars) AS BIGINT) AS chars
    FROM packed GROUP BY lang, pack_id ORDER BY lang, pack_id
    """,
)
def q98(spark, sf_dir):
    """Sequence packing (operators/packing.py): contiguous greedy
    token-budget sharding — one shuffle on the group key, one window
    sort, no driver loop. The oracle runs the identical prefix-sum
    formula in DuckDB over the same ordering key."""
    from vscode_parquet_visualizer_spark.operators.packing import (
        pack_manifest,
    )

    t = load_tables(spark, sf_dir)
    return pack_manifest(
        t["documents"], "n_chars", 50000, "doc_id", ["lang"]
    ).withColumnRenamed("tokens", "chars").orderBy("lang", "pack_id")


@q(
    "q99_stratified_sample",
    """
    WITH b AS (
      SELECT lang, n_chars,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT
               % 10000 AS bucket
      FROM documents
    )
    SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
    FROM b
    WHERE (lang = 'en' AND bucket < 5000)
       OR (lang = 'de' AND bucket < 2000)
    GROUP BY lang ORDER BY lang
    """,
)
def q99(spark, sf_dir):
    """Deterministic stratified sampling (operators/split.
    stratified_hash_sample): per-stratum keep-fractions via the portable
    md5 bucket — a narrow filter (thresholds ride in a literal map, no
    join). Oracle computes the identical formula."""
    from vscode_parquet_visualizer_spark.operators.split import (
        stratified_hash_sample,
    )

    t = load_tables(spark, sf_dir)
    return (
        stratified_hash_sample(
            t["documents"], "doc_id", "lang", {"en": 0.5, "de": 0.2}
        )
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("chars"))
        .orderBy("lang")
    )


_VECTOR_SQL = """
    SELECT e.vec_id,
           round(CAST(list_cosine_similarity(e.embedding, q.embedding)
                      AS DOUBLE), 2) AS sim
    FROM embeddings e
    CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
    WHERE e.vec_id < 200
    ORDER BY sim DESC, e.vec_id LIMIT 10
"""


@q("q9b_vector_sql", _VECTOR_SQL)
def q9b(spark, sf_dir):
    """User-SQL vector math over the embeddings table: DuckDB's
    ``list_cosine_similarity`` lowered onto aggregate/zip_with
    higher-order functions (plans/dialect.py list-math family —
    whole-stage codegen, no UDF, no explode) with the identical text
    running natively in DuckDB as the oracle. DuckDB computes the cosine
    in float32 (the list element type) while the lowered form accumulates
    in double — the gate casts to DOUBLE and rounds to 2 decimals so the
    precision families can't flip a hash. (Key sorts after q89: outside
    bench totals and the driver window.)"""
    from vscode_parquet_visualizer_spark.plans.sql_gateway import run_sql

    load_tables(spark, sf_dir)
    return run_sql(spark, _VECTOR_SQL)


_INFO_SCHEMA_SQL = """
    SELECT table_name, column_name, ordinal_position, is_nullable, data_type
    FROM information_schema.columns
    WHERE table_name IN ('lineitem', 'events', 'embeddings')
    ORDER BY table_name, ordinal_position
"""


@q("q9c_information_schema", _INFO_SCHEMA_SQL)
def q9c(spark, sf_dir):
    """User-typed ``information_schema.columns`` — the reference queries
    it to drive the Excel export's type filter (src/worker.ts:331-336).
    Routed by the SQL gateway to a driver-side catalog enumeration
    (plans/sql_gateway._route_information_schema) with DuckDB type
    spellings; the oracle runs the identical text natively. Filtered to
    the shared tables so ambient temp views created by other gates can't
    destabilize the row set. (Key sorts after q89: outside bench totals
    and the driver window.)"""
    from vscode_parquet_visualizer_spark.plans.sql_gateway import run_sql

    load_tables(spark, sf_dir)
    return run_sql(spark, _INFO_SCHEMA_SQL)


@q("q9a_media_codecs")
def q9a(spark, sf_dir):
    """REAL media decode in the multimodal pipeline (operators/codecs.py:
    stdlib WAV + BMP codecs dispatched by magic bytes inside the
    Arrow-batched mapInPandas workers). Rows-only gate: DuckDB has no
    codec to oracle against; the codec math itself is pinned by
    tests/test_codecs.py round-trips. (Key sorts after q89 on purpose —
    outside bench totals, not in the driver window.)"""
    import numpy as np

    from vscode_parquet_visualizer_spark.operators.codecs import (
        encode_bmp,
        encode_png,
        encode_ppm,
        encode_wav,
        media_features,
    )
    from vscode_parquet_visualizer_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        extract_features,
    )

    rows = []
    for i in range(24):
        if i % 2 == 0:
            t = np.arange(2000) / 8000.0
            payload = encode_wav(np.sin(2 * np.pi * (100 + 50 * i) * t), 8000)
            rows.append((i, payload, "audio", (None, None, 8000, 250)))
        else:
            img = np.full((8, 8 + i, 3), (i * 9) % 256, dtype=np.uint8)
            # rotate BMP / binary-PPM / PNG payloads: the feature
            # pipeline dispatches per payload by magic bytes, mixed in
            # one binary column
            enc = {1: encode_bmp, 3: encode_ppm, 5: encode_png, 7: encode_ppm}[
                i % 8
            ]
            rows.append((i, enc(img), "image", (8 + i, 8, None, None)))
    media = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2), MEDIA_SCHEMA
    )
    return (
        extract_features(media, decode_fn=media_features)
        .groupBy("media_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg(F.element_at("feature", 1)), 4).alias("avg_f0"),
        )
        .orderBy("media_type")
    )


# --------------------------------------------------------------------------
# corpus-curation family (operators/curation.py): decontamination, PII
# redaction, repetition filters, chunking, weighted mixing. Fine-grained
# gates qa0-qa4 below; the q78 suite composes them into one driver-window
# row.

# DuckDB-side list-of-tokens CTE shared by the curation oracles: empty/
# whitespace-only text must yield an empty list (string_split_regex('')
# returns ['']), matching operators/curation.tokens.
_TOK_CTE = """
    tok AS (
      SELECT *, CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                     ELSE string_split_regex(trim(text), '\\s+') END AS l
      FROM documents
    )
"""


@q(
    "qa0_decontaminate",
    f"""
    WITH {_TOK_CTE},
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(l) - 1),
                           i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS s
      FROM tok WHERE len(l) >= 3
    ),
    ev AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 97 = 0),
    tr AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 97 <> 0)
    SELECT tr.doc_id,
           count(*) AS n_shingles,
           count(ev.g) AS n_overlap,
           round(CAST(count(ev.g) AS DOUBLE) / count(*), 6) AS contamination,
           (CAST(count(ev.g) AS DOUBLE) / count(*)) > 0.1 AS contaminated
    FROM tr LEFT JOIN ev ON tr.g = ev.g
    GROUP BY tr.doc_id
    """,
)
def qa0(spark, sf_dir):
    """Benchmark decontamination (operators/curation.decontaminate):
    trigram-shingle overlap of every training doc against the eval slice
    (doc_id % 97 = 0 stands in for a benchmark set). Eval shingles are
    DISTINCT-collapsed and broadcast — the 100 TB side never shuffles for
    the membership test; only the per-doc count aggregation (unique key,
    no skew) exchanges data."""
    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    tr = docs.filter(F.col("doc_id") % 97 != 0)
    return cu.decontaminate(tr, ev, ngram=3, threshold=0.1)


_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IP = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
_PII_PHONE = r"\b\d{3}[-.]\d{3,4}\b"
# Deterministic planted-PII text: the synthetic corpus contains no real
# PII, so the gate plants e-mail/phone/IP spans derived from doc_id and
# proves the redaction rules find and replace exactly those (phones with
# <3 trailing digits intentionally don't match — variety, not vacuity).
_PII_PLANT_SQL = (
    "text || ' contact user' || doc_id || '@example.com phone 555-' || "
    "CAST((doc_id * 7) % 10000 AS VARCHAR) || ' ip 10.0.' || "
    "CAST(doc_id % 256 AS VARCHAR) || '.1'"
)


def _pii_plant_col() -> F.Column:
    return F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com phone 555-"),
        ((F.col("doc_id") * 7) % 10000).cast("string"),
        F.lit(" ip 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".1"),
    )


@q(
    "qa1_pii_redaction",
    f"""
    WITH p AS (SELECT doc_id, {_PII_PLANT_SQL} AS t FROM documents),
    e AS (SELECT doc_id, len(regexp_extract_all(t, '{_PII_EMAIL}')) AS n_email,
                 regexp_replace(t, '{_PII_EMAIL}', '<EMAIL>', 'g') AS t FROM p),
    i AS (SELECT doc_id, n_email,
                 len(regexp_extract_all(t, '{_PII_IP}')) AS n_ip,
                 regexp_replace(t, '{_PII_IP}', '<IP>', 'g') AS t FROM e)
    SELECT doc_id,
           CAST(n_email AS BIGINT) AS n_email,
           CAST(n_ip AS BIGINT) AS n_ip,
           CAST(len(regexp_extract_all(t, '{_PII_PHONE}')) AS BIGINT) AS n_phone,
           regexp_replace(t, '{_PII_PHONE}', '<PHONE>', 'g') AS redacted
    FROM i
    """,
)
def qa1(spark, sf_dir):
    """PII redaction (operators/curation.redact_pii): ordered
    email→IP→phone regexp_replace chain, counts taken on the
    progressively-redacted text so categories never double-count a span.
    Pure JVM regex projection — narrow, codegen, linear at 100 TB. The
    identical RE2-compatible patterns run on both engines."""
    t = load_tables(spark, sf_dir)
    planted = t["documents"].select("doc_id", _pii_plant_col().alias("t"))
    counts = cu.pii_counts(F.col("t"))
    return planted.select(
        "doc_id",
        counts["n_email"].cast("bigint").alias("n_email"),
        counts["n_ip"].cast("bigint").alias("n_ip"),
        counts["n_phone"].cast("bigint").alias("n_phone"),
        cu.redact_pii(F.col("t")).alias("redacted"),
    )


@q(
    "qa2_repetition_filter",
    f"""
    WITH {_TOK_CTE},
    b AS (
      SELECT doc_id, text, l,
             CASE WHEN len(l) < 2 THEN CAST([] AS VARCHAR[])
                  ELSE list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1])
             END AS bg
      FROM tok
    ),
    m AS (
      SELECT doc_id, text,
        CASE WHEN len(l) = 0 THEN 0.0
             ELSE 1 - CAST(len(list_distinct(l)) AS DOUBLE) / len(l) END AS dup_frac,
        CASE WHEN len(l) = 0 THEN 0.0
             ELSE CAST(list_max(list_transform(list_distinct(l),
                       d -> len(list_filter(l, x -> x = d)))) AS DOUBLE) / len(l)
        END AS topt,
        CASE WHEN len(bg) = 0 THEN 0.0
             ELSE CAST(list_max(list_transform(list_distinct(bg),
                       d -> len(list_filter(bg, x -> x = d)))) AS DOUBLE) / len(bg)
        END AS topb,
        CASE WHEN length(text) = 0 THEN 0.0
             ELSE CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
                  / length(text) END AS sym
      FROM b
    )
    SELECT doc_id,
           round(dup_frac, 6) AS dup_token_frac,
           round(topt, 6) AS top_token_frac,
           round(topb, 6) AS top_bigram_frac,
           round(sym, 6) AS symbol_ratio,
           (dup_frac <= 0.6 AND topt <= 0.3 AND topb <= 0.2) AS keep_repetition
    FROM m
    """,
)
def qa2(spark, sf_dir):
    """Gopher-style repetition filters (operators/curation): duplicate-
    token fraction, top-token and top-bigram mass, symbol ratio, and the
    combined keep verdict. Spark computes the mode count with an O(n)
    fold over the sorted array (longest equal-adjacent run); the oracle
    uses the O(distinct·n) list_filter formulation — same values, each
    engine's idiomatic plan. Narrow projection, no shuffle."""
    t = load_tables(spark, sf_dir)
    return cu.with_repetition_metrics(
        t["documents"].select("doc_id", "text")
    ).drop("text")


@q(
    "qa3_doc_chunking",
    f"""
    WITH {_TOK_CTE},
    c AS (
      SELECT doc_id, l,
             unnest(range(0, CASE WHEN len(l) <= 50 THEN 1
                                  ELSE (len(l) - 50 + 39) // 40 + 1 END)) AS chunk_id
      FROM tok WHERE len(l) > 0
    )
    SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
           CAST(len(l[chunk_id*40 + 1 : chunk_id*40 + 50]) AS BIGINT) AS n_chunk_tokens,
           array_to_string(l[chunk_id*40 + 1 : chunk_id*40 + 50], ' ') AS chunk_text
    FROM c
    """,
)
def qa3(spark, sf_dir):
    """Fixed-window document chunking with overlap (operators/curation.
    chunk_documents, 50-token chunks / 40-token stride): tokenize once,
    explode the chunk-index range, slice per index — the context-window
    sample generator. Rows multiply ~n/stride locally; nothing shuffles."""
    t = load_tables(spark, sf_dir)
    return cu.chunk_documents(
        t["documents"], chunk_tokens=50, stride=40
    )


_MIX_WEIGHTS = {"src0": 2.0, "src1": 1.5, "src2": 1.0, "src3": 0.25}


@q(
    "qa4_weighted_mix",
    """
    WITH w AS (
      SELECT doc_id, source,
             CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 1
                         WHEN 'src2' THEN 1 WHEN 'src3' THEN 0 END AS fl,
             CASE source WHEN 'src0' THEN 0 WHEN 'src1' THEN 5000
                         WHEN 'src2' THEN 0 WHEN 'src3' THEN 2500 END AS fr
      FROM documents
    ),
    c AS (
      SELECT doc_id, source,
             coalesce(fl, 0) + CASE WHEN
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'mix'), 1, 6))::BIGINT
                 % 10000 < coalesce(fr, 0) THEN 1 ELSE 0 END AS copies
      FROM w
    )
    SELECT doc_id, source, CAST(unnest(range(1, copies + 1)) AS INT) AS copy_id
    FROM c
    """,
)
def qa4(spark, sf_dir):
    """Epoch-weighted source mixing (operators/curation.weighted_mix):
    src0×2.0, src1×1.5, src2×1.0, src3×0.25, everything else dropped.
    Fractional weights resolve by the same deterministic md5 bucket as
    hash_split, so the materialized mixture is stable and engine-portable.
    Literal-map lookup + integer explode — narrow, no join, no shuffle."""
    t = load_tables(spark, sf_dir)
    return cu.weighted_mix(
        t["documents"].select("doc_id", "source"),
        key_col="doc_id",
        strata_col="source",
        weights=_MIX_WEIGHTS,
    )


@q(
    "qa5_lm_perplexity",
    f"""
    WITH {_TOK_CTE},
    inst AS (
      SELECT doc_id, g, string_split(g, ' ')[1] AS w1
      FROM (
        SELECT doc_id, unnest(CASE WHEN len(l) < 2 THEN CAST([] AS VARCHAR[])
                   ELSE list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1])
              END) AS g
        FROM tok
      )
    ),
    bgc AS (SELECT g, count(*) AS cbg FROM inst GROUP BY g),
    uni AS (
      SELECT w, count(*) AS cw FROM (SELECT unnest(l) AS w FROM tok) GROUP BY w
    ),
    v AS (SELECT count(*) AS vocab FROM uni)
    SELECT inst.doc_id,
           count(*) AS n_bigrams,
           round(avg(-log2((cbg + 0.5) / (cw + 0.5 * vocab))), 4) AS avg_nll
    FROM inst
    JOIN bgc ON inst.g = bgc.g
    JOIN uni ON inst.w1 = uni.w
    CROSS JOIN v
    GROUP BY inst.doc_id
    """,
)
def qa5(spark, sf_dir):
    """CCNet-style LM quality scoring (operators/curation.lm_perplexity):
    corpus-trained add-k bigram LM, per-doc mean −log2 P(w2|w1). Token-
    keyed count aggregations + equi-joins — distributed LM, no broadcast
    of the counts, no all-pairs."""
    t = load_tables(spark, sf_dir)
    return cu.lm_perplexity(t["documents"])


@q(
    "qa6_curation_pipeline",
    f"""
    WITH {_TOK_CTE},
    b AS (
      SELECT doc_id, text, l,
             CASE WHEN len(l) < 2 THEN CAST([] AS VARCHAR[])
                  ELSE list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1])
             END AS bg
      FROM tok
    ),
    kept AS (
      SELECT doc_id, text, l FROM b
      WHERE (CASE WHEN len(l) = 0 THEN 0.0
             ELSE 1 - CAST(len(list_distinct(l)) AS DOUBLE) / len(l) END) <= 0.6
        AND (CASE WHEN len(l) = 0 THEN 0.0
             ELSE CAST(list_max(list_transform(list_distinct(l),
                       d -> len(list_filter(l, x -> x = d)))) AS DOUBLE) / len(l)
             END) <= 0.3
        AND (CASE WHEN len(bg) = 0 THEN 0.0
             ELSE CAST(list_max(list_transform(list_distinct(bg),
                       d -> len(list_filter(bg, x -> x = d)))) AS DOUBLE) / len(bg)
             END) <= 0.2
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(l) - 1),
                           i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS s
      FROM tok WHERE len(l) >= 3
    ),
    ev AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 97 = 0),
    tr AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 97 <> 0),
    dec AS (
      SELECT tr.doc_id,
             (CAST(count(ev.g) AS DOUBLE) / count(*)) > 0.1 AS contaminated
      FROM tr LEFT JOIN ev ON tr.g = ev.g GROUP BY tr.doc_id
    ),
    clean AS (
      SELECT k.doc_id, k.l FROM kept k
      LEFT JOIN dec ON k.doc_id = dec.doc_id
      WHERE k.doc_id % 97 <> 0 AND NOT coalesce(dec.contaminated, false)
    ),
    c AS (
      SELECT doc_id,
             unnest(range(0, CASE WHEN len(l) <= 50 THEN 1
                                  ELSE (len(l) - 50 + 39) // 40 + 1 END)) AS chunk_id,
             l
      FROM clean WHERE len(l) > 0
    ),
    chunks AS (
      SELECT doc_id, chunk_id,
             len(l[chunk_id*40 + 1 : chunk_id*40 + 50]) AS n_tokens,
             ('0x' || substr(md5(doc_id || '#' || chunk_id), 1, 6))::BIGINT
               % 10000 AS bucket
      FROM c
    )
    SELECT CASE WHEN bucket < 9500 THEN 'train' ELSE 'val' END AS split,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens
    FROM chunks GROUP BY 1
    """,
)
def qa6(spark, sf_dir):
    """The curation operators composed end-to-end, the way a corpus
    build actually runs them: repetition filter → eval decontamination
    (drop contaminated + the eval slice itself) → 50/40 token-window
    chunking → deterministic hash split, aggregated to per-split chunk
    and token budgets. Every stage is the operator module's own code;
    DuckDB computes the identical pipeline for the value oracle. Scale
    shape: two narrow filters, the broadcast decontamination join, a
    narrow explode, and one final 2-group aggregate — the whole
    pipeline is one pass over the corpus plus the eval-set join."""
    from vscode_parquet_visualizer_spark.operators.split import hash_split

    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    kept = cu.with_repetition_metrics(docs.select("doc_id", "text")).filter(
        F.col("keep_repetition")
    )
    dec = cu.decontaminate(
        docs.filter(F.col("doc_id") % 97 != 0),
        docs.filter(F.col("doc_id") % 97 == 0),
        ngram=3,
        threshold=0.1,
    ).select("doc_id", "contaminated")
    clean = (
        kept.filter(F.col("doc_id") % 97 != 0)
        .join(dec, "doc_id", "left")
        .filter(~F.coalesce(F.col("contaminated"), F.lit(False)))
        .select("doc_id", "text")
    )
    chunks = cu.chunk_documents(clean, chunk_tokens=50, stride=40)
    keyed = chunks.withColumn(
        "__key", F.concat(F.col("doc_id"), F.lit("#"), F.col("chunk_id"))
    )
    split = hash_split(keyed, "__key", {"train": 0.95, "val": 0.05})
    return split.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("n_chunk_tokens").alias("n_tokens"),
    )


_CURATION_SUITE_ORACLE = f"""
    WITH {_TOK_CTE},
    b AS (
      SELECT doc_id, text, l,
             CASE WHEN len(l) < 2 THEN CAST([] AS VARCHAR[])
                  ELSE list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1])
             END AS bg
      FROM tok
    ),
    rep AS (
      SELECT doc_id,
        round(CASE WHEN len(l) = 0 THEN 0.0
             ELSE 1 - CAST(len(list_distinct(l)) AS DOUBLE) / len(l) END, 6) AS dup_token_frac,
        round(CASE WHEN len(l) = 0 THEN 0.0
             ELSE CAST(list_max(list_transform(list_distinct(l),
                       d -> len(list_filter(l, x -> x = d)))) AS DOUBLE) / len(l)
        END, 6) AS top_token_frac,
        round(CASE WHEN len(bg) = 0 THEN 0.0
             ELSE CAST(list_max(list_transform(list_distinct(bg),
                       d -> len(list_filter(bg, x -> x = d)))) AS DOUBLE) / len(bg)
        END, 6) AS top_bigram_frac
      FROM b
    ),
    pii AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all({_PII_PLANT_SQL}, '{_PII_EMAIL}')) AS BIGINT) AS n_email,
             right(regexp_replace(regexp_replace(regexp_replace({_PII_PLANT_SQL},
                   '{_PII_EMAIL}', '<EMAIL>', 'g'), '{_PII_IP}', '<IP>', 'g'),
                   '{_PII_PHONE}', '<PHONE>', 'g'), 40) AS pii_tail
      FROM documents
    ),
    ch AS (
      SELECT doc_id, CASE WHEN len(l) <= 50 THEN 1
                          ELSE (len(l) - 50 + 39) // 40 + 1 END AS n_chunks
      FROM tok WHERE len(l) > 0
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(l) - 1),
                           i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS s
      FROM tok WHERE len(l) >= 3
    ),
    ev AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 97 = 0),
    tr AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 97 <> 0),
    dec AS (
      SELECT tr.doc_id,
             round(CAST(count(ev.g) AS DOUBLE) / count(*), 6) AS contamination
      FROM tr LEFT JOIN ev ON tr.g = ev.g GROUP BY tr.doc_id
    ),
    mix AS (
      SELECT doc_id,
             coalesce(CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 1
                         WHEN 'src2' THEN 1 WHEN 'src3' THEN 0 END, 0)
             + CASE WHEN
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'mix'), 1, 6))::BIGINT
                 % 10000 < coalesce(CASE source WHEN 'src0' THEN 0 WHEN 'src1' THEN 5000
                                      WHEN 'src2' THEN 0 WHEN 'src3' THEN 2500 END, 0)
               THEN 1 ELSE 0 END AS n_copies
      FROM documents
    )
    SELECT d.doc_id, rep.dup_token_frac, rep.top_token_frac, rep.top_bigram_frac,
           pii.n_email, pii.pii_tail,
           CAST(coalesce(ch.n_chunks, 0) AS BIGINT) AS n_chunks,
           coalesce(dec.contamination, -1.0) AS contamination,
           CAST(mix.n_copies AS BIGINT) AS n_copies
    FROM documents d
    JOIN rep USING (doc_id) JOIN pii USING (doc_id) JOIN mix ON d.doc_id = mix.doc_id
    LEFT JOIN ch ON d.doc_id = ch.doc_id
    LEFT JOIN dec ON d.doc_id = dec.doc_id
"""


@q("q78_curation_suite", _CURATION_SUITE_ORACLE)
def q78(spark, sf_dir):
    """One per-document row gating the whole corpus-curation family
    (operators/curation.py): repetition metrics, planted-PII redaction
    (count + redacted tail), chunk counts, eval-decontamination score,
    and the weighted-mix copy count — value-matched column for column
    against DuckDB computing the identical formulas."""
    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    rep = cu.with_repetition_metrics(docs.select("doc_id", "text")).select(
        "doc_id", "dup_token_frac", "top_token_frac", "top_bigram_frac"
    )
    planted = _pii_plant_col()
    pii = docs.select(
        "doc_id",
        cu.pii_counts(planted)["n_email"].cast("bigint").alias("n_email"),
        # right(), not substring(x, -40): for a redacted string shorter
        # than 40 chars Spark's negative-start substring returns '',
        # DuckDB's right() returns the whole string.
        F.right(cu.redact_pii(planted), F.lit(40)).alias("pii_tail"),
    )
    ch = (
        cu.chunk_documents(docs, chunk_tokens=50, stride=40)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_chunks"))
    )
    dec = cu.decontaminate(
        docs.filter(F.col("doc_id") % 97 != 0),
        docs.filter(F.col("doc_id") % 97 == 0),
        ngram=3,
        threshold=0.1,
    ).select("doc_id", "contamination")
    mix = (
        cu.weighted_mix(
            docs.select("doc_id", "source"),
            key_col="doc_id",
            strata_col="source",
            weights=_MIX_WEIGHTS,
        )
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_copies"))
    )
    return (
        docs.select("doc_id")
        .join(rep, "doc_id")
        .join(pii, "doc_id")
        .join(ch, "doc_id", "left")
        .join(dec, "doc_id", "left")
        .join(mix, "doc_id", "left")
        .select(
            "doc_id",
            "dup_token_frac",
            "top_token_frac",
            "top_bigram_frac",
            "n_email",
            "pii_tail",
            F.coalesce(F.col("n_chunks"), F.lit(0)).cast("bigint").alias("n_chunks"),
            F.coalesce(F.col("contamination"), F.lit(-1.0)).alias("contamination"),
            F.coalesce(F.col("n_copies"), F.lit(0)).cast("bigint").alias("n_copies"),
        )
    )


# The 50 keys the correctness driver evaluates (its window records the
# first 50 sorted entries — exactly this set). Everything outside this
# list is still exercised by tools/oracle_check.py, pytest, and bench.
DRIVER_KEYS: list[str] = [
    "q01_pricing_summary",
    "q02_regional_revenue",
    "q03_shipping_priority",
    "q23_pivot",
    "q24_unpivot",
    "q26_search_cross_column",
    "q27_sort_page",
    "q28_asof_join",
    "q29_positional_join",
    "q31_json_extract",
    "q32_array_functions",
    "q33_dedup_exact",
    "q34_ngram_jaccard",
    "q35_minhash_lsh",
    "q36_simhash",
    "q40_similarity_bruteforce",
    "q41_similarity_lsh",
    "q42_embedding_near_dup",
    "q43_streaming_hourly",
    "q44_multimodal_features",
    "q45_engine_lifecycle",
    "q46_engine_pagination",
    "q47_group_by_all",
    "q48_with_recursive",
    "q49_lateral_join",
    "q54_training_pipeline",
    "q61_streaming_dedup",
    "q62_similarity_ivf",
    "q64_range_join",
    "q65_hypertable_rollup",
    "q67_dedup_clusters",
    "q70_stream_stream_join",
    "q71_session_window",
    "q72_streaming_sessions",
    "q73_distinct_on",
    "q74_dialect_breadth",
    "q75_segment_dedup",
    "q76_asof_sql",
    "q77_positional_sql",
    "q80_window_suite",
    "q81_grouping_suite",
    "q82_setop_suite",
    "q83_subquery_suite",
    "q84_aggregate_suite",
    "q85_string_date_suite",
    "q86_math_conditional_suite",
    "q87_text_suite",
    "q88_pivot_shorthand",
    # q89_values_agg_page rotated out (VALUES/string_agg/LIMIT-OFFSET
    # remain gated by q30/q51/q25 in oracle_check and by the q84/q85
    # suites) so the round-3 corpus-curation family — decontamination,
    # PII redaction, repetition filters, chunking, weighted mixing —
    # gets a driver-green row (q78_curation_suite above).
    "q78_curation_suite",
    # q26_predicates rotated out (BETWEEN/IN/ILIKE remain gated by
    # q74_dialect_breadth + oracle_check) so the introspection family
    # (DESCRIBE, A10) gets a driver-green row — it had none.
    "q92_describe_sql",
]

# q78 + q80+ keys stay out of the bench totals: the driver-window suite
# gates (q78, q80-q89) re-measure work already timed by their
# fine-grained components, and post-crossover additions (q90+, qa0+)
# would silently shift the oracle-subset subtotal the rounds are
# compared on (SPARK_GRAFT_QUERIES can still time them individually).
# bench.py and tools/duck_bench.py both select against this set.
SUITE_KEYS: frozenset[str] = frozenset(
    k for k in QUERIES if k >= "q80" or k == "q78_curation_suite"
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)


def driver_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The curated 50-entry registry handed to the correctness driver."""
    missing = [k for k in DRIVER_KEYS if k not in QUERIES]
    if missing:
        raise RuntimeError(f"DRIVER_KEYS not registered: {missing}")
    return {k: QUERIES[k] for k in DRIVER_KEYS}


def driver_oracle_sql() -> dict[str, str]:
    return {k: ORACLES[k] for k in DRIVER_KEYS if k in ORACLES}
