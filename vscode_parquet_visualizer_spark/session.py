"""SparkSession factory with scale-oriented defaults.

The reference sizes its embedded DuckDB with ``SET threads = 2×cores``
(reference: src/duckdb-backend.ts:59-65). Spark's equivalent knobs are set
here once: AQE (runtime re-planning, skew-join handling, partition
coalescing), Arrow for any pandas exchange, and shuffle partitions sized to
the local core count while remaining sane on a real cluster (AQE coalesces
down, so a larger initial number only costs scheduling overhead).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_shipped: set[int] = set()


def ship_package(spark: SparkSession) -> None:
    """Make this package importable inside Python workers regardless of the
    driver's cwd/sys.path (module-level functions crossing into pandas
    UDFs are pickled by reference and re-imported worker-side). Zips the
    package once and distributes via addPyFile; idempotent per session."""
    if id(spark) in _shipped:
        return
    import shutil
    import tempfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    # Content-stamped zip name: a stale cached zip from an older code
    # version would make executors silently run old logic (workers import
    # the module by reference from the shipped zip).
    stamp = 0
    for root, _, files in os.walk(pkg_dir):
        for f in files:
            if f.endswith(".py"):
                stamp = max(stamp, int(os.path.getmtime(os.path.join(root, f))))
    zip_base = os.path.join(
        tempfile.gettempdir(), f"vscode_parquet_visualizer_spark_pkg_{stamp}"
    )
    zip_path = zip_base + ".zip"
    if not os.path.exists(zip_path):
        shutil.make_archive(
            zip_base, "zip",
            root_dir=os.path.dirname(pkg_dir),
            base_dir=os.path.basename(pkg_dir),
        )
    try:
        spark.sparkContext.addPyFile(zip_path)
    except Exception:
        pass  # already added in this context
    _shipped.add(id(spark))

_DEFAULTS = {
    # FAIR job scheduling: the reference isolates each document's query
    # worker from its paging worker with two OS threads + two DuckDB
    # instances (src/tabular-document-editor.ts:154-186). One
    # SparkSession multiplexes instead: jobs tagged with a scheduler
    # pool (engine.scheduler_pool) share executors fairly, so a
    # long-running user query cannot starve pagination. Pools are
    # auto-created on first use (default weight 1, FIFO within a pool).
    "spark.scheduler.mode": "FAIR",
    # Runtime re-planning: coalesce post-shuffle partitions, convert
    # sort-merge→broadcast when runtime stats allow, split skewed partitions.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow batches for any toPandas / pandas_udf exchange (10-100× over
    # row-at-a-time pickling).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Broadcast dimension tables aggressively; at 100 TB the fact table is
    # huge but region/nation/part-style dims still fit on every executor.
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # HotSpot never JIT-compiles a method beyond 8000 bytecode bytes
    # (-XX:DontCompileHugeMethods), so a whole-stage-codegen'd pipeline
    # that fuses past that size runs INTERPRETED — measured as
    # intermittent 10× stage slowdowns (3 s → 34 s, zero GC/IO) on a
    # 5-join fused probe stage. Spark's default limit (65535) trusts the
    # JVM to cope; capping at the JIT's real limit falls such stages back
    # to the volcano iterator path, which is ~30% slower than compiled
    # codegen but 10× faster than interpreted codegen.
    "spark.sql.codegen.hugeMethodLimit": "8000",
    # Respect parquet min/max + dictionary filters at scan time.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # ANSI off: the reference's DuckDB surface is forgiving (try_cast etc.);
    # oracle comparisons rely on null-on-overflow semantics.
    "spark.sql.ansi.enabled": "false",
    # Parquet TIMESTAMP(NANOS) columns (written by pandas/arrow defaults)
    # are illegal for Spark's reader; read them as int64 nanos and let the
    # source registry convert to microsecond TimestampType (truncating —
    # Spark's type has no ns precision).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Spark 4.1 ships TimeType behind this flag; with it on, TIME parquet
    # columns (DuckDB writes these routinely), TIME '…' literals, casts,
    # extract/date_part and interval arithmetic all work natively —
    # closing the SURVEY §1.3 TIME gap end-to-end, not just in the
    # schema formatter. Runtime-settable; sources/registry.py re-asserts
    # it for sessions not built here.
    "spark.sql.timeType.enabled": "true",
    # Write µs timestamps (the modern parquet encoding) instead of the
    # deprecated INT96 default — also keeps our ns-column detection from
    # misreading self-written files (pyarrow reports INT96 as ns).
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # Session timezone pinned so timestamp formatting is deterministic
    # across driver runs (reference formats UTC or local per setting,
    # src/backend.ts:144-155; we pin UTC).
    "spark.sql.session.timeZone": "UTC",
    # Read parquet TIMESTAMP(isAdjustedToUTC=false) as TimestampType, not
    # TIMESTAMP_NTZ: with the UTC session above both carry the same wall
    # clock DuckDB sees, and epoch fns (unix_millis/micros) stay valid on
    # every source table regardless of how the writer flagged the column.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Kryo for closure/broadcast serialization (DataFrame row data is
    # Tungsten UnsafeRow either way): measured ~15% off the per-query
    # floor at interactive scale, and the standard choice at cluster
    # scale for broadcast-heavy plans.
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    # Standard-SQL string literals (no backslash escapes), matching
    # DuckDB: without this, pass-through SQL like WHERE p = 'C:\temp'
    # silently mangles \t (and \b, \n, octals) on the Spark side only.
    # Dialect-generated literals avoid backslashes by construction
    # (bracket-class regex quoting) so they are mode-independent.
    "spark.sql.parser.escapedStringLiterals": "true",
    # No ${var} substitution: Spark rewrites `${…}` spans (even inside
    # backtick identifiers — an alias named `${"}` came back EMPTY,
    # identifier fuzz wave 49); DuckDB performs no such substitution.
    "spark.sql.variable.substitute": "false",
}


def local_heap(ram_bytes: int) -> str:
    """Default local-mode heap: a quarter of the machine's RAM, at least
    1g and at most 48g. The JVM then keeps room for its off-heap memory,
    the Python workers and the page cache, and a cache that outgrows the
    heap spills to disk instead of the kernel killing the process."""
    return f"{max(1, min(48, ram_bytes // 2**30 // 4))}g"


def get_spark(
    app_name: str = "vscode-parquet-visualizer-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default all
    cores) so the same entry points run in tests and under the driver; on a
    real cluster callers pass ``master=None`` with ``spark.master`` already
    set in the environment, and this function leaves it untouched.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    conf = dict(_DEFAULTS)
    if master and master.startswith("local"):
        # Local mode: one JVM is driver+executors; Spark's 1g default heap
        # OOMs as soon as a cached table outgrows toy scale. Size to the
        # machine (pre-JVM setting — first session in the process wins).
        # On a real cluster the submitter sets memory; untouched there.
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        conf.setdefault(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", local_heap(ram)),
        )
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # DuckDB scalar functions with no Spark builtin (jaro_*, strip_accents,
    # gamma, …) resolve through Python-UDF shims — parity surface only,
    # never a pipeline hot path (functions/udf_compat.py docstring)
    from vscode_parquet_visualizer_spark.functions import udf_compat

    udf_compat.register(spark)
    return spark


def local_df(spark: SparkSession, rows, schema, parts: int = 1):
    """Small driver-built DataFrame with an EXPLICT slice count.

    ``spark.createDataFrame(rows, schema)`` alone produces
    ``defaultParallelism`` Python-backed slices (32 here) even for one
    row, and a downstream ``coalesce(1)`` then evaluates all of them
    SERIALLY in a single task — one Python-worker round trip (~130 ms)
    each, measured 4.4 s for a 60-row table. Parallelizing with the
    target slice count up front keeps every later action at ``parts``
    tasks and ``parts`` worker calls."""
    if not rows:  # parallelize([]) can't infer emptiness cheaply
        return spark.createDataFrame([], schema).coalesce(1)
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, parts), schema
    )
