"""Engine / Dataset / ResultSet — the orchestration layer.

Maps the reference's document lifecycle (SURVEY.md §3) onto one
SparkSession:

- ``Engine.open(path)`` ≈ openCustomDocument: route format, register temp
  view ``data`` (reference substitutes ``FROM data`` → ``read_parquet(path)``
  per query, src/worker.ts:247-266; a real temp view makes that a no-op).
- ``Dataset.query(sql)`` ≈ startQuery (src/worker.ts:92-134): transpile the
  dialect, build the DataFrame, **materialize** it (deserialized,
  uncompressed columnar cache + per-partition count — the CTAS-equivalent,
  src/worker.ts:83-90), attach a stable ``__row_id`` so
  pagination is deterministic (and, counted per partition, a position
  index for unsorted pages), and only then swap the ``query_result``
  binding — a failing query leaves the previous result intact (atomic
  replace, CHANGELOG.md:205).
- ``ResultSet.page/sort/search/export/schema`` ≈ the paginator + search +
  COPY flows (§2 A7-A9, A13-A18), all reading the cached result, never
  re-running the user query.

Scale notes: result caches (query and search) are persisted
MEMORY_AND_DISK_DESER, built without columnar compression: a result sits
on the user's critical path and is read a page at a time, so its column
batches stay on the heap as objects and a page's ``__row_id`` filter
skips every batch outside its span by the batch stats, without decoding
it. Against the serialized, LZ4-compressed MEMORY_AND_DISK blocks it
replaces (4 cores, 3g heap): on a 600k-row lineitem the cache is 2.17×
larger (23.8 → 51.7 MB) and the session benchmark's page p50 falls from
~130 to ~95 ms and its query p50 from ~730 to ~600 ms (the build skips
Kryo and LZ4); at sf1 (6M rows, 244 → 517 MB of cache) an unsorted page
takes 0.11-0.17 s instead of ~0.4 s. A sorted page still runs a
top-(offset+n) sort over the cache, whose cost grows with the offset:
at sf1 under a 3g heap a sorted middle page fails, its per-task top-k
results too large to fetch (SESSION_SCALE_sf1.json). Cache blocks that
do not fit in the heap spill to disk, serialized, rather than OOMing, as
long as the heap fits the machine (session.get_spark sizes the local
heap to a quarter of RAM); on a cluster you'd swap persist() for a
checkpoint to a scratch table, the same orchestration shape. Every
other cache in the session stays MEMORY_AND_DISK with the session's
compression setting.

Small views are read from the driver. When the current view's cache
(Catalyst's size of the cached frame, read once per materialization) is
at or below ``_LOCAL_VIEW_MAX_BYTES``, the first page or CSV export after
a state change (query, search, sort, clear) collects the whole view once,
in page order, from one partition: one job. Later pages and CSV exports
of that view slice the copy and fire no job, until the next state
change, ``unpersist`` or ``close`` drops it. JSON, ndJSON, Parquet, Excel
and Avro exports of a small view run their exporter over the same
one-partition ordered frame: one job instead of a global sort's 3-6,
and every byte still comes from Spark. The driver holds at most one copy
per ``ResultSet``, of a view under the gate: at the gate, ~4.3 MB of
Python heap for ~8k lineitem rows (PERF.md). Views above the gate,
``page_df``, and ``distributed``/``partition_by`` exports keep the Spark
path: a page collects at most page_size rows, and everything else stays
distributed, except a single-file export, which the driver writes
(operators/export.py states what each format holds there).
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager
from typing import Any

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from vscode_parquet_visualizer_spark.functions.completions import completions
from vscode_parquet_visualizer_spark.functions.metadata import (
    parquet_file_metadata,
    parquet_num_rows,
)
from vscode_parquet_visualizer_spark.functions.schema_format import schema_rows
from vscode_parquet_visualizer_spark.functions.serialization import (
    serialize_rows,
    serialize_value,
)
from vscode_parquet_visualizer_spark.functions.settings import Settings
from vscode_parquet_visualizer_spark.operators import export as export_ops
from vscode_parquet_visualizer_spark.operators import search as search_ops
from vscode_parquet_visualizer_spark.operators import sort as sort_ops
from vscode_parquet_visualizer_spark.operators.pagination import (
    PAGE_ALL,
    ROW_ID,
    Paginator,
    page_span,
    partition_rows,
)
from vscode_parquet_visualizer_spark.operators.scale import plan_bytes
from vscode_parquet_visualizer_spark.plans import dialect
from vscode_parquet_visualizer_spark.session import get_spark
from vscode_parquet_visualizer_spark.sources import registry

DEFAULT_QUERY = "SELECT * FROM data LIMIT 1000;"  # reference package.json:62

# FAIR scheduler pools (spark.scheduler.mode=FAIR, session._DEFAULTS):
# the reference runs a paging worker and a query worker per document
# (src/tabular-document-editor.ts:154-186). Here query materialization
# runs in the "query" pool and every interactive job (page/search/export)
# in "interactive". No allocation file configures them: Spark creates each
# on first use with FIFO, weight 1 and minShare 0, so a page job gets an
# equal share of the executor slots next to a running materialization,
# but no priority over it.
POOL_QUERY = "query"
POOL_INTERACTIVE = "interactive"


@contextmanager
def scheduler_pool(spark: SparkSession, name: str):
    """Run the enclosed jobs in the named FAIR pool (thread-local)."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.scheduler.pool")
    sc.setLocalProperty("spark.scheduler.pool", name)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.scheduler.pool", prev)


# A view whose cache is at most this many bytes is served from one
# ordered driver copy (module docstring). It sits at the measured
# crossover (PERF.md, tools/local_view_crossover.py): past ~700 kB of
# cache (~8k lineitem rows), collecting the copy costs more than the two
# Spark pages it replaces. At the gate the copy holds ~4.3 MB of Python
# heap on the driver.
_LOCAL_VIEW_MAX_BYTES = 700_000

_COMPRESSED = "spark.sql.inMemoryColumnarStorage.compressed"
_persist_lock = threading.Lock()


def _persist_result(df: DataFrame) -> DataFrame:
    """``df.persist(MEMORY_AND_DISK_DESER)`` with the columnar cache
    built uncompressed: the one place a result cache's layout is chosen.
    Deserialized batches let a page skip the batches outside its
    ``__row_id`` span instead of decoding the whole partition; the price
    is a cache about 2.2× the serialized, LZ4-compressed one (module
    docstring). Spark snapshots the compression conf when ``persist()``
    registers the cache entry, so the switch wraps that call alone; the
    lock keeps concurrent callers from restoring each other's value, so
    the session conf is the same before and after."""
    conf = df.sparkSession.conf
    with _persist_lock:
        prev = conf.get(_COMPRESSED, None)
        conf.set(_COMPRESSED, "false")
        try:
            return df.persist(StorageLevel.MEMORY_AND_DISK_DESER)
        finally:
            if prev is None:
                conf.unset(_COMPRESSED)
            else:
                conf.set(_COMPRESSED, prev)


def _materialize(df: DataFrame, pool: str) -> tuple[list[tuple[int, int]], bool]:
    """Cache ``df`` and build its position index in one eager action —
    the CTAS moment. Returns the index and whether the view is small:
    its cache, as Catalyst sizes it once built, at or below
    ``_LOCAL_VIEW_MAX_BYTES`` (no estimate keeps the Spark path). A
    failing action drops the cache entry this call registered; an entry
    the plan already had (the same SQL re-run) is its owner's to drop."""
    fresh = df.storageLevel == StorageLevel.NONE
    _persist_result(df)
    try:
        with scheduler_pool(df.sparkSession, pool):
            parts = partition_rows(df)
    except BaseException:
        if fresh:
            df.unpersist()
        raise
    return parts, 0 <= plan_bytes(df, unknown=-1) <= _LOCAL_VIEW_MAX_BYTES


def _with_row_id(df: DataFrame) -> DataFrame:
    """Attach a stable total-order anchor. monotonically_increasing_id is
    (partition_index << 33) + offset — deterministic for a deterministic
    plan, no shuffle, preserves scan order within and across partitions."""
    return df.withColumn(ROW_ID, F.monotonically_increasing_id())


class ResultSet:
    """A materialized query result: cached DataFrame + row anchor.

    Mirrors the reference's ``query_result`` table plus its
    ``filtered_query_result`` derivative (search) — both live here as
    cached DataFrames; sort and page state mirror the paginator protocol.
    A small view is also held as one ordered list of rows (``_local``,
    module docstring), built and dropped under ``_local_lock``.
    """

    def __init__(self, df: DataFrame, name: str = "query_result", settings: Settings | None = None):
        self.settings = settings or Settings()
        self._base = _with_row_id(df)
        self._base_parts, self._base_small = _materialize(self._base, POOL_QUERY)
        self.row_count = sum(rows for _, rows in self._base_parts)
        self.name = name
        self._filtered: DataFrame | None = None
        self._filtered_parts: list[tuple[int, int]] | None = None
        self._filtered_small = False
        self._sort_field: str | None = None
        self._sort_dir: str = sort_ops.ASC
        self._local: list[Row] | None = None
        self._local_lock = threading.Lock()
        self.query_ms: float | None = None
        self._base.drop(ROW_ID).createOrReplaceTempView(name)
        from vscode_parquet_visualizer_spark.plans.rank_sql import (
            note_catalog_change,
        )

        note_catalog_change()  # view re-bound: stale gate probes out
        # Per-dataset result views (query_result_N) keep two open datasets
        # from clobbering each other, mirroring the data_N scheme; the
        # plain name stays registered as a most-recent convenience alias.
        if name != "query_result":
            self._base.drop(ROW_ID).createOrReplaceTempView("query_result")

    # -- state ---------------------------------------------------------
    @property
    def df(self) -> DataFrame:
        """Public (row-id-free) view of the current, possibly filtered, result."""
        return self._current().drop(ROW_ID)

    def _current(self) -> DataFrame:
        return self._filtered if self._filtered is not None else self._base

    def _current_parts(self) -> list[tuple[int, int]]:
        if self._filtered is not None:
            return self._filtered_parts  # type: ignore[return-value]
        return self._base_parts

    def _current_small(self) -> bool:
        return self._filtered_small if self._filtered is not None else self._base_small

    @property
    def current_count(self) -> int:
        return sum(rows for _, rows in self._current_parts())

    def _local_rows(self) -> list[Row] | None:
        """The current view's rows in page order, ``__row_id`` dropped:
        collected by one job on the first call after a state change and
        kept until the next; None for a view above the gate."""
        with self._local_lock:
            small = self._current_small()
            if small and self._local is None:
                with scheduler_pool(self._base.sparkSession, POOL_INTERACTIVE):
                    self._local = self._one_partition().collect()
            return self._local if small else None

    def _one_partition(self) -> DataFrame:
        """The current view in page order in one partition: any action on
        it is one job (no range-partitioning sample, no shuffle)."""
        view = self._current()
        keys = sort_ops.sort_keys(view, self._sort_field, self._sort_dir)
        return view.coalesce(1).sortWithinPartitions(*keys).drop(ROW_ID)

    # -- interaction (A7-A9) --------------------------------------------
    def sort(self, field: str | None, direction: str = sort_ops.ASC) -> None:
        with self._local_lock:
            self._sort_field, self._sort_dir = field, direction
            self._local = None

    def search(self, term: str) -> int:
        """Materialize the filtered result (reference CTAS to
        filtered_query_result, src/worker.ts:151-180); returns match count.
        The matches get a fresh, dense ``__row_id`` so they carry their own
        position index; a filter keeps partition order, so the new ids keep
        the old relative order. Atomic like ``Dataset.query``: the new
        matches are cached and counted before the old ones are dropped, so
        a search that fails keeps the previous search result."""
        flt, parts, small = None, None, False
        if term != "":
            flt = _with_row_id(search_ops.search(self._base.drop(ROW_ID), term))
            parts, small = _materialize(flt, POOL_INTERACTIVE)
        old = self._filtered
        with self._local_lock:
            self._filtered, self._filtered_parts = flt, parts
            self._filtered_small, self._local = small, None
        # the same term re-searched shares the old cache entry: keep it
        if old is not None and not (flt is not None and flt.sameSemantics(old)):
            old.unpersist()
        return self.current_count

    def _ordered(self) -> DataFrame:
        return sort_ops.sort(self._current(), self._sort_field, self._sort_dir)

    def paginator(self, page_size: int = 20) -> Paginator:
        # the position index orders by __row_id alone: unsorted pages only
        parts = self._current_parts() if self._sort_field is None else None
        return Paginator(
            self._ordered(), self.current_count, page_size, partition_rows=parts
        )

    def page(self, page_number: int = 1, page_size: int = 20) -> list[dict[str, Any]]:
        """One page of JSON-safe rows — the webview row contract. A small
        view's page is a slice of its driver copy."""
        rows = self._local_rows()
        if rows is not None:
            offset, n = page_span(len(rows), page_size, page_number)
            return serialize_rows(rows[offset : offset + n], settings=self.settings)
        pager = self.paginator(page_size)
        with scheduler_pool(self._base.sparkSession, POOL_INTERACTIVE):
            rows = pager.goto(page_number).drop(ROW_ID).collect()
        return serialize_rows(rows, settings=self.settings)

    def page_df(self, page_number: int = 1, page_size: int = 20) -> DataFrame:
        return self.paginator(page_size).goto(page_number).drop(ROW_ID)

    # -- introspection (A10, A26) ----------------------------------------
    def schema(self) -> list[dict[str, Any]]:
        return schema_rows(self.df.schema)

    def completions(self) -> list[dict[str, str]]:
        return completions(self.df.schema)

    # -- export (A13-A18): search+sort applied, like the reference --------
    def export(self, path: str, fmt: str, **kwargs) -> None:
        """A small view's single-file export reads the one-partition
        ordered frame, CSV rows coming from the driver copy (module
        docstring); anything else exports the globally sorted view."""
        spread = kwargs.get("distributed") or kwargs.get("partition_by")
        with scheduler_pool(self._base.sparkSession, POOL_INTERACTIVE):
            if spread or not self._current_small():
                export_ops.export(self._ordered().drop(ROW_ID), path, fmt, **kwargs)
                return
            if fmt.lower() == "csv":
                kwargs["rows"] = self._local_rows()
            export_ops.export(self._one_partition(), path, fmt, **kwargs)

    def unpersist(self, keep_base: bool = False) -> None:
        """Drop the cached result and the driver copy; ``keep_base`` drops
        only the search result (the base cache entry is shared with a
        successor whose plan is the same — re-running the same SQL)."""
        with self._local_lock:
            self._local = None
        if self._filtered is not None:
            self._filtered.unpersist()
        if not keep_base:
            self._base.unpersist()


_dataset_counter = 0


class Dataset:
    """An opened file (or directory/glob of files): the ``data`` relation.

    Each Dataset owns a unique temp view (``data`` queries are rewritten to
    it), mirroring the reference's one-DuckDB-per-document isolation
    (src/tabular-document-editor.ts:154-186): two open files never see each
    other's ``data``. The plain ``data`` view additionally tracks the most
    recently opened dataset as a convenience for ad-hoc engine.sql()."""

    def __init__(self, engine: "Engine", path: str, fmt: str | None = None, **options):
        global _dataset_counter
        _dataset_counter += 1
        self.view = f"data_{_dataset_counter}"
        self.result_view = f"query_result_{_dataset_counter}"
        self.engine = engine
        self.path = registry.normalize_path(path)
        self.format = fmt or registry.format_for_path(self.path)
        self.df = registry.read(engine.spark, self.path, self.format, **options)
        self.df.createOrReplaceTempView(self.view)
        self.df.createOrReplaceTempView("data")
        from vscode_parquet_visualizer_spark.plans.rank_sql import (
            note_catalog_change,
        )

        note_catalog_change()  # ``data`` re-bound: stale gate probes out
        self._result: ResultSet | None = None
        self._row_count: int | None = None
        self._parts: list[tuple[int, int]] | None = None

    # -- row count: footer fast path for parquet (A6) ---------------------
    def row_count(self) -> int:
        """Cached: parquet reads footers (O(1)); CSV/JSON pay one count job
        once — the page index's, which it sums — mirroring the
        reference's init-time count for non-parquet
        (src/duckdb-backend.ts:86-95)."""
        if self._row_count is None:
            if self.format == "parquet" and not self.path.startswith("s3a://"):
                try:
                    self._row_count = parquet_num_rows(self.path)
                except Exception:
                    pass
            if self._row_count is None:
                self._row_count = sum(rows for _, rows in self._partition_rows())
        return self._row_count

    def _partition_rows(self) -> list[tuple[int, int]]:
        if self._parts is None:
            self._parts = partition_rows(_with_row_id(self.df))
        return self._parts

    # -- data tab: page directly against the file, no materialization -----
    def page(self, page_number: int = 1, page_size: int = 20) -> list[dict[str, Any]]:
        """Direct-from-file paging (readFromFile=true path, src/worker.ts:46):
        opening a huge file never loads it fully. Page 1 is a top-k on the
        row id; a deeper page reads one ``__row_id`` span through the
        position index, built by one job on the first deep page and kept
        for the life of this Dataset. Row ids follow the file split
        layout, so a file rewritten under an open Dataset gives stale
        pages, just as it gives a stale cached ``row_count``."""
        anchored = _with_row_id(self.df).orderBy(ROW_ID)
        pager = Paginator(anchored, self.row_count(), page_size)
        if page_size != PAGE_ALL and 1 < page_number <= pager.total_pages:
            pager.partition_rows = self._partition_rows()
        return serialize_rows(
            pager.goto(page_number).drop(ROW_ID).collect(),
            settings=self.engine.settings,
        )

    # -- query tab ---------------------------------------------------------
    def query(self, sql: str | None = None, materialize: bool = True) -> ResultSet | DataFrame:
        """Run SQL (DuckDB dialect accepted) with the ``data`` view bound.

        Materialization is atomic: the new result is built and counted
        before the old one is dropped, so a failing query keeps the
        previous result (reference CREATE OR REPLACE rationale)."""
        spark = self.engine.spark
        if sql is None:
            sql = self.engine.settings.default_query
        from pyspark.sql import types as T

        from vscode_parquet_visualizer_spark.plans.sql_gateway import run_sql

        t0 = time.perf_counter()
        # one gateway for every statement shape: ASOF/POSITIONAL JOIN and
        # dynamic PIVOT route onto operators; the rest transpiles
        df = run_sql(
            spark,
            sql,
            view=self.view,
            columns=self.df.columns,
            dataset_path=self.path,
            # ArrayType ONLY: the 1-based subscript rewrite keyed on
            # this set is an ARRAY contract — a map's m[0] is a key
            # lookup, not a position (and Spark's native map[key]
            # semantics already match DuckDB's scalar access)
            array_columns={
                f.name
                for f in self.df.schema.fields
                if isinstance(f.dataType, T.ArrayType)
            },
            # DATE-typed columns: `d + INTERVAL …` must become a
            # TIMESTAMP cell like DuckDB's (wave 51; literals and
            # temporal calls are sniffed textually, columns need schema)
            date_columns={
                f.name
                for f in self.df.schema.fields
                if isinstance(f.dataType, T.DateType)
            },
            # integral columns let the sliding agg(DISTINCT) fold use an
            # exact DECIMAL(38,0) accumulator instead of DOUBLE
            integral_columns={
                f.name
                for f in self.df.schema.fields
                if isinstance(f.dataType, T.IntegralType)
            },
        )
        if not materialize:
            return df
        new_result = ResultSet(
            df,
            name=self.result_view,
            settings=self.engine.settings,
        )  # eager count; raises on bad SQL
        new_result.query_ms = (time.perf_counter() - t0) * 1000.0
        if self._result is not None:
            # the same plan re-run shares the old cache entry: keep it
            self._result.unpersist(
                keep_base=new_result._base.sameSemantics(self._result._base)
            )
        self._result = new_result
        return new_result

    @property
    def result(self) -> ResultSet | None:
        return self._result

    # -- metadata tab (A11) -------------------------------------------------
    def metadata(self) -> list[dict[str, Any]]:
        if self.format != "parquet":
            raise ValueError("footer metadata is a parquet-only concept")
        return parquet_file_metadata(self.path)

    def schema(self) -> list[dict[str, Any]]:
        return schema_rows(self.df.schema)

    def search_schema(self, term: str) -> list[dict[str, Any]]:
        """Driver-side schema-tab search (A23) — small relation, no job."""
        from vscode_parquet_visualizer_spark.functions.schema_format import (
            search_schema_rows,
        )

        return search_schema_rows(self.schema(), term)

    def export_schema(self, path: str, fmt: str) -> None:
        """Schema-tab export (A18): DESCRIBE-shaped rows through the same
        writers (reference: CTAS schema_result then COPY,
        src/worker.ts:274-284). Arrow-type column serialized to a string
        so every export format can carry it."""
        import json as _json

        rows = [
            {**r, "arrow_column_type": _json.dumps(r["arrow_column_type"])}
            for r in self.schema()
        ]
        cols = list(rows[0].keys())
        schema_ddl = ", ".join(f"`{c}` string" for c in cols)
        df = self.engine.spark.createDataFrame(
            [tuple(r[c] for c in cols) for r in rows], schema_ddl
        )
        export_ops.export(df, path, fmt)

    def completions(self) -> list[dict[str, str]]:
        return completions(self.df.schema)

    def profile(self) -> list[dict[str, Any]]:
        """Per-column stats in ONE distributed pass: count, nulls, distinct
        (approx), min/max (orderable types only). The data-viewer summary
        the reference leaves to the user's own SQL."""
        from pyspark.sql import types as T

        aggs = [F.count(F.lit(1)).alias("__rows")]
        cols = []
        for f in self.df.schema.fields:
            c = f.name
            cols.append((c, f.dataType))
            aggs.append(F.sum(F.col(f"`{c}`").isNull().cast("long")).alias(f"{c}__nulls"))
            aggs.append(F.approx_count_distinct(f"`{c}`").alias(f"{c}__distinct"))
            if not isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType, T.BinaryType)):
                aggs.append(F.min(f"`{c}`").alias(f"{c}__min"))
                aggs.append(F.max(f"`{c}`").alias(f"{c}__max"))
        row = self.df.agg(*aggs).first().asDict()
        out = []
        for c, dtype in cols:
            out.append(
                {
                    "column_name": c,
                    "rows": row["__rows"],
                    "nulls": row[f"{c}__nulls"],
                    "approx_distinct": row[f"{c}__distinct"],
                    "min": serialize_value(row.get(f"{c}__min")),
                    "max": serialize_value(row.get(f"{c}__max")),
                }
            )
        return out

    def close(self) -> None:
        """Release this dataset: unpersist any materialized result and drop
        the temp views (the reference terminates the document's workers on
        editor close, src/tabular-document-editor.ts)."""
        if self._result is not None:
            self._result.unpersist()
            self._result = None
        catalog = self.engine.spark.catalog
        # ``data`` and ``query_result`` stay: most-recent aliases
        for view in (self.view, self.result_view):
            try:
                catalog.dropTempView(view)
            except Exception:
                pass


class Engine:
    """One engine instance ≈ one SparkSession (the reference spawns one
    DuckDB per worker thread; Spark multiplexes concurrent jobs in one
    session). Query materialization and interactive jobs run in separate
    FAIR pools, which Spark creates unconfigured: a page fetched from
    another thread shares the executors with a running query, but gets
    no priority over it."""

    def __init__(
        self,
        spark: SparkSession | None = None,
        settings: Settings | None = None,
        **session_kwargs,
    ):
        self.spark = spark or get_spark(**session_kwargs)
        self.settings = settings or Settings()
        from vscode_parquet_visualizer_spark.session import ship_package

        ship_package(self.spark)

    def open(self, path: str, fmt: str | None = None, **options) -> Dataset:
        ds = Dataset(self, path, fmt=fmt, **options)
        if self.settings.run_query_on_startup:
            # reference runs the default query on open (src/settings.ts:76-82)
            ds.query()
        return ds

    def sql(self, sql: str) -> DataFrame:
        from vscode_parquet_visualizer_spark.plans.sql_gateway import run_sql

        return run_sql(self.spark, sql)

    def stop(self) -> None:
        self.spark.stop()
