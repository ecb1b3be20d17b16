"""The workloads: seeded op lists, op execution and output checks.

Each workload is one closed-loop client (the caller waits for every op
before sending the next) against ``local[nproc]``. ``ops(seed)`` makes
the whole input from the seed as a list of loops, each loop a list of
``Op``; the engine only ever sees those calls. ``run(op)`` is the timed
part and returns the op's output; ``check(op, out)`` compares that
output with DuckDB outside the timed span and returns a problem or None.

- ``session``: the visualizer's user flow on the 600k-row, 10-file
  ``x10`` lineitem: open, data-tab pages read straight from the files,
  ``Dataset.query`` (materialize), result pages at seeded depths, one
  low- and one high-cardinality sort, a narrow and a wide search, the
  narrow result exported in all five formats, clear, close.
- ``pipeline``: the training-data operators, reachable only through the
  Python API, on ``base``: the ``workload.QUERIES`` functions listed in
  ``PIPELINE_KEYS``, each rebuilt and collected to the driver (its rows
  are what the check compares with the query's ``ORACLES`` SQL).

The seed shuffles the query order, and picks page depths, sort
columns, directions, search terms and export order *within* fixed
classes (depth bands, cardinality classes, match-count bands), so every
seed asks for the same amount of work.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import math
import os
import random
import zipfile
from dataclasses import dataclass, field

import duckdb

from perfbench import fixture

PAGE_SIZE = 100
SESSION_QUERY = "SELECT * FROM data"
# page-depth bands as fractions of the page count: head, middle, tail
# (narrow, so the seed moves a page within a band of like cost)
BANDS = ((0.0, 0.01), (0.45, 0.55), (0.98, 1.0))
LOW_SORT = ("l_returnflag", "l_linestatus", "l_linenumber", "l_discount", "l_tax")
HIGH_SORT = ("l_orderkey", "l_partkey", "l_extendedprice")
EXPORT_FORMATS = ("csv", "json", "ndjson", "parquet", "excel")
EXPORT_EXT = {"csv": "csv", "json": "json", "ndjson": "ndjson",
              "parquet": "parquet", "excel": "xlsx"}

PIPELINE_KEYS = tuple(
    "q33 q34 q35 q36 q37 q38 q39 q40 q41 q42 q44 q54 q61 q62 q67 q69 q70 "
    "q72 q73 q75".split()
)


@dataclass
class Op:
    kind: str
    args: dict = field(default_factory=dict)


def _page_in(rng: random.Random, band, rows: int) -> int:
    pages = max(1, math.ceil(rows / PAGE_SIZE))
    lo, hi = band
    return 1 + min(pages - 1, int(rng.uniform(lo, hi) * pages))


def _prefix(key: str) -> str:
    return key.split("_", 1)[0]


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------

class Session:
    name = "session"
    loop_s = 9.0  # one warm session's op time on a 4-core box

    def __init__(self, manifest: dict, run_dir: str):
        self.total = manifest["rows_x10"]["lineitem"]
        self.terms = manifest["terms"]
        self.path = os.path.join(fixture.X10, "lineitem.parquet")
        self.export_dir = os.path.join(run_dir, "export")
        os.makedirs(self.export_dir, exist_ok=True)
        self.con = duckdb.connect()
        self.con.execute(
            f"CREATE VIEW li AS SELECT * FROM '{fixture.parquet_glob(self.path)}'")
        self.filtered: dict[str, str] = {"": "li"}  # term -> DuckDB relation

    def ops(self, seed: int, loops_n: int) -> list[list[Op]]:
        rng = random.Random(f"session/{seed}")
        loops = []
        for _ in range(loops_n):
            ops = [Op("open")]
            ops += [Op("data_page", {"page": _page_in(rng, b, self.total)}) for b in BANDS]
            ops.append(Op("query"))
            ops += [Op("page", {"page": _page_in(rng, b, self.total)}) for b in BANDS]
            sorts = [rng.choice(LOW_SORT), rng.choice(HIGH_SORT)]
            rng.shuffle(sorts)
            for col in sorts:
                ops.append(Op("sort", {"column": col,
                                       "direction": rng.choice(("asc", "desc"))}))
                ops.append(Op("page", {"page": _page_in(rng, BANDS[1], self.total)}))
            term, hits = rng.choice(self.terms["narrow"])
            ops.append(Op("search", {"term": term}))
            ops.append(Op("page", {"page": _page_in(rng, BANDS[2], hits)}))
            formats = list(EXPORT_FORMATS)
            rng.shuffle(formats)
            ops += [Op("export", {"format": f}) for f in formats]
            term, hits = rng.choice(self.terms["wide"])
            ops.append(Op("search", {"term": term}))
            ops.append(Op("page", {"page": _page_in(rng, BANDS[1], hits)}))
            ops += [Op("clear"), Op("close")]
            loops.append(ops)
        return loops

    def setup(self, engine) -> None:
        self.engine = engine
        ds = engine.open(self.path)
        ds.page(1, PAGE_SIZE)  # warm-up
        ds.close()
        self.ds = self.rs = None
        self.sort_state: tuple[str, str] | None = None
        self.term = ""

    def run(self, op: Op):
        a = op.args
        k = op.kind
        if k == "open":
            self.ds = self.engine.open(self.path)
            self.rs, self.sort_state, self.term = None, None, ""
            return None
        if k == "data_page":
            return self.ds.page(a["page"], PAGE_SIZE)
        if k == "query":
            self.rs = self.ds.query(SESSION_QUERY)
            return self.rs.page(1, PAGE_SIZE)
        if k == "page":
            return self.rs.page(a["page"], PAGE_SIZE)
        if k == "sort":
            self.rs.sort(a["column"], a["direction"])
            self.sort_state = (a["column"], a["direction"])
            return self.rs.page(1, PAGE_SIZE)
        if k == "search":
            self.term = a["term"]
            return self.rs.search(a["term"]), self.rs.page(1, PAGE_SIZE)
        if k == "export":
            path = os.path.join(self.export_dir, f"result.{EXPORT_EXT[a['format']]}")
            if os.path.exists(path):
                os.remove(path)
            self.rs.export(path, a["format"])
            return path
        if k == "clear":
            self.term = ""
            return self.rs.search("")
        if k == "close":
            self.ds.close()
            self.ds = self.rs = None
            return None
        raise ValueError(f"unknown session op {k}")

    # -- checks ------------------------------------------------------------
    def _rows(self, term: str) -> str:
        """DuckDB relation holding the rows a search for ``term`` keeps."""
        if term not in self.filtered:
            name = f"hits{len(self.filtered)}"
            self.con.execute(
                f"CREATE TEMP TABLE {name} AS SELECT * FROM li WHERE contains("
                f"{fixture.search_cast_sql(fixture.LINEITEM_COLUMNS)}, ?)", [term])
            self.filtered[term] = name
        return self.filtered[term]

    def _count(self, term: str) -> int:
        return self.con.execute(f"SELECT count(*) FROM {self._rows(term)}").fetchone()[0]

    def _check_page(self, rows: list, page: int, sort_state, term: str) -> str | None:
        want = max(0, min(PAGE_SIZE, self._count(term) - (page - 1) * PAGE_SIZE))
        if len(rows) != want:
            return f"page {page}: {len(rows)} rows, want {want}"
        if rows and sorted(rows[0]) != sorted(fixture.LINEITEM_COLUMNS):
            return f"page {page}: columns {sorted(rows[0])}"
        if sort_state is None or not rows:
            return None
        col, direction = sort_state
        expect = [r[0] for r in self.con.execute(
            f"SELECT {col} FROM {self._rows(term)} ORDER BY {col} {direction} "
            f"LIMIT {PAGE_SIZE} OFFSET {(page - 1) * PAGE_SIZE}"
        ).fetchall()]
        if [_norm(r[col]) for r in rows] != [_norm(v) for v in expect]:
            return f"page {page} sorted by {col} {direction}: keys differ"
        return None

    def check(self, op: Op, out) -> str | None:
        k, a = op.kind, op.args
        sort_state, term = self.sort_state, self.term
        if k == "data_page":
            return self._check_page(out, a["page"], None, "")
        if k == "query":
            if self.rs.row_count != self.total:
                return f"query: {self.rs.row_count} rows, want {self.total}"
            return self._check_page(out, 1, None, "")
        if k in ("page", "sort"):
            return self._check_page(out, a.get("page", 1), sort_state, term)
        if k == "search":
            count, rows = out
            if count != self._count(term):
                return f"search {term!r}: {count} rows, want {self._count(term)}"
            return self._check_page(rows, 1, sort_state, term)
        if k == "export":
            got = _exported_rows(out, a["format"])
            if got != self._count(term):
                return f"export {a['format']}: {got} rows, want {self._count(term)}"
            return None
        if k == "clear" and out != self.total:
            return f"clear: {out} rows, want {self.total}"
        return None

    def extra(self, op: Op, out) -> dict:
        """Sizes the per-layer detail needs: rows serialized for the
        client, rows materialized, export bytes."""
        if op.kind == "search":
            return {"rows_out": len(out[1])}
        if op.kind == "export":
            return {"format": op.args["format"], "bytes": os.path.getsize(out),
                    "rows": self._count(self.term)}
        if op.kind == "query":
            return {"rows_out": len(out), "rows_materialized": self.rs.row_count}
        return {"rows_out": len(out)} if isinstance(out, list) else {}


def _norm(v):
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(timespec="milliseconds")
    if isinstance(v, str) and len(v) >= 19 and v[10] == "T":
        parsed = dt.datetime.fromisoformat(v.replace("Z", "+00:00"))
        return parsed.replace(tzinfo=None).isoformat(timespec="milliseconds")
    if isinstance(v, float):
        return round(v, 6)
    return v


def _exported_rows(path: str, fmt: str) -> int:
    if fmt == "parquet":
        return duckdb.sql(f"SELECT count(*) FROM '{path}'").fetchone()[0]
    if fmt == "json":
        with open(path) as fh:
            return len(json.load(fh))
    if fmt == "excel":
        with zipfile.ZipFile(path) as z:
            sheet = z.read("xl/worksheets/sheet1.xml").decode()
        return sheet.count("<row ") - 1  # header row
    with open(path) as fh:
        lines = sum(1 for line in fh if line.strip())
    return lines - 1 if fmt == "csv" else lines


# ---------------------------------------------------------------------------
# pipeline
# ---------------------------------------------------------------------------

class Pipeline:
    name = "pipeline"
    loop_s = 10.5  # one warm loop's op time on a 4-core box

    def __init__(self, manifest: dict, run_dir: str):
        from tools import oracle_check
        from vscode_parquet_visualizer_spark import workload

        self.workload = workload
        self.compare = oracle_check.compare
        self.tracer = None  # set by the runner for a traced run

    def keys(self) -> list[str]:
        by_prefix = {_prefix(k): k for k in self.workload.QUERIES}
        return [by_prefix[p] for p in PIPELINE_KEYS]

    def ops(self, seed: int, loops_n: int) -> list[list[Op]]:
        rng = random.Random(f"pipeline/{seed}")
        loops = []
        for _ in range(loops_n):
            order = self.keys()
            rng.shuffle(order)
            loops.append([Op("pipeline", {"key": k}) for k in order])
        return loops

    def setup(self, engine) -> None:
        self.spark = engine.spark
        self.workload.load_tables(self.spark, fixture.BASE)

    def span(self, name: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, "workload")

    def run(self, op: Op):
        fn = self.workload.QUERIES[op.args["key"]]
        with self.span("workload.build"):
            df = fn(self.spark, fixture.BASE)
        with self.span("workload.exec"):
            return df.toPandas()

    def check(self, op: Op, out) -> str | None:
        key = op.args["key"]
        problems = self.compare(key, out, fixture.oracle(key, self.workload.ORACLES[key]))
        return f"{key}: {'; '.join(problems)}" if problems else None

    def extra(self, op: Op, out) -> dict:
        return {"rows_out": len(out)}


WORKLOADS = {w.name: w for w in (Session, Pipeline)}
