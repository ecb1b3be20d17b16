"""Crossover of the small-view gate (``engine._LOCAL_VIEW_MAX_BYTES``).

For views of 1k-128k lineitem rows, times the two routes a ``ResultSet``
can serve a sorted view by, after each state change:

- ``spark`` (gate closed): page 1 and a middle page, each a top-k over
  the cache, then a CSV export, a global sort streamed through
  ``toLocalIterator``;
- ``local`` (gate open): the ordered driver copy collected by one job,
  then page 1, a middle page and a CSV export served from it.

Two read mixes are reported per route: the two pages, and the two pages
plus the CSV export. Every view the session benchmark reads gets at least
the two pages (a search's page 1, then a page in a depth band); only its
narrow results are exported. The crossover is the cache size at which
the local route's two pages stop being faster than Spark's, interpolated
between the two sizes around it: past it, a view that is paged but never
exported pays more for the collect than it saves. (With the CSV export
added, the local route wins at every size: both routes pull every row
through the driver for CSV, and the local one skips the global sort.)

A view is a cached ``ResultSet`` of about ``rows`` lineitem rows picked by
a hash of the key, so its rows sit in every input partition like a
search's matches. The routes run interleaved, first side alternating,
``--reps`` times per size, after one untimed warm-up each; the table gives
each mix's min and median. It also gives the view's cache bytes as the
gate reads them (``operators/scale.plan_bytes``), the Python heap the copy
holds (``tracemalloc``) and the driver RSS it adds (``/proc/self/status``
around a build, after ``gc.collect``; the allocator reuses freed pages,
so this can read below the heap figure). The 1-minute load average is
recorded before and after.

Usage:
    python tools/local_view_crossover.py SF0.1_DIR/lineitem.parquet [--reps 5] [--out rec.json]
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import statistics
import sys
import tempfile
import time
import tracemalloc

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SIZES = [1_000, 2_000, 4_000, 8_000, 16_000, 32_000, 64_000, 128_000]
PAGE_SIZE = 100
SORT = ("l_extendedprice", "desc")  # a high-cardinality sort, like the session's


def _rss_mb() -> float:
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _view(engine_mod, ds, total: int, rows: int, gate: int):
    """A sorted ResultSet of about ``rows`` rows, built with the gate at
    ``gate`` (the route is chosen when the view is materialized)."""
    prev = engine_mod._LOCAL_VIEW_MAX_BYTES
    engine_mod._LOCAL_VIEW_MAX_BYTES = gate
    try:
        keep = f"pmod(hash(l_orderkey, l_linenumber), {total}) < {rows}"
        rs = engine_mod.ResultSet(ds.df.where(keep), name="crossover_view")
    finally:
        engine_mod._LOCAL_VIEW_MAX_BYTES = prev
    rs.sort(*SORT)
    return rs


def _serve(rs, csv_path: str) -> tuple[float, float]:
    """ms for page 1 plus a middle page of ``rs``, and for those plus a
    CSV export. The sort is re-applied first, which drops a driver copy,
    so the local route pays its collect inside page 1's time."""
    rs.sort(*SORT)
    middle = max(1, (rs.current_count // PAGE_SIZE) // 2)
    t0 = time.perf_counter()
    rs.page(1, PAGE_SIZE)
    rs.page(middle, PAGE_SIZE)
    t1 = time.perf_counter()
    rs.export(csv_path, "csv")
    t2 = time.perf_counter()
    return (t1 - t0) * 1000, (t2 - t0) * 1000


def _copy_cost(rs) -> tuple[float, float]:
    """(RSS MB, Python heap MB) that building ``rs``'s driver copy adds."""
    rs.sort(*SORT)
    gc.collect()
    before = _rss_mb()
    rs.page(1, PAGE_SIZE)
    gc.collect()
    rss = _rss_mb() - before
    rs.sort(*SORT)
    gc.collect()
    tracemalloc.start()
    rs.page(1, PAGE_SIZE)
    held = tracemalloc.get_traced_memory()[0]
    tracemalloc.stop()
    return rss, held / 2**20


def _crossover_bytes(table: list[dict]) -> int | None:
    """Cache bytes at which the local route's two pages stop beating
    Spark's: the zero of (local - spark) two-page min, interpolated
    linearly between the last size the local route wins and the first it
    loses. None when it wins at every size."""
    prev = None
    for r in table:
        gap = r["local_pages_min_ms"] - r["spark_pages_min_ms"]
        if gap >= 0:
            if prev is None:
                return r["cache_bytes"]
            (b0, g0), b1 = prev, r["cache_bytes"]
            return round(b0 + (b1 - b0) * -g0 / (gap - g0))
        prev = (r["cache_bytes"], gap)
    return None


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("lineitem", help="a lineitem parquet file, e.g. sf0.1's")
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    from vscode_parquet_visualizer_spark import Engine
    from vscode_parquet_visualizer_spark import engine as engine_mod
    from vscode_parquet_visualizer_spark.operators.scale import plan_bytes

    eng = Engine()
    eng.spark.sparkContext.setLogLevel("ERROR")
    ds = eng.open(args.lineitem)
    total = ds.row_count()
    load = [os.getloadavg()[0]]
    csv_path = os.path.join(tempfile.mkdtemp(prefix="local_view_"), "view.csv")
    table = []
    for rows in SIZES:
        views = {
            "spark": _view(engine_mod, ds, total, rows, -1),
            "local": _view(engine_mod, ds, total, rows, 1 << 62),
        }
        rss_mb, heap_mb = _copy_cost(views["local"])
        for rs in views.values():
            _serve(rs, csv_path)
        times: dict[str, list[tuple[float, float]]] = {"spark": [], "local": []}
        for rep in range(args.reps):
            for side in ("spark", "local") if rep % 2 == 0 else ("local", "spark"):
                times[side].append(_serve(views[side], csv_path))
        rec = {
            "rows": views["local"].current_count,
            "cache_bytes": plan_bytes(views["local"]._current(), unknown=-1),
            "copy_heap_mb": round(heap_mb, 1),
            "copy_rss_mb": round(rss_mb, 1),
        }
        for side, ts in times.items():
            for mix, i in (("pages", 0), ("pages_csv", 1)):
                vals = [t[i] for t in ts]
                rec[f"{side}_{mix}_ms"] = [round(v, 1) for v in vals]
                rec[f"{side}_{mix}_min_ms"] = round(min(vals), 1)
                rec[f"{side}_{mix}_median_ms"] = round(statistics.median(vals), 1)
        table.append(rec)
        print(json.dumps(rec), flush=True)
        views["local"].unpersist()  # the two views share one cache entry
    load.append(os.getloadavg()[0])
    eng.stop()

    crossover = _crossover_bytes(table)
    print(
        "| rows | cache bytes | 2 pages, spark | 2 pages, local "
        "| 2 pages + CSV, spark | 2 pages + CSV, local | copy heap / RSS MB |"
    )
    print("|---|---|---|---|---|---|---|")
    for r in table:
        cells = [
            f"{r[f'{side}_{mix}_min_ms']} / {r[f'{side}_{mix}_median_ms']}"
            for mix in ("pages", "pages_csv")
            for side in ("spark", "local")
        ]
        print(
            f"| {r['rows']:,} | {r['cache_bytes']:,} | " + " | ".join(cells)
            + f" | {r['copy_heap_mb']} / {r['copy_rss_mb']} |"
        )
    summary = {
        "lineitem": args.lineitem,
        "reps": args.reps,
        "nproc": os.cpu_count(),
        "load_1min": load,
        "crossover_cache_bytes": crossover,
        "table": table,
    }
    print(json.dumps({k: v for k, v in summary.items() if k != "table"}))
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(summary, fh, indent=1)


if __name__ == "__main__":
    main()
