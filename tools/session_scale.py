"""Scale record of the visualizer's session op list on one large table.

Runs the session's user flow once per op against a lineitem directory
built by ``tools/make_sf1.py`` (sf1 = ``make_sf1.py 10``: 6 M rows, 10
files): open; data-tab pages at head, middle and tail; the default
``SELECT * FROM data`` query; unsorted result pages at head, middle and
tail; a low- and a high-cardinality sort, each with a middle page; a wide
search with a middle page of its matches; a parquet export. Each op
records its wall time, the Spark jobs it fired (``setJobGroup`` +
``statusTracker``) and the peak RSS of the driver (its Python process)
and of the JVM, sampled every 20 ms while the op runs.

The list runs as four segments, each in a fresh process: browse (open,
data pages, query, unsorted pages), the low-cardinality sort, the
high-cardinality sort, and search + export. A segment after the first
starts with an untimed open + query. So an op that kills the JVM (the
record says which) costs only the rest of its own segment; an op that
raises is recorded with its error and its segment goes on. Each process
warms the JVM with an untimed open + page 1 first.

The heap is the session default (``session.get_spark``) unless
``SPARK_GRAFT_DRIVER_MEM`` overrides it; the record states which.

Usage:
    python tools/make_sf1.py 10 /tmp/sf1
    python tools/session_scale.py /tmp/sf1/lineitem.parquet [--out sf1.json]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

PAGE_SIZE = 100
# segment -> the sort column it pages under (None: no sort)
SEGMENTS = {"browse": None, "sort_low": "l_returnflag", "sort_high": "l_extendedprice",
            "search": None}
# a discount, tax or price containing "0.05": about a fifth of lineitem
# (21% at sf1), the share of perfbench's "wide" search terms
WIDE_TERM = "0.05"


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class PeakRss:
    """Peak RSS (MB) of each pid while the ``with`` block runs."""

    def __init__(self, pids: dict[str, int]):
        self.pids = pids
        self.peak = {name: 0.0 for name in pids}
        self._stop = threading.Event()

    def _sample(self) -> None:
        for name, pid in self.pids.items():
            self.peak[name] = max(self.peak[name], _rss_mb(pid))

    def _loop(self) -> None:
        while not self._stop.wait(0.02):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()


def _cache_mb(df) -> float:
    """Stored MB (memory + disk) of the cache entry holding ``df``."""
    rdd = df._jdf.queryExecution().withCachedData().cacheBuilder().cachedColumnBuffers()
    infos = df.sparkSession.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos if i.id() == rdd.id()) / 1e6


def _page_at(fraction: float, rows: int) -> int:
    pages = max(1, -(-rows // PAGE_SIZE))
    return 1 + min(pages - 1, int(fraction * pages))


class Flow:
    """The session state the ops act on, and the op list itself."""

    def __init__(self, engine, path: str, out_dir: str):
        self.engine, self.path, self.out_dir = engine, path, out_dir
        self.ds = self.rs = None

    def ops(self, segment: str):
        if segment == "browse":
            yield "open", {}, self.open
            for band, at in (("head", 0.0), ("middle", 0.5), ("tail", 1.0)):
                yield "data_page", {"band": band}, lambda at=at: self.data_page(at)
            yield "query", {}, self.query
            for band, at in (("head", 0.0), ("middle", 0.5), ("tail", 1.0)):
                yield "page", {"band": band}, lambda at=at: self.page(at)
        elif segment == "search":
            yield "search", {"term": WIDE_TERM}, self.search
            yield "page", {"band": "middle", "search": WIDE_TERM}, lambda: self.page(0.5)
            yield "export", {"format": "parquet"}, self.export
        else:
            col = SEGMENTS[segment]
            yield "sort", {"column": col}, lambda: self.sort(col)
            yield "page", {"band": "middle", "sort": col}, lambda: self.page(0.5)

    def open(self):
        self.ds = self.engine.open(self.path)
        return {"rows": self.ds.row_count()}

    def data_page(self, at: float):
        page = _page_at(at, self.ds.row_count())
        return {"page": page, "rows_out": len(self.ds.page(page, PAGE_SIZE))}

    def query(self):
        self.rs = self.ds.query("SELECT * FROM data")
        return {"rows": self.rs.row_count, "rows_out": len(self.rs.page(1, PAGE_SIZE)),
                "cache_mb": round(_cache_mb(self.rs._base), 1)}

    def page(self, at: float):
        page = _page_at(at, self.rs.current_count)
        return {"page": page, "rows_out": len(self.rs.page(page, PAGE_SIZE))}

    def sort(self, col: str | None):
        self.rs.sort(col, "asc")
        return {"rows_out": len(self.rs.page(1, PAGE_SIZE))}

    def search(self):
        hits = self.rs.search(WIDE_TERM)
        return {"rows": hits, "rows_out": len(self.rs.page(1, PAGE_SIZE)),
                "cache_mb": round(_cache_mb(self.rs._filtered), 1)}

    def export(self):
        path = os.path.join(self.out_dir, "result.parquet")
        self.rs.export(path, "parquet")
        return {"bytes": os.path.getsize(path)}


def run_segment(path: str, segment: str) -> dict:
    from vscode_parquet_visualizer_spark import Engine
    from vscode_parquet_visualizer_spark.session import get_spark

    spark = get_spark(
        app_name="session-scale",
        extra_conf={"spark.ui.enabled": "false", "spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    pids = {"driver": os.getpid(), "jvm": sc._jvm.ProcessHandle.current().pid()}
    box = {
        "nproc": os.cpu_count(),
        "ram_gib": round(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30, 1),
        "heap": sc.getConf().get("spark.driver.memory"),
        "heap_from_env": "SPARK_GRAFT_DRIVER_MEM" in os.environ,
        "master": sc.master,
    }
    engine = Engine(spark=spark)
    warm = engine.open(path)  # untimed: JVM class loading and JIT warm-up
    warm.page(1, PAGE_SIZE)
    warm.close()
    ops, jvm_alive = [], True
    with tempfile.TemporaryDirectory() as out_dir:
        flow = Flow(engine, path, out_dir)
        if segment != "browse":
            flow.open()
            flow.query()
        for n, (kind, args, fn) in enumerate(flow.ops(segment)):
            rec = {"segment": segment, "kind": kind, **args}
            if not jvm_alive:
                ops.append({**rec, "error": "not run: the JVM is gone"})
                continue
            sc.setJobGroup(f"op{n}", kind)
            with PeakRss(pids) as rss:
                t0 = time.perf_counter()
                try:
                    rec.update(fn())
                except Exception as exc:
                    rec["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
                rec["ms"] = round((time.perf_counter() - t0) * 1000.0, 1)
            try:
                rec["jobs"] = len(sc.statusTracker().getJobIdsForGroup(f"op{n}"))
            except Exception:
                jvm_alive = False
                rec["jvm_died"] = True
            rec.update({f"{k}_rss_peak_mb": round(v) for k, v in rss.peak.items()})
            ops.append(rec)
            print(json.dumps(rec), file=sys.stderr)
    if jvm_alive:
        spark.stop()
    return {"box": box, "ops": ops}


def run(path: str) -> dict:
    """Every segment in its own process; one record."""
    record = {"data": {"path": path, "files": sum(f.endswith(".parquet") for f in os.listdir(path))},
              "ops": []}
    for segment in SEGMENTS:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), path, "--segment", segment],
            stdout=subprocess.PIPE, text=True, check=True,
        ).stdout
        part = json.loads(out.strip().splitlines()[-1])
        record.setdefault("box", part["box"])
        record["ops"] += part["ops"]
    return record


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("lineitem", help="lineitem directory built by tools/make_sf1.py")
    ap.add_argument("--out", help="write the JSON record here (default: stdout)")
    ap.add_argument("--segment", choices=SEGMENTS, help="run one segment in this process")
    a = ap.parse_args()
    path = os.path.abspath(a.lineitem)
    if a.segment:
        print(json.dumps(run_segment(path, a.segment)))
        return
    text = json.dumps(run(path), indent=1)
    if a.out:
        with open(a.out, "w") as fh:
            fh.write(text + "\n")
    else:
        print(text)


if __name__ == "__main__":
    main()
