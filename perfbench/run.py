"""Session-level benchmark of the engine: one seeded command, two
closed-loop workloads, checked against DuckDB.

    python3 perfbench/run.py --workload session|pipeline \\
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the fixture data
into ``perfbench/.data`` (``fixture.py``); every run writes its scratch
files (Spark local dirs, temp files, exports, a detail record) under
``perfbench/.run``. Nothing is read or written outside the checkout.

A run pins the box posture in its own environment (``local[nproc]``, a
driver heap sized to the box, Spark UI off, local dirs in the checkout),
sets up ``SETUP_REPS`` times — process start, Spark session, package
shipping, opens, warm-up; the first from process start, the others after
stopping the Spark session — and then runs the workload's seeded op list:
one warm-up loop (its ops are checked but not measured: first-use costs
such as JIT compilation and cache builds land there), then
``round(seconds / loop_s)`` measured loops (at least one), ``loop_s``
being a warm loop's op time on a 4-core box, so the amount of work
measured never depends on how fast the box happens to be. Each op is
timed alone; its output is checked against DuckDB afterwards, outside
the timed span, and a mismatch counts as a failed op.

stdout ends with two JSON lines: a detail record (posture, load,
``contaminated``, per-op-kind latencies, per-layer spans) and the result
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones of ``metrics.END_TO_END``; with
``--trace 1`` the package's public functions are wrapped in span
recorders (``trace.py``) and the metrics are ``metrics.PER_LAYER``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_DIR = os.path.join(HERE, ".run")
SETUP_REPS = 3


def pin_posture() -> dict:
    """Set the Spark posture for this process and its children; return it
    for the record. Must run before pyspark starts the JVM."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_gib = int(fh.readline().split()[1]) // (1024 * 1024)
    tmp = os.path.join(RUN_DIR, "tmp")
    local = os.path.join(RUN_DIR, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        # the package default (48g) is for big boxes; a quarter of RAM here
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(48, mem_gib // 4))}g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        # spark-submit's short-lived launcher JVM: keep its files in the checkout too
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(env)
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(RUN_DIR, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    return {"nproc": cpus, "mem_gib": mem_gib, "env": env, "conf": conf}


def job_counts(sc, group: str, seen_stages: set) -> dict:
    """Spark jobs, stages and tasks one op ran, from the status tracker.
    A stage counts once, in the op that first ran tasks for it."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = failed = 0
    for job in jobs:
        info = st.getJobInfo(job)
        for sid in info.stageIds if info else ():
            stage = st.getStageInfo(sid)
            if sid in seen_stages or stage is None:
                continue
            ran = stage.numCompletedTasks + stage.numFailedTasks
            if ran:
                seen_stages.add(sid)
                stages += 1
                tasks += ran
                failed += stage.numFailedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "tasks_failed": failed}


class OpRunner:
    """Runs ops one at a time (closed loop), timing each alone and checking
    its output outside the timed span."""

    def __init__(self, wl, sc, tracer):
        self.wl, self.sc, self.tracer = wl, sc, tracer
        self.records: list[dict] = []
        self.errors: list[str] = []
        self.seen_stages: set = set()
        self.check_s = 0.0

    def run_loop(self, loop, timed: bool) -> None:
        for op in loop:
            n = len(self.records)
            self.sc.setJobGroup(f"op{n}", op.kind)
            # spans of warm-up ops carry no op id, so no metric counts them
            self.tracer.op = n if timed else None
            procs = [os.getpid()] + _descendants(os.getpid())
            cpu0 = _cpu_s(procs)
            t0 = time.perf_counter()
            try:
                out, err = self.wl.run(op), None
            except Exception as exc:  # a failed op is counted, the run goes on
                out, err = None, f"{op.kind} {op.args}: {type(exc).__name__}: {exc}"
            ms = (time.perf_counter() - t0) * 1000.0
            cpu_ms = (_cpu_s(procs + _descendants(os.getpid())) - cpu0) * 1000.0
            self.tracer.op = None
            self.sc.setJobGroup("check", "check")
            rec = {"kind": op.kind, "args": op.args, "ms": ms, "cpu_ms": cpu_ms, "timed": timed,
                   **job_counts(self.sc, f"op{n}", self.seen_stages)}
            if err is None:
                t_check = time.perf_counter()
                try:
                    err = self.wl.check(op, out)
                    rec.update(self.wl.extra(op, out))
                except Exception as exc:
                    err = f"check {op.kind} {op.args}: {type(exc).__name__}: {exc}"
                self.check_s += time.perf_counter() - t_check
            rec["failed"] = err is not None
            if err is not None:
                self.errors.append(err[:300])
            self.records.append(rec)


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def _cpu_s(pids: list[int]) -> float:
    """CPU seconds used by these processes and their reaped children."""
    total = 0
    for pid in set(pids):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def peak_rss_mb() -> float:
    """Peak RSS of this Python driver plus its JVM child."""
    pids = [os.getpid()] + [p for p in _descendants(os.getpid()) if _comm(p) == "java"]
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024.0


def shutdown(spark) -> None:
    """Stop Spark, end the JVM and wait for every process this run started."""
    from pyspark import SparkContext

    procs = _descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF from its driver
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while True:
        alive = [p for p in procs if os.path.exists(f"/proc/{p}") and _comm(p) != ""]
        alive = [p for p in alive if not _zombie(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 30
        time.sleep(0.1)


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("session", "pipeline"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    posture = pin_posture()
    load_start = os.getloadavg()[0]
    sys.path.insert(0, ROOT)
    # the engine first: without it there is nothing to measure
    import vscode_parquet_visualizer_spark as pkg
    from vscode_parquet_visualizer_spark import session as pkg_session

    from perfbench import fixture, metrics, trace, workloads

    tracer = trace.Tracer()
    if args.trace:
        tracer.install()

    t_fixture = time.perf_counter()
    manifest = fixture.ensure()
    fixture_s = time.perf_counter() - t_fixture
    wl = workloads.WORKLOADS[args.workload](manifest, RUN_DIR)
    wl.tracer = tracer if args.trace else None
    loops = wl.ops(args.seed, 1 + max(1, round(args.seconds / wl.loop_s)))

    setups: list[float] = []
    stopped = []  # keep stopped sessions alive so no new one reuses their id()
    for rep in range(SETUP_REPS):
        t0 = T_START if rep == 0 else time.perf_counter()
        tracer.op = -1 - rep
        spark = pkg_session.get_spark(extra_conf=posture["conf"])
        spark.sparkContext.setLogLevel("ERROR")
        wl.setup(pkg.Engine(spark))
        setups.append(time.perf_counter() - t0 - (fixture_s if rep == 0 else 0.0))
        if rep < SETUP_REPS - 1:
            spark.stop()
            stopped.append(spark)
    tracer.op = None

    runner = OpRunner(wl, spark.sparkContext, tracer)
    t_warm = time.perf_counter()
    runner.run_loop(loops[0], timed=False)  # warm-up: checked, not measured
    warmup_s = time.perf_counter() - t_warm
    for loop in loops[1:]:
        runner.run_loop(loop, timed=True)
    records = [r for r in runner.records if r["timed"]]

    rss = peak_rss_mb()
    if args.trace:
        result_metrics = metrics.per_layer(records, tracer.spans, tracer.span_cost_s())
    else:
        result_metrics = metrics.end_to_end(records, setups)
    load_end = os.getloadavg()[0]
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "posture": posture,
        "load_1min": [load_start, load_end],
        "contaminated": max(load_start, load_end) > posture["nproc"],
        "fixture_s": fixture_s,
        "setup_reps_s": setups,
        "loops": len(loops) - 1,
        "warmup_s": warmup_s,
        "op_time_s": sum(r["ms"] for r in records) / 1000.0,
        "cpu_ms_per_op": sum(r["cpu_ms"] for r in records) / max(1, len(records)),
        "check_s": runner.check_s,
        "peak_rss_mb": rss,
        "by_kind": metrics.by_kind(records),
        "errors": runner.errors[:20],
    }
    if args.workload == "session":
        detail["export"] = metrics.export_by_format(records)
    if args.trace:
        detail["spans"] = metrics.named_spans(tracer.spans)
        detail["derived"] = metrics.derived(records, detail["spans"])
        detail["traced_calls"] = len(tracer.spans)
        detail["wrapped_functions"] = tracer.wrapped
    failed = sum(r["failed"] for r in runner.records)
    result = {
        "correct": failed == 0,
        "attempted": len(runner.records),
        "failed": failed,
        "metrics": result_metrics,
    }
    with open(os.path.join(
        RUN_DIR, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w"
    ) as fh:
        json.dump({"detail": detail, "result": result, "ops": runner.records}, fh, indent=1)
    t_stop = time.perf_counter()
    shutdown(spark)
    print(f"shutdown {time.perf_counter() - t_stop:.2f} s, wall {time.perf_counter() - T_START:.1f} s",
          file=sys.stderr)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
