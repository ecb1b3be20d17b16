"""Per-job/stage profile of one workload query or ad-hoc SQL (guide §1/§7:
find WHERE the time goes before optimizing).

Usage:
    python tools/profile_query.py QNAME            [sf_dir] [reps]
    python tools/profile_query.py sql:"SELECT ..." [sf_dir] [reps]

Runs the query with the noop sink (cold + ``reps`` warm), then prints
every Spark job of the LAST warm rep with its duration and the dominant
stages (duration, tasks, shuffle read/write, input bytes) from the UI
REST API.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from vscode_parquet_visualizer_spark.session import get_spark  # noqa: E402


def rest(url: str):
    with urllib.request.urlopen(url) as r:
        return json.loads(r.read())


def main() -> None:
    target = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 2

    spark = get_spark(app_name="profile_query")
    spark.sparkContext.setLogLevel("ERROR")
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId

    if target.startswith("sql:"):
        from vscode_parquet_visualizer_spark.plans.sql_gateway import run_sql
        from vscode_parquet_visualizer_spark.sources import registry
        import os

        for f in sorted(os.listdir(sf_dir)):
            if f.endswith(".parquet"):
                t = f[: -len(".parquet")]
                registry.read(spark, f"{sf_dir}/{f}", "parquet").createOrReplaceTempView(t)

        def build():
            return run_sql(spark, target[4:])
    else:
        from vscode_parquet_visualizer_spark import workload

        fn = workload.QUERIES[target]

        def build():
            return fn(spark, sf_dir)

    df = None
    for i in range(reps + 1):
        label = f"rep{i}" if i else "cold"
        t0 = time.perf_counter()
        if df is None:
            df = build()
        spark.sparkContext.setJobDescription(f"{label}")
        df.write.mode("overwrite").format("noop").save()
        spark.sparkContext.setJobDescription(None)
        print(f"{label}: {time.perf_counter() - t0:.3f} s", flush=True)

    jobs = rest(f"{ui}/api/v1/applications/{app_id}/jobs?status=succeeded")
    last = [j for j in jobs if (j.get("description") or "") == f"rep{reps}"]
    last.sort(key=lambda j: j["jobId"])
    stages = {
        s["stageId"]: s
        for s in rest(f"{ui}/api/v1/applications/{app_id}/stages?status=COMPLETE")
    }
    total = 0.0
    for j in last:
        t_sub = j["submissionTime"]
        t_done = j["completionTime"]
        from datetime import datetime

        fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
        dur = (
            datetime.strptime(t_done.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
            - datetime.strptime(t_sub.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
        ).total_seconds()
        total += dur
        print(f"\njob {j['jobId']:4d}  {dur:7.3f} s  stages={j['stageIds']}")
        for sid in sorted(j["stageIds"]):
            s = stages.get(sid)
            if not s:
                continue
            print(
                f"   stage {sid:4d} {s['status']:9s} tasks={s['numCompleteTasks']:4d} "
                f"run={s['executorRunTime']/1000:8.2f}s "
                f"in={s['inputBytes']/2**20:8.1f}M "
                f"sh_r={s['shuffleReadBytes']/2**20:8.1f}M "
                f"sh_w={s['shuffleWriteBytes']/2**20:8.1f}M  {s['name'].split(chr(10))[0][:60]}"
            )
    print(f"\nsum job wall: {total:.3f} s")
    spark.stop()


if __name__ == "__main__":
    main()
