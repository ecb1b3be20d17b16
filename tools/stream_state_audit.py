"""Streaming state-size audit under watermark (r15, r14 verdict item 8).

The r13 audit recorded row-counts only; this records the STATE STORE
metrics (rows in state, state memory, rows evicted/dropped by the
watermark) per micro-batch for the three stateful shapes the workload
ships — windowed/session aggregation (q71/q72), watermarked dedup
(q61), stream-stream join (q70) — at a large SF, proving bounded state:
state rows must plateau (watermark eviction keeping pace with input),
not grow linearly with batches.

Method: the scaled events table is re-written as N TIME-ORDERED chunks
(sorted by ts, range-bucketed) so the file stream source replays it as
a real time-advancing stream — feeding time-overlapping copies in one
batch would stall the watermark and prove nothing. Each shape runs with
``maxFilesPerTrigger=1`` + ``availableNow`` over a fresh checkpoint;
per-batch stateOperators metrics come from ``recentProgress``.

Usage: python tools/stream_state_audit.py [SF_DIR] [chunks]
       (default .bench/sf10, 20 chunks)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from vscode_parquet_visualizer_spark.session import get_spark  # noqa: E402
from vscode_parquet_visualizer_spark.streaming import events as sev  # noqa: E402
from vscode_parquet_visualizer_spark.streaming.joins import (  # noqa: E402
    purchases_with_prior_views,
)


def main() -> None:
    sf_dir = (
        sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, ".bench", "sf10")
    )
    chunks = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    spark = get_spark(app_name="stream_state_audit")
    spark.sparkContext.setLogLevel("ERROR")

    src = os.path.join(sf_dir, "events.parquet")
    work = os.path.join(tempfile.gettempdir(), "stream_state_audit")
    chunk_dir = os.path.join(work, "chunks")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(chunk_dir)

    ev = spark.read.parquet(src)
    n = ev.count()
    # time-ordered chunks: ntile over ts → one file per time bucket,
    # written one by one so lexicographic file order == time order
    ranked = ev.withColumn(
        "__b", F.ntile(chunks).over(Window.orderBy("ts"))
    )
    ranked.write.mode("overwrite").partitionBy("__b").parquet(
        os.path.join(work, "buckets")
    )
    for i in range(1, chunks + 1):
        spark.read.parquet(
            os.path.join(work, f"buckets/__b={i}")
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(work, f"stage/{i:03d}")
        )
        part = [
            f
            for f in os.listdir(os.path.join(work, f"stage/{i:03d}"))
            if f.endswith(".parquet")
        ][0]
        os.rename(
            os.path.join(work, f"stage/{i:03d}", part),
            os.path.join(chunk_dir, f"chunk-{i:03d}.parquet"),
        )
    print(f"events rows={n}, chunks={chunks}, dir={chunk_dir}", flush=True)

    schema = spark.read.parquet(chunk_dir).schema

    def chunk_stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(chunk_dir)
        )

    shapes = {
        "q71_session_window": lambda: sev.sessionize(chunk_stream()),
        "q61_streaming_dedup": lambda: chunk_stream()
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"]),
        "q70_stream_stream_join": lambda: purchases_with_prior_views(
            chunk_stream()
        ),
        "q72_windowed_counts": lambda: sev.windowed_counts(chunk_stream()),
    }

    report = {}
    for name, build in shapes.items():
        ckpt = os.path.join(work, f"ckpt_{name}")
        q = (
            build()
            .writeStream.format("noop")
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = []
        for prog in q.recentProgress:
            # StreamingQueryProgress object or dict depending on version
            p = prog if isinstance(prog, dict) else json.loads(prog.json)
            ops = p.get("stateOperators") or []
            if not ops:
                continue
            rows.append(
                {
                    "batch": p["batchId"],
                    "input": p.get("numInputRows"),
                    "state_rows": sum(o["numRowsTotal"] for o in ops),
                    "state_mb": round(
                        sum(o["memoryUsedBytes"] for o in ops) / 1e6, 1
                    ),
                    "evicted": sum(
                        o.get("numRowsRemoved", 0) or 0 for o in ops
                    ),
                    "late_dropped": sum(
                        int(o.get("numRowsDroppedByWatermark", 0) or 0)
                        for o in ops
                    ),
                }
            )
        peak = max((r["state_rows"] for r in rows), default=0)
        final = rows[-1]["state_rows"] if rows else 0
        report[name] = {
            "batches": rows,
            "peak_state_rows": peak,
            "final_state_rows": final,
            "peak_state_mb": max(
                (r["state_mb"] for r in rows), default=0.0
            ),
        }
        print(
            f"{name}: batches={len(rows)} peak_state_rows={peak} "
            f"final={final} peak_mb={report[name]['peak_state_mb']}",
            flush=True,
        )
        for r in rows:
            print("   ", r, flush=True)

    out = os.path.join(REPO, "STREAM_STATE_r15.json")
    with open(out, "w") as fh:
        json.dump(report, fh, indent=1)
    print(f"wrote {out}")
    spark.stop()


if __name__ == "__main__":
    main()
