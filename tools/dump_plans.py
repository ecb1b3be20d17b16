"""Dump `.explain("formatted")` for every (or selected) workload query
to plans/<tag>/<query>_<suffix>.txt — the before/after plan evidence for
optimization rounds (guide §1: capture plan shape before changing
anything).

Usage:
    python tools/dump_plans.py <tag> <suffix> [sf_dir] [q1,q2,...]

e.g. ``python tools/dump_plans.py r14 before`` writes
``plans/r14/q01_pricing_summary_before.txt`` for all non-suite queries
at the default sf0.1. Building the DataFrame pays driver-side planning
only — nothing executes (streaming queries, whose constructors RUN a
micro-batch, are skipped unless named explicitly).
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# streaming constructors execute a micro-batch at build time; their
# "plan" is the batch-equivalent pipeline, audited separately
_STREAMING = {
    "q43_streaming_hourly",
    "q61_streaming_dedup",
    "q70_stream_stream_join",
    "q71_session_window",
    "q72_streaming_sessions",
}


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r14"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    names = None
    if len(sys.argv) > 4:
        names = {s.strip() for s in sys.argv[4].split(",") if s.strip()}

    from vscode_parquet_visualizer_spark import workload
    from vscode_parquet_visualizer_spark.session import get_spark

    spark = get_spark(app_name="dump_plans")
    spark.sparkContext.setLogLevel("ERROR")

    out_dir = os.path.join(REPO, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)

    selected = sorted(
        (k, v)
        for k, v in workload.QUERIES.items()
        if (names is None and k not in workload.SUITE_KEYS and k not in _STREAMING)
        or (names is not None and k in names)
    )
    for name, fn in selected:
        try:
            df = fn(spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            text = buf.getvalue()
        except Exception as exc:  # noqa: BLE001 - record, keep going
            text = f"PLAN FAILED: {exc}\n"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(text)
        print(f"{name}: {len(text)} chars", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
