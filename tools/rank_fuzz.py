"""Differential fuzz for the window-family lowering (plans/rank_sql.py):
random window queries over a ties/NULL-heavy table, executed with the
route pinned to the distributed operators vs pinned to the plain
WindowExec plan (``pin_route``), sorted rows compared exactly. Spark's
own WindowExec is the reference implementation.

The string partition column ``h`` carries NUL, \x1e, \x1f and
sentinel-looking values, so any lossy window-partition key rendering
shows up as merged or split partitions.

A query counts as lowered when ``plans.rank_sql.try_rewrite_rank``
returned a frame for it; the rest fell back to WindowExec. (The plan
alone cannot tell: the distributed running-aggregate routes plan a
``Window`` of their own.)

Determinism rules baked into the generator: every ORDER BY ends with
the unique uid tiebreak (so value-carrying functions are deterministic
under ties), and running sum/avg draw only INTEGRAL measures (float
running sums legitimately differ in the last ulp between any two
addition trees — the documented distributed-sum class).

Usage: python tools/rank_fuzz.py N_QUERIES SEED
"""

import os
import random
import sys
import warnings

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from vscode_parquet_visualizer_spark.plans import rank_sql  # noqa: E402
from vscode_parquet_visualizer_spark.plans.sql_gateway import run_sql  # noqa: E402
from vscode_parquet_visualizer_spark.session import get_spark  # noqa: E402

UNB = "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING"
CUME = "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"

VALS = ["uid", "k", "v", "tm"]  # tm: TIME(6) — r14 fuzz coverage for
INTS = ["uid", "k"]             # Spark 4.1's TimeType surface
# h values: pairs that differ only in a byte a string key rendering
# might use as a separator or NULL sentinel
H_VALS = ["0", "1", "2", "a\x00b", "a\x1eb", "a\x1fb", "\x1eNULL",
          "\x00NULL"]


# Gate constants of plans.rank_sql that pin one route at any input size.
# A missing size estimate reads 0, which still passes a size gate of 0.
ROUTE_PINS = {
    "distributed": {"_SIZE_GATE": 0, "_NDV_PER_CORE": 1 << 40,
                    "_TASK_BUDGET": -1},
    "window": {"_SIZE_GATE": 1 << 63},
}


def pin_route(route: str, setattr=setattr) -> None:
    """Move plans.rank_sql's gate constants so every rank-family query
    takes ``route`` ('distributed' or 'window'). Pass a test's
    ``monkeypatch.setattr`` to have them restored. The gateway's
    "auto-routing ... exceeds the single-task budget" warning is
    silenced too: under a -1-byte budget it reports the pin, not the
    data."""
    for name, value in ROUTE_PINS[route].items():
        setattr(rank_sql, name, value)
    warnings.filterwarnings("ignore", "auto-routing", RuntimeWarning)


def gen_query(rng: random.Random) -> str:
    parts = rng.choice([[], ["g"], ["h"], ["g", "h"]])
    okeys = rng.choice([["uid"], ["k", "uid"], ["k DESC", "uid"],
                        ["k DESC NULLS FIRST", "uid"],
                        ["v", "uid"], ["v DESC", "uid DESC"],
                        ["tm", "uid"], ["tm DESC NULLS FIRST", "uid"]])
    spec = ""
    if parts:
        spec += "PARTITION BY " + ", ".join(parts)
    ordered = rng.random() < 0.9
    if ordered:
        spec += " ORDER BY " + ", ".join(okeys)
    items = []
    n_fns = rng.randrange(1, 5)
    for i in range(n_fns):
        kind = rng.choice(
            ["rank", "dense_rank", "percent_rank", "cume_dist",
             "row_number", "ntile", "first_value", "last_value",
             "nth_value", "lag", "lead", "agg"]
            if ordered
            else ["agg"]
        )
        if kind == "ntile":
            e = f"ntile({rng.randrange(2, 6)}) OVER w"
        elif kind in ("rank", "dense_rank", "row_number"):
            e = f"{kind}() OVER w"
        elif kind in ("percent_rank", "cume_dist"):
            e = f"round({kind}() OVER w, 9)"
        elif kind == "first_value":
            e = f"first_value({rng.choice(VALS)}) OVER w"
        elif kind == "last_value":
            c = rng.choice(VALS)
            if rng.random() < 0.5:
                e = (f"last_value({c}) OVER ({spec} {UNB})")
            else:
                e = f"last_value({c}) OVER w"
        elif kind == "nth_value":
            c = rng.choice(VALS)
            k = rng.randrange(1, 5)
            if rng.random() < 0.5:
                e = f"nth_value({c}, {k}) OVER ({spec} {UNB})"
            else:
                e = f"nth_value({c}, {k}) OVER w"
        elif kind in ("lag", "lead"):
            c = rng.choice(VALS)
            args = [c]
            if rng.random() < 0.6:
                args.append(str(rng.randrange(1, 4)))
                if rng.random() < 0.5:
                    # fractional defaults exercise the r14 round-half-
                    # away rewrite (integral cols round, doubles keep);
                    # TIME columns take TIME-typed defaults
                    args.append(rng.choice(
                        ["NULL", "TIME '06:07:08'"]
                        if c == "tm"
                        else ["-1", "0", "NULL", "2.5", "-2.5", "0.5",
                              "3.7"]
                    ))
            e = f"{kind}({', '.join(args)}) OVER w"
        else:  # aggregate
            fn = rng.choice(["sum", "avg", "min", "max", "count"])
            c = (
                "*"
                if fn == "count" and rng.random() < 0.3
                else rng.choice(INTS if fn in ("sum", "avg") else VALS)
            )
            if not ordered:
                e = f"{fn}({c}) OVER w"
            elif rng.random() < 0.5:
                e = f"{fn}({c}) OVER ({spec} {UNB})"
            elif rng.random() < 0.5:
                e = f"{fn}({c}) OVER ({spec} {CUME})"
            else:
                e = f"{fn}({c}) OVER w"
            if fn == "avg":
                e = f"round({e}, 9)"
        if rng.random() < 0.25:
            e = f"CAST({e} AS STRING)"
        items.append(f"{e} AS c{i}")
    sql = "SELECT uid, " + ", ".join(items) + " FROM fz"
    if rng.random() < 0.3:
        sql += f" WHERE uid {rng.choice(['>=', '<'])} {rng.randrange(50, 350)}"
    sql += f" WINDOW w AS ({spec})"
    if rng.random() < 0.3:
        sql += " ORDER BY uid LIMIT 50"
    return sql


def make_table(spark) -> None:
    """Register the 400-row ``fz`` fuzz table as a temp view."""
    h_vals = F.array(*[F.lit(v) for v in H_VALS])
    spark.range(400).select(
        F.when(F.col("id") % 10 == 0, None).otherwise(
            F.col("id") % 4
        ).alias("g"),
        F.when(F.col("id") % 11 == 0, None).otherwise(
            F.element_at(h_vals, (F.col("id") % len(H_VALS) + 1).cast("int"))
        ).alias("h"),
        F.when(F.col("id") % 7 == 0, None).otherwise(
            F.col("id") % 5
        ).alias("k"),
        F.when(F.col("id") % 13 == 0, None).otherwise(
            (F.col("id") % 9).cast("double") / 2
        ).alias("v"),
        F.when(F.col("id") % 17 == 0, None).otherwise(
            F.expr(
                "make_time(CAST(id % 24 AS INT), CAST(id % 60 AS INT), "
                "CAST(id % 7 AS DOUBLE) / 2)"
            )
        ).alias("tm"),
        F.col("id").alias("uid"),
    ).createOrReplaceTempView("fz")


def fuzz(spark, n: int, seed: int, log=print) -> dict:
    """Run ``n`` generated queries at ``seed``; return the counts
    ``{"bad", "lowered", "fell_back"}``. A query is bad when it errors
    or its distributed rows differ from WindowExec's."""
    rng = random.Random(seed)
    make_table(spark)
    returned = []  # per try_rewrite_rank call: did it lower?
    real = rank_sql.try_rewrite_rank

    def spy(*a, **kw):
        out = real(*a, **kw)
        returned.append(out is not None)
        return out

    saved = {
        name: getattr(rank_sql, name)
        for pin in ROUTE_PINS.values()
        for name in pin
    }
    rank_sql.try_rewrite_rank = spy
    counts = {"bad": 0, "lowered": 0, "fell_back": 0}
    try:
        for i in range(n):
            sql = gen_query(rng)
            try:
                pin_route("window")
                want = sorted(tuple(r) for r in run_sql(spark, sql).collect())
                pin_route("distributed")
                returned.clear()
                got = sorted(tuple(r) for r in run_sql(spark, sql).collect())
            except Exception as exc:
                log(f"[{i}] ERROR {exc}\n  {sql}")
                counts["bad"] += 1
                continue
            counts["lowered" if any(returned) else "fell_back"] += 1
            if got != want:
                counts["bad"] += 1
                diff = [(a, b) for a, b in zip(got, want) if a != b][:2]
                log(f"[{i}] MISMATCH ({len(diff)} shown) {diff}\n  {sql}")
    finally:
        rank_sql.try_rewrite_rank = real
        for name, value in saved.items():
            setattr(rank_sql, name, value)
    return counts


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    spark = get_spark(
        shuffle_partitions=6, extra_conf={"spark.ui.enabled": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    c = fuzz(spark, n, seed)
    print(
        f"done: {n} queries, {c['bad']} bad, {c['lowered']} lowered, "
        f"{c['fell_back']} fell back to WindowExec"
    )
    spark.stop()


if __name__ == "__main__":
    main()
