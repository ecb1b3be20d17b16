"""Scale operators: skew mitigation and shuffle elimination.

These are the knobs SURVEY.md's scale mandate calls out explicitly —
broadcast for small dims (used throughout workload.py), salting for skewed
keys, bucketing for co-located joins. AQE's skew-join splitting handles
sort-merge skew automatically at runtime; the helpers here cover the cases
AQE can't:

- ``salted_join``: one key dominating a shuffled join (AQE splits skewed
  *partitions*, but a single hot key still lands in one task after the
  split when the other side can't broadcast). Replicate the small side
  ``salts``× and scatter the big side's hot rows across salt buckets.
- ``salted_window``: windows have NO AQE skew handling — a partitionBy on
  a hot key serializes in one task. For associative aggregations
  (sum/count/min/max) a two-phase salted window/groupBy fixes it.
- ``write_bucketed`` / co-located joins: repeated joins on the same key
  amortize the shuffle to zero — both sides pre-hashed into the same
  bucket layout; the join plans with no Exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: big side gets a random salt in [0, salts),
    small side is replicated once per salt value (explode of a literal
    range — salts× row growth of the SMALL side only), and the join key
    becomes (key, salt). Hot keys spread across ``salts`` tasks.

    rand() here is seeded per-partition by Spark; determinism of the
    *result set* is unaffected (only placement changes).
    """
    big_salted = big.withColumn(
        "__salt", (F.rand(seed=42) * salts).cast("int")
    )
    small_salted = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salts - 1)))
    )
    out = big_salted.join(small_salted, [key, "__salt"], how)
    return out.drop("__salt")


def salted_aggregate(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, str],
    salts: int = 16,
) -> DataFrame:
    """Two-phase aggregation for hot grouping keys: partial agg on
    (keys + salt), final agg on keys. Only associative/commutative aggs
    are valid (sum, count, min, max). Spark's map-side partial
    aggregation usually makes this unnecessary — it exists for the
    high-cardinality-input + hot-key case where map-side hash tables
    overflow and everything funnels into one reducer.

    ``aggs``: {column: one of sum|count|min|max}.
    """
    valid = {"sum", "count", "min", "max"}
    bad = {fn for fn in aggs.values() if fn not in valid}
    if bad:
        raise ValueError(f"non-associative aggregates not supported: {bad}")

    salted = df.withColumn("__salt", (F.rand(seed=42) * salts).cast("int"))
    partial_exprs = []
    for col, fn in aggs.items():
        partial_exprs.append(getattr(F, fn)(col).alias(f"__p_{col}"))
    partial = salted.groupBy(*keys, "__salt").agg(*partial_exprs)

    final_exprs = []
    for col, fn in aggs.items():
        refn = "sum" if fn in ("sum", "count") else fn  # counts sum up
        final_exprs.append(getattr(F, refn)(f"__p_{col}").alias(f"{fn}_{col}"))
    return partial.groupBy(*keys).agg(*final_exprs)


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    buckets: int = 32,
    sort_by: str | None = None,
) -> None:
    """Persist as a bucketed (+ optionally sorted) managed table. Two
    tables bucketed on the same key with the same bucket count join with
    NO Exchange on either side — the shuffle was paid once at write time,
    which is the right trade for a fact table joined every day."""
    writer = df.write.mode("overwrite").bucketBy(buckets, key)
    if sort_by:
        writer = writer.sortBy(sort_by)
    writer.saveAsTable(table)


def colocated_join(
    spark: SparkSession, left_table: str, right_table: str, key: str, how: str = "inner"
) -> DataFrame:
    """Join two same-bucketed tables (see write_bucketed)."""
    return spark.table(left_table).join(spark.table(right_table), key, how)


def zorder_layout(
    df: DataFrame, cols: list[str], bits: int = 16, partitions: int | None = None
) -> DataFrame:
    """Sort rows along a Z-order (Morton) curve over ``cols`` so a
    subsequent parquet write clusters values of ALL the listed columns
    into few row groups — multi-column min/max pruning where a plain sort
    only serves its leading column.

    Each column is rank-normalized to ``bits`` bits via percent_rank
    (robust to skew/outliers, no domain knowledge needed), then the bit
    planes are interleaved into one sort key. Two window passes + one
    range partitioned sort — a layout-time cost paid once per write.
    """
    keys = []
    for c in cols:
        w = Window.orderBy(F.col(c))
        rank = F.percent_rank().over(w)
        keys.append((F.round(rank * ((1 << bits) - 1)).cast("long")).alias(f"__z_{c}"))
    tmp = df.select("*", *keys)
    z = F.lit(0).cast("long")
    for bit in range(bits - 1, -1, -1):
        for i, c in enumerate(cols):
            z = F.shiftleft(z, 1) + F.shiftright(F.col(f"__z_{c}"), bit).bitwiseAND(F.lit(1))
    out = tmp.withColumn("__zorder", z)
    if partitions:
        out = out.repartitionByRange(partitions, "__zorder")
    return out.sortWithinPartitions("__zorder").drop(
        "__zorder", *[f"__z_{c}" for c in cols]
    )


def compact_table(
    spark,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_within_by: list[str] | None = None,
) -> dict:
    """Small-file compaction — the lake-maintenance pass every streaming
    or incremental pipeline needs (each micro-batch/append writes files
    far below the optimal scan size; thousands of tiny files waste task
    scheduling and defeat row-group pruning).

    Reads the table, repartitions to ``ceil(total_bytes /
    target_file_bytes)`` output files (coalesce when shrinking — no
    shuffle; repartition only when growing), optionally re-sorts within
    partitions (restoring a z-order/cluster key after appends broke it),
    writes to a sibling temp dir, then atomically swaps directories.
    A failure before the swap leaves the original untouched — the same
    atomic-replace contract as result materialization (A5).

    Returns {files_before, files_after, bytes}. Local/posix rename
    semantics; on an object store use a format with a transaction log
    instead (documented limit, not a silent hazard)."""
    import math
    import os
    import shutil

    def _files(p: str) -> list[str]:
        out = []
        for root, _dirs, files in os.walk(p):
            out += [
                os.path.join(root, f)
                for f in files
                if f.endswith(".parquet")
            ]
        return out

    before = _files(path)
    total = sum(os.path.getsize(f) for f in before)
    n_out = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(path)
    if sort_within_by:
        df = df.repartition(n_out).sortWithinPartitions(*sort_within_by)
    elif n_out < len(before):
        df = df.coalesce(n_out)
    else:
        df = df.repartition(n_out)
    tmp = path.rstrip("/") + ".__compact_tmp__"
    shutil.rmtree(tmp, ignore_errors=True)
    df.write.mode("overwrite").parquet(tmp)
    old = path.rstrip("/") + ".__compact_old__"
    shutil.rmtree(old, ignore_errors=True)
    os.rename(path, old)
    try:
        os.rename(tmp, path)
    except OSError:
        os.rename(old, path)  # roll back
        raise
    shutil.rmtree(old, ignore_errors=True)
    return {
        "files_before": len(before),
        "files_after": len(_files(path)),
        "bytes": total,
    }


def has_exchange(df: DataFrame) -> bool:
    """True if the physical plan contains a *shuffle* exchange
    (BroadcastExchange doesn't count — it moves the small side only)."""
    import io
    import re
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    # \bExchange\b matches the shuffle node but not BroadcastExchange
    # (no word boundary inside the token)
    return bool(re.search(r"\bExchange\b", plan))


# Catalyst's size for a relation without statistics (``createDataFrame``,
# RDD-backed views) is Long.MaxValue; a join or union over one multiplies
# it further. Either way it is "no estimate", never a real size.
_NO_ESTIMATE = (1 << 63) - 1


def plan_bytes(df: DataFrame, unknown: int) -> int:
    """Catalyst's optimized-plan size estimate of ``df`` in bytes — a
    driver-side plan analysis, no job. Every size gate reads this one
    probe. Returns ``unknown`` when there is no estimate: it cannot be
    read, or Catalyst has no statistics for the input (any value at or
    above ``Long.MaxValue``). Each gate passes the value that keeps its
    scale-correct route; scale inputs are file scans, which always carry
    real statistics."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        size = int(plan.stats().sizeInBytes())
    except Exception:
        return unknown
    return unknown if size >= _NO_ESTIMATE else size
