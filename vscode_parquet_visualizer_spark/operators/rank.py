"""Distributed rank: global per-partition row numbers without Spark's
one-task-per-window-partition wall.

Spark's WindowExec places EVERY row of a window partition on one task,
so ``row_number() OVER (PARTITION BY low_card_key ORDER BY …)`` over a
3-value key serializes the whole fact table onto 3 tasks — at sf10 that
is 3 single-threaded 5M-row sorts (q59 measured 13.5 s), and at 100 TB
it simply does not run. The reference's engine (embedded DuckDB,
src/duckdb-backend.ts:142-146 pass-through) pays the same wall as a
single-node sort.

The scalable shape (the same trick ``positional.py`` uses for global
row position):

1. ``repartitionByRange`` + ``sortWithinPartitions`` on
   (partition keys, order keys) — one PARALLEL range-shuffle sort, the
   only data-sized movement.
2. ``monotonically_increasing_id`` on the sorted, persisted
   result is per-Spark-partition consecutive, so the local index of a
   row within its (spark partition, window partition) group is
   ``mid - min(mid)`` of the group.
3. One tiny stats job — ``groupBy(spark_pid, partition keys)`` →
   (count, min id) — gives every group's prefix sum; the fix-up keyed
   on (pid, partition keys) turns local indexes into GLOBAL 1-based
   row numbers and attaches each window partition's total row count.
   Up to ``_MAP_LITERAL_MAX`` groups this is a literal ``create_map``
   (no extra join in the plan); above it — e.g. 10⁵ tasks × many
   window partitions on a real cluster, where the literal expression
   itself would bottleneck the driver — it is a broadcast join on the
   tiny stats DataFrame. No second shuffle of the data, no skew wall:
   work per task is bounded by the range partitioner, not by key
   cardinality.

The stats groupBy runs on an ENGINE-rendered string key column
(:func:`render_key`, shared with the running-aggregate routes), never
on driver-side Python ``str()`` renderings — Python
``str(True)``/``str(1e-07)`` differ from Spark's ``true``/``1.0E-7``,
which would silently miss the map lookup for boolean/float/timestamp
partition columns.

Semantics: ``__rn`` is ``row_number()`` under a TOTAL order — callers
must include a unique tiebreaker in ``order_cols`` (rank/dense_rank
coincide with row_number exactly then; with ties they'd need a
distinct-key pass this operator deliberately does not hide).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_SEP = "\x1f"

# to_json options for nested key values: timestamps keep every
# microsecond (the default format stops at milliseconds)
_JSON_KEY_OPTS = {
    "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    "timestampNTZFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
}

# Above this many (spark pid × window partition) stats groups the
# create_map literal stops being free: the expression tree itself is
# built (and serialized to every task) on the driver, so at cluster
# scale (10⁵ tasks × many partitions) it becomes a driver bottleneck.
# A broadcast join on the tiny stats DataFrame costs one extra plan
# node but is O(1) in expression size — the 100×-safe spelling.
_MAP_LITERAL_MAX = 1000


from vscode_parquet_visualizer_spark.operators.persist import (  # noqa: E402
    persist_salted,
    release_salted,
)
from vscode_parquet_visualizer_spark.operators.scale import (  # noqa: E402
    plan_bytes,
)


def _persist_substrate(df: DataFrame) -> DataFrame:
    """Persist a sorted window substrate in Spark's COLUMNAR cache
    (persist.persist_salted: unique per-build plan salt so repeated
    queries can never serve their sort from a previous rep's cache,
    plus retirement of superseded builds).

    The r14-build shape used ``localCheckpoint(eager=False)`` here; at
    sf10 that materializes ~15 M deserialized row OBJECTS (~3 GB of
    JVM garbage per build) and every fresh build leaked another copy —
    measured: stats-pass stages at 250-750 s of GC time once two
    checkpoints coexisted, and the route degrading 9 s → 33-57 s
    across a min-of-4 session (plans/r14 ragg evidence). The columnar
    cache stores compressed batches (~10× fewer objects) and serves
    with_row_numbers' stats pass and its row-number fix-up from ONE
    sort (and the group-broadcast route's count, window and join from
    one group table).

    Consistency of ``spark_partition_id``/``monotonically_increasing_id``
    across the two passes still holds: the cached RDD's partitioning is
    fixed by its shuffle dependency, and an evicted partition re-reads
    the SAME shuffle files (local mode keeps them), re-deriving
    identical ids from an identical sorted partition."""
    return persist_salted(df)


def _zero_normalized(col: Column, t: T.DataType) -> Column:
    """``col`` with every float -0.0, nested ones included, made 0.0 —
    WindowExec groups -0.0 and 0.0 as one partition key."""
    if isinstance(t, (T.FloatType, T.DoubleType)):
        return F.when(col == 0.0, F.lit(0.0).cast(t)).otherwise(col)
    if isinstance(t, T.ArrayType):
        return F.transform(col, lambda x: _zero_normalized(x, t.elementType))
    if isinstance(t, T.StructType):
        return F.when(
            col.isNotNull(),
            F.struct(
                *[
                    _zero_normalized(col[f.name], f.dataType).alias(f.name)
                    for f in t.fields
                ]
            ),
        )
    return col


def render_key(schema: T.StructType, cols: list[str]) -> Column:
    """ENGINE-rendered, LOSSLESS string key of ``cols``: two rows render
    equal exactly when WindowExec puts them in the same window
    partition (or peer group). Both distributed substrates group, look
    up and window on this one string.

    Injective by construction: each non-NULL value renders as
    ``<char length>:<text>`` and a NULL as ``N`` (not a digit), so the
    concatenation parses back one way — no separator or sentinel a value
    could contain. The text is ``CAST(col AS STRING)`` of the value with
    -0.0 made 0.0 (all NaNs already cast to ``NaN``), except binary
    (``hex``: its bytes need not be valid UTF-8) and nested types
    (``to_json``, which escapes nested strings; microsecond timestamp
    format)."""
    pieces = []
    for c in cols:
        t = schema[c].dataType
        col = _zero_normalized(F.col(c), t)
        if isinstance(t, T.BinaryType):
            text = F.hex(col)
        elif isinstance(t, (T.ArrayType, T.StructType, T.MapType)):
            text = F.to_json(col, _JSON_KEY_OPTS)
        else:
            text = col.cast("string")
        pieces.append(
            F.coalesce(
                F.concat(F.length(text).cast("string"), F.lit(":"), text),
                F.lit("N"),
            )
        )
    return F.concat(*pieces) if pieces else F.lit("")


def with_row_numbers(
    df: DataFrame,
    partition_cols: list[str],
    order_cols: list[Column],
    num_partitions: int | None = None,
    rn_col: str = "__rn",
    n_col: str = "__pn",
) -> DataFrame:
    """Return ``df`` plus ``rn_col`` (1-based global row number within
    ``partition_cols`` under ``order_cols`` — which must be a total
    order) and ``n_col`` (the window partition's row count)."""
    spark = df.sparkSession
    parts = num_partitions or spark.sparkContext.defaultParallelism
    sort_exprs = [F.col(c) for c in partition_cols] + list(order_cols)
    # ENGINE-rendered window-partition key: grouping and lookup both use
    # this exact string, so no driver-side Python rendering of values
    # ever happens (Python str(True)='True' vs Spark 'true' etc.)
    wkey = render_key(df.schema, partition_cols)
    sorted_df = (
        df.repartitionByRange(parts, *sort_exprs)
        .sortWithinPartitions(*sort_exprs)
        .withColumns(
            {
                "__pid": F.spark_partition_id(),
                "__mid": F.monotonically_increasing_id(),
                "__wkey": wkey,
            }
        )
    )
    sorted_df = _persist_substrate(sorted_df)  # both passes, one sort
    stats = (
        sorted_df.groupBy("__pid", "__wkey")
        .agg(F.count(F.lit(1)).alias("__n"), F.min("__mid").alias("__m0"))
        .collect()
    )
    if not stats:  # empty input
        return (
            sorted_df.withColumn(rn_col, F.lit(1).cast("long"))
            .withColumn(n_col, F.lit(0).cast("long"))
            .drop("__pid", "__mid", "__wkey")
        )
    # prefix sums per window partition, in (partition key, pid) order —
    # the range partitioner laid a window partition's rows across a
    # contiguous, increasing pid span, so pid order IS global order
    totals: dict[str, int] = {}
    for r in stats:
        totals[r["__wkey"]] = totals.get(r["__wkey"], 0) + r["__n"]
    fixups: list[tuple[int, str, int, int]] = []  # pid, wkey, adjust, n
    running: dict[str, int] = {}
    for r in sorted(stats, key=lambda r: (r["__wkey"], r["__pid"])):
        k = r["__wkey"]
        off = running.get(k, 0)
        running[k] = off + r["__n"]
        # global rn = mid - m0 + off + 1  →  mid + (off - m0 + 1)
        fixups.append((r["__pid"], k, off - r["__m0"] + 1, totals[k]))
    if len(fixups) <= _MAP_LITERAL_MAX:
        adjust_entries: list[Column] = []
        count_entries: list[Column] = []
        for pid, k, adj, tot in fixups:
            mk = f"{pid}{_SEP}{k}"
            adjust_entries.extend((F.lit(mk), F.lit(adj)))
            count_entries.extend((F.lit(mk), F.lit(tot)))
        mkey = F.concat_ws(_SEP, F.col("__pid").cast("string"), F.col("__wkey"))
        out = (
            sorted_df.withColumn(
                rn_col,
                (F.col("__mid") + F.create_map(*adjust_entries)[mkey]).cast(
                    "long"
                ),
            )
            .withColumn(
                n_col, F.create_map(*count_entries)[mkey].cast("long")
            )
        )
    else:
        stats_df = F.broadcast(
            spark.createDataFrame(
                fixups, "__pid int, __wkey string, __adj long, __tot long"
            )
        )
        out = (
            sorted_df.join(stats_df, ["__pid", "__wkey"], "left")
            .withColumn(rn_col, (F.col("__mid") + F.col("__adj")).cast("long"))
            .withColumn(n_col, F.col("__tot").cast("long"))
            .drop("__adj", "__tot")
        )
    return out.drop("__pid", "__mid", "__wkey")


def attach_window_columns(
    df: DataFrame,
    partition_cols: list[str],
    order_cols: list[str],
    order_specs: list[tuple[bool, bool]],
    outputs: dict[str, tuple],
    num_partitions: int | None = None,
) -> DataFrame:
    """Compute rank-family window functions WITHOUT WindowExec — the
    general, tie-correct composition over :func:`with_row_numbers` that
    the SQL gateway lowers pass-through window SQL onto (round-11
    verdict item 5: a user typing q59's own SQL — reference
    src/worker.ts:516-541 passes it verbatim to its engine — must not
    land on Spark's one-task-per-window-partition plan at scale).

    ``order_cols`` are names of ALREADY-MATERIALIZED order-key columns
    on ``df``; ``order_specs`` gives (descending, nulls_first) per key
    (DuckDB defaults NULLS LAST in both directions). ``outputs`` maps
    result column names to specs:

    - ``("row_number",)`` / ``("ntile", k)`` — straight from the total
      row number (tie order engine-arbitrary, as in every engine).
    - ``("rank",)`` / ``("dense_rank",)`` / ``("percent_rank",)`` /
      ``("cume_dist",)`` — tie-CORRECT: one groupBy over
      (partition, order keys) gives each distinct key group's
      min/max row number (rank = min rn of the group, cume_dist =
      max rn / n), and dense_rank is with_row_numbers applied to the
      distinct-key table itself (where the order IS total). All
      shuffles are keyed and parallel — no per-window-partition task.
    - ``("first_value", col)`` / ``("nth_value", col, k, unbounded)`` /
      ``("last_value", col, unbounded)`` — the rn∈{1,k,n} slice is a
      few rows per window partition, aggregated and broadcast back
      (the routing gate only sends LOW-NDV partitions here, so the
      broadcast side is tiny by construction). Default-frame
      semantics: nth_value is NULL until rn≥k; last_value's default
      frame ends at the current row, so it is the row's own value.
    - ``("lag", col, offset, default|None)`` / ``("lead", …)`` — the
      ghost-row blocked window (:func:`_attach_lag_leads_blocked`):
      Spark's own lag/lead over (partition keys, rn-block), with each
      block's boundary rows duplicated into the neighbor block, so the
      window key has ≥ rows/65536 groups and parallelizes regardless of
      window-partition cardinality. The block size scales with the
      max offset (``max(64 Ki, 2 × max offset)``) — no fallback path.
    - ``("pagg", fn_name, col|None)`` — a whole-partition aggregate
      (``sum(x) OVER (PARTITION BY p)`` or with an unbounded-both
      frame): one groupBy + broadcast attach; ``col=None`` is
      ``count(*)``. When EVERY output is a pagg, ``order_cols`` may be
      empty and no sort/row-number pass runs at all.
    """
    sort_cols: list[Column] = []
    for c, (desc, nulls_first) in zip(order_cols, order_specs):
        col = F.col(c)
        if desc:
            col = col.desc_nulls_first() if nulls_first else col.desc_nulls_last()
        else:
            col = col.asc_nulls_first() if nulls_first else col.asc_nulls_last()
        sort_cols.append(col)
    fns = {spec[0] for spec in outputs.values()}
    needs_rn = bool(fns - {"pagg"})
    if not needs_rn:
        return _attach_partition_aggs(df, partition_cols, outputs)
    if not order_cols:
        raise ValueError(
            "order_cols required for non-aggregate window functions"
        )
    ragg_specs = [
        (out, spec) for out, spec in outputs.items() if spec[0] == "ragg"
    ]
    if ragg_specs and not (fns - {"ragg", "pagg"}):
        # running aggregates (± whole-partition aggs) ONLY: skip the
        # with_row_numbers substrate entirely (r14 verdict item 1) — a
        # running agg needs segment carry-ins, not a global row number;
        # the dedicated path sorts on the order keys only, and its
        # bounded stats pass and window finish each re-execute that
        # sort (no cache build)
        r = _attach_running_aggs(
            df,
            partition_cols,
            order_cols,
            ragg_specs,
            sort_cols=sort_cols,
            num_partitions=num_partitions,
        )
        pagg_specs = [
            (out, spec) for out, spec in outputs.items()
            if spec[0] == "pagg"
        ]
        if pagg_specs:
            r = _attach_partition_aggs(r, partition_cols, dict(pagg_specs))
        return r
    r = with_row_numbers(df, partition_cols, sort_cols, num_partitions)
    rn, n = F.col("__rn"), F.col("__pn")
    helper_cols: list[str] = ["__rn", "__pn"]

    # running aggregates FIRST: the segmented-prefix pass relies on r
    # still being the direct (range-partitioned, sorted, narrow-lineage,
    # persisted) output of with_row_numbers — the keyed joins below
    # would destroy that
    if ragg_specs:
        r = _attach_running_aggs(
            r,
            partition_cols,
            order_cols,
            ragg_specs,
            sort_cols=sort_cols,
            presorted=True,
        )

    if fns & {"rank", "dense_rank", "percent_rank", "cume_dist"}:
        gcols = list(partition_cols) + list(order_cols)
        ks = r.groupBy(*gcols).agg(
            F.min("__rn").alias("__krmin"), F.max("__rn").alias("__krmax")
        )
        if "dense_rank" in fns:
            ks = with_row_numbers(
                ks,
                partition_cols,
                [
                    F.col("__krmin")
                ],  # min rn orders distinct keys exactly as the data sort did
                num_partitions,
                rn_col="__kdr",
                n_col="__kn",
            ).drop("__kn")
            helper_cols.append("__kdr")
        ks = ks.select(
            *[F.col(c).alias(f"__k{i}") for i, c in enumerate(gcols)],
            *[c for c in ("__krmin", "__krmax", "__kdr") if c in ks.columns],
        )
        cond = None
        for i, c in enumerate(gcols):
            piece = r[c].eqNullSafe(ks[f"__k{i}"])
            cond = piece if cond is None else cond & piece
        r = r.join(ks, cond, "left").drop(
            *[f"__k{i}" for i in range(len(gcols))]
        )
        helper_cols.extend(["__krmin", "__krmax"])

    # value attachments: one filtered slice (rn ∈ the needed positions),
    # aggregated per window partition and broadcast-joined back
    val_specs = [
        (out, spec)
        for out, spec in outputs.items()
        if spec[0] in ("first_value", "nth_value", "last_value")
    ]
    if val_specs:
        conds, aggs = [], []
        for i, (out, spec) in enumerate(val_specs):
            if spec[0] == "first_value":
                cond = rn == 1
            elif spec[0] == "nth_value":
                cond = rn == int(spec[2])
            else:  # last_value
                cond = rn == n
            conds.append(cond)
            aggs.append(
                F.first(F.when(cond, spec[1]), ignorenulls=True).alias(
                    f"__tv{i}"
                )
            )
        any_cond = conds[0]
        for c in conds[1:]:
            any_cond = any_cond | c
        tops = r.filter(any_cond).groupBy(
            *[F.col(c).alias(f"__p{i}") for i, c in enumerate(partition_cols)]
        ).agg(*aggs)
        cond = F.lit(True)
        for i, c in enumerate(partition_cols):
            cond = cond & r[c].eqNullSafe(tops[f"__p{i}"])
        r = r.join(F.broadcast(tops), cond, "left").drop(
            *[f"__p{i}" for i in range(len(partition_cols))]
        )
        helper_cols.extend(f"__tv{i}" for i in range(len(val_specs)))

    # lag/lead: ghost-row blocked window (see _attach_lag_leads_blocked)
    # — one balanced shuffle, no data-sized self-join at ANY offset
    # (r14 verdict item 5: the block size scales with the max offset,
    # so the former keyed-self-join fallback is gone)
    ll_specs = [
        (o, s) for o, s in outputs.items() if s[0] in ("lag", "lead")
    ]
    if ll_specs:
        r = _attach_lag_leads_blocked(r, partition_cols, ll_specs)

    pagg_specs = [
        (out, spec) for out, spec in outputs.items() if spec[0] == "pagg"
    ]
    if pagg_specs:
        r = _attach_partition_aggs(
            r, partition_cols, dict(pagg_specs)
        )

    out_cols: dict[str, Column] = {}
    vi = {out: i for i, (out, _) in enumerate(val_specs)}
    for out, spec in outputs.items():
        kind = spec[0]
        if kind in ("lag", "lead", "pagg", "ragg"):
            continue  # already attached above
        if kind == "row_number":
            c = rn
        elif kind == "rank":
            c = F.col("__krmin")
        elif kind == "dense_rank":
            c = F.col("__kdr")
        elif kind == "percent_rank":
            c = percent_rank_from_rn(F.col("__krmin"), n)
        elif kind == "cume_dist":
            c = (F.col("__krmax") / n).cast("double")
        elif kind == "ntile":
            c = ntile_from_rn(rn, n, int(spec[1]))
        elif kind == "first_value":
            c = F.col(f"__tv{vi[out]}")
        elif kind == "nth_value":
            c = F.col(f"__tv{vi[out]}")
            if not spec[3]:  # default frame: NULL until the k-th row
                c = F.when(rn >= int(spec[2]), c)
        elif kind == "last_value":
            # default frame ends at the current row → the row's own value
            c = F.col(f"__tv{vi[out]}") if spec[2] else spec[1]
        else:  # pragma: no cover - guarded by the gateway's support check
            raise ValueError(f"unsupported window function: {kind}")
        out_cols[out] = c
    return r.withColumns(out_cols).drop(*helper_cols)


# MINIMUM rows per window block for the blocked lag/lead. The actual
# block size is ``max(_LAG_BLOCK, 2 × max offset)`` (r14 verdict
# item 5) so any offset fits in the neighbor block and the ghost
# fraction stays ≤ 1/2 — large enough that the per-group sort is
# trivial and the ghost fraction is negligible at common offsets,
# small enough that every (partition, block) group fits one task at
# any scale — 64 Ki rows of a wide fact row is a few tens of MB.
_LAG_BLOCK = 65536


def _attach_lag_leads_blocked(
    r: DataFrame,
    partition_cols: list[str],
    specs: list[tuple[str, tuple]],
) -> DataFrame:
    """lag/lead without WindowExec's one-task-per-window-partition wall:
    the GHOST-ROW BLOCKED WINDOW (round-12 verdict item 1b).

    ``__rn`` (global 1-based row number within the window partition,
    from :func:`with_row_numbers`) makes the window partition's row
    sequence addressable: block ``m`` is rows ``rn ∈ (mB, (m+1)B]``
    with ``B = max(64 Ki, 2 × max offset)`` — any offset fits, no
    fallback path. ``lag(x, k)`` needs row ``rn − k``, which for any
    ``k < B`` lives in the row's own block or the previous one. So:

    1. duplicate each block's last ``max_lag`` rows into the NEXT block
       (and, for leads, each block's first ``max_lead`` rows into the
       previous) as flagged GHOST rows — the exchanged boundary, a
       ``max_off / B`` fraction of the data;
    2. run Spark's own ``lag``/``lead`` OVER (PARTITION BY keys, block
       ORDER BY __rn) — the key now has ≥ rows/B groups, so WindowExec
       parallelizes and each task sorts ≤ B + max_off rows regardless
       of the window partition's size;
    3. drop the ghosts.

    Ghosts make the offset row present in the blocked window exactly
    when it exists in the true window (rn∓k ∈ [1, pn]), so Spark's own
    default-argument semantics (and its default-value coercion — e.g.
    truncating 2.5 → 2 for a bigint column) carry over unchanged.

    vs the r12 keyed self-join (both sides data-sized, 10.7 s at sf10):
    one balanced shuffle of (1+ε)·rows — 7.2 s at sf10 (column-pruned,
    min-of-4 quiet box), bounded task memory, no data-sized build side.
    Still above local WindowExec's 2.6 s on the same shape — the
    with_row_numbers range-sort + checkpoint alone costs more than the
    whole single-node window (r14 measured the reverse, 11.3 → 7.5 s)
    — so plans/rank_sql.py routes lag/lead here only when the estimated
    bytes-per-window-partition exceeds a single-task budget (PERF.md
    route-policy tables).
    """
    from pyspark.sql.window import Window

    max_lag = max(
        [int(s[2]) for _, s in specs if s[0] == "lag"], default=0
    )
    max_lead = max(
        [int(s[2]) for _, s in specs if s[0] == "lead"], default=0
    )
    block = max(_LAG_BLOCK, 2 * max_lag, 2 * max_lead)
    rn = F.col("__rn")
    blk = F.floor((rn - 1) / block)
    parts = [
        r.withColumns({"__blk": blk, "__ghost": F.lit(False)})
    ]
    if max_lag:
        parts.append(
            r.filter(((rn - 1) % block) >= block - max_lag)
            .withColumns({"__blk": blk + 1, "__ghost": F.lit(True)})
        )
    if max_lead:
        parts.append(
            r.filter(((rn - 1) % block) < max_lead)
            .withColumns({"__blk": blk - 1, "__ghost": F.lit(True)})
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    w = Window.partitionBy(*partition_cols, "__blk").orderBy("__rn")
    out_cols: dict[str, Column] = {}
    for out, spec in specs:
        fn = F.lag if spec[0] == "lag" else F.lead
        out_cols[out] = fn(spec[1], int(spec[2]), spec[3]).over(w)
    return (
        u.withColumns(out_cols)
        .filter(~F.col("__ghost"))
        .drop("__blk", "__ghost")
    )


# Max group-table rows the RANGE-frame running-agg route will broadcast
# (≈ 64 B/row of keys+partials → a few hundred MB of built hash relation
# at the cap, far under Spark's 8 GiB broadcast limit). Above it the
# window finish takes over — the cost of finding out is one map-side-
# aggregated shuffle of partials, paid once.
_RAGG_BCAST_MAX = 4_000_000

# NDV pre-probe floor (r15, r14 verdict item 6 + ADVICE medium): below
# this estimated input size the grouped route builds the group table
# outright — the partial-agg job that decides the route doubles as the
# cache-populate job the success path needs anyway, so there is nothing
# to save. Above it (the 100 TB regime, where a high-NDV order key —
# timestamps — makes the partial-agg shuffle near data-sized AND the
# budget fallback near certain) a cheap approx_count_distinct probe
# runs first: one scan, map-side HLL partials, a one-row shuffle — and
# an over-budget estimate skips the doomed build entirely. Advisory
# only: an under-estimate falls through to the exact count gate below,
# so the route decision stays correct either way.
_RAGG_PROBE_MIN_BYTES = 4 << 30


def _attach_running_aggs_grouped(
    r: DataFrame,
    partition_cols: list[str],
    order_cols: list[str],
    specs: list[tuple[str, tuple]],
    measure_specs: list[tuple],
    sort_cols: list[Column],
) -> DataFrame | None:
    """RANGE-frame running aggregates as per-group partials + a
    cumulative over the GROUP TABLE + a broadcast join back (r14
    optimization round — the guide §8 shape: every decision depends
    only on ~NDV(partition × order keys) light rows, so never sort or
    ship the data itself).

    1. ``groupBy(partition keys, order keys)`` → per-measure partials
       (sum/count/min/max in the output's exact int64/float64 domain).
       Spark's partial (map-side) aggregation means the shuffle moves
       group partials, not rows.
    2. If the group count exceeds ``_RAGG_BCAST_MAX`` return None (the
       caller runs the positional window finish instead — correct at
       any NDV).
    3. One WindowExec pass over the bounded group table computes each
       group's running value (per-partition task size is capped by the
       broadcast budget, so the one-task-per-window-partition wall
       cannot bite).
    4. Broadcast hash join on null-safe key equality attaches each
       row's group value — streamed side untouched: no exchange, no
       sort, row order and partitioning preserved.

    Semantics notes: tie-inclusiveness is BY CONSTRUCTION (every peer
    row shares its group's value); NULL measures contribute nothing and
    the running value is NULL until the first value (sum/min/max of
    NULL groups skip, avg guards on running count > 0); count(*) rides
    as count(lit(1)); -0.0/NaN keys group and join under Spark's
    normalized equality, matching WindowExec peer semantics. Integral
    measures accumulate exactly in int64; float measures sum under a
    different addition tree than a sequential window — the same
    documented class as every distributed sum.
    """
    from pyspark.sql.window import Window

    keys: list[str] = []
    for c in list(partition_cols) + list(order_cols):
        if c not in keys:
            keys.append(c)
    aggs = []
    for j, (_i, fn, col) in enumerate(measure_specs):
        if fn == "count":
            aggs.append(F.count(col).alias(f"__gc{j}"))
            continue
        t = r.select(col.alias("__kp")).schema[0].dataType.simpleString()
        if t in ("tinyint", "smallint", "int", "bigint"):
            cast = col.cast("long")
        elif t in ("float", "double"):
            cast = col.cast("double")
        else:
            raise ValueError(f"running aggregate over unsupported type {t}")
        if fn in ("sum", "avg"):
            aggs.append(F.sum(cast).alias(f"__gv{j}"))
            aggs.append(F.count(cast).alias(f"__gc{j}"))
        elif fn == "min":
            aggs.append(F.min(cast).alias(f"__gv{j}"))
        else:
            aggs.append(F.max(cast).alias(f"__gv{j}"))
    # Route-decision cost accounting (r14 verdict item 6): on the
    # success path the count() below is NOT an extra pass — it is the
    # FIRST action on the salted-persisted group table, so it both
    # decides the route and populates the cache the window + broadcast
    # passes then reuse (job-count evidence in OPTIMIZATION_r15.md).
    # The waste case is a LARGE input with over-budget NDV: the build
    # is abandoned after a near-data-sized shuffle. The approx pre-probe
    # (gated on estimated input bytes, _RAGG_PROBE_MIN_BYTES) skips the
    # build in exactly that regime.
    # unknown size: the probe would cost a scan; the build decides
    if plan_bytes(r, 0) >= _RAGG_PROBE_MIN_BYTES:
        ndv = r.select(
            F.approx_count_distinct(
                F.struct(*[F.col(k) for k in keys])
            ).alias("__ndv")
        ).collect()[0]["__ndv"]
        # 1.2× margin over the default 5% rsd: estimates this far over
        # budget cannot plausibly be under it; closer calls fall
        # through to the exact gate
        if ndv > int(_RAGG_BCAST_MAX * 1.2):
            return None  # window finish: correct at any order-key NDV
    gt = _persist_substrate(
        r.groupBy(*[F.col(k) for k in keys]).agg(*aggs)
    )
    if gt.count() > _RAGG_BCAST_MAX:
        # eager release (r14 ADVICE): the abandoned group table must not
        # occupy the columnar cache until 4 later builds retire it
        release_salted(gt)
        return None  # window finish: correct at any order-key NDV
    w = (
        Window.partitionBy(*[F.col(c) for c in partition_cols])
        .orderBy(*sort_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run_cols: dict[str, Column] = {}
    for j, (_i, fn, _col) in enumerate(measure_specs):
        if fn == "count":
            run_cols[f"__gr{j}"] = F.sum(F.col(f"__gc{j}")).over(w)
        elif fn == "avg":
            rs = F.sum(F.col(f"__gv{j}")).over(w)
            rc = F.sum(F.col(f"__gc{j}")).over(w)
            run_cols[f"__gr{j}"] = F.when(rc > 0, rs / rc)
        elif fn == "sum":
            run_cols[f"__gr{j}"] = F.sum(F.col(f"__gv{j}")).over(w)
        elif fn == "min":
            run_cols[f"__gr{j}"] = F.min(F.col(f"__gv{j}")).over(w)
        else:
            run_cols[f"__gr{j}"] = F.max(F.col(f"__gv{j}")).over(w)
    n_meta = len(measure_specs)
    gt2 = gt.withColumns(run_cols).select(
        *[F.col(k).alias(f"__gk{i}") for i, k in enumerate(keys)],
        *[F.col(f"__gr{j}") for j in range(n_meta)],
    )
    cond = None
    for i, k in enumerate(keys):
        piece = r[k].eqNullSafe(gt2[f"__gk{i}"])
        cond = piece if cond is None else cond & piece
    joined = r.join(F.broadcast(gt2), cond, "left").drop(
        *[f"__gk{i}" for i in range(len(keys))]
    )
    out_cols = {
        specs[i][0]: F.col(f"__gr{j}")
        for j, (i, _fn, _col) in enumerate(measure_specs)
    }
    return joined.withColumns(out_cols).drop(
        *[f"__gr{j}" for j in range(n_meta)]
    )


def _finish_running_aggs_window(
    spark,
    s: DataFrame,
    specs: list[tuple[str, tuple]],
    measure_specs: list,
    ops: list[str],
    kinds: list[str],
    carries: dict,
    tie_order: list[Column],
) -> DataFrame:
    """JVM finish for running aggregates (r14 optimization round,
    guide §4 "eliminate the Python boundary").

    1. the driver-folded carries (already computed by the stats pass)
       become a tiny broadcast-joined relation on (__rpid, __rwkey) —
       #tasks × key-NDV rows;
    2. Spark's own WindowExec over (PARTITION BY __rwkey, __rpid ORDER
       BY __rmid) computes the in-task running values — the partition
       key includes the task id, so every window group is at most one
       substrate partition: bounded memory, full parallelism, no
       one-task-per-window-partition wall;
    3. the carry combines with the in-task value per measure (NULL
       until the frame has seen a value; integral sums accumulate in
       int64; avg divides the exact int64 sum by the total count once);
    4. a RANGE-frame (tie-inclusive) spec is computed in the SAME
       window distribution (r15, r14 verdict item 3): ``agg(m) OVER
       (PARTITION BY key, task ORDER BY <tie_order> RANGE UNBOUNDED
       PRECEDING..CURRENT ROW)`` — the RANGE frame's peer rows ARE the
       tie group, so the frame already ends at the tie group's last
       row. ``tie_order`` is the substrate's own order-key sort, so a
       pure-RANGE clause plans ONE Window and ONE in-task sort. A tie
       group never spans a task boundary (the caller checks).

    Measured at sf10 (OPTIMIZATION_r14.md): rows-frame running sum
    12.66 s (Arrow kernel, interleaved min-of-5) → 7.25 s; the
    WindowExec here costs one hash exchange of the substrate, which
    the JVM-only pipeline more than buys back from the removed
    row↔Arrow conversion.
    """
    from pyspark.sql.window import Window as _W

    n_meta = len(ops)
    rows_frame = [bool(specs[j][1][3]) for j in range(n_meta)]
    need_tie = not all(rows_frame)
    cfields = [
        T.StructField("__rpid", T.IntegerType()),
        T.StructField("__rwkey", T.StringType()),
    ]
    for j in range(n_meta):
        cfields.append(T.StructField(f"__cc{j}", T.LongType()))
        cfields.append(
            T.StructField(
                f"__cv{j}",
                T.LongType() if kinds[j] == "int" else T.DoubleType(),
            )
        )
    crows = []
    for (pid, wk), entry in carries.items():
        row: list = [pid, wk]
        for j in range(n_meta):
            c0, v0 = entry[j]
            row.append(int(c0))
            if v0 is None:
                row.append(None)
            else:
                row.append(int(v0) if kinds[j] == "int" else float(v0))
        crows.append(tuple(row))
    if crows:
        cdf = spark.createDataFrame(crows, T.StructType(cfields))
        s2 = s.join(F.broadcast(cdf), ["__rpid", "__rwkey"], "left")
    else:  # empty input: NULL carries keep the expressions well-typed
        s2 = s.withColumns(
            {f.name: F.lit(None).cast(f.dataType) for f in cfields[2:]}
        )
    w = (
        _W.partitionBy("__rwkey", "__rpid")
        .orderBy("__rmid")
        .rowsBetween(_W.unboundedPreceding, _W.currentRow)
    )
    # RANGE frame over the order-key sort expressions: peers (equal
    # order keys) share one frame that ends at the tie group's last
    # row, which IS the tie-inclusive running value. Same (key, task)
    # distribution as ``w``
    w_rng = (
        _W.partitionBy("__rwkey", "__rpid")
        .orderBy(*tie_order)
        .rangeBetween(_W.unboundedPreceding, _W.currentRow)
    )
    out_cols: dict[str, Column] = {}
    for j in range(n_meta):
        op, kind = ops[j], kinds[j]
        acc_t = "long" if kind == "int" else "double"
        m = F.col(f"__rm{j}").cast(acc_t)
        cv, cc = F.col(f"__cv{j}"), F.col(f"__cc{j}")
        tie = not rows_frame[j]
        w_j = w_rng if tie else w
        if op in ("sum", "avg"):
            in_v = F.sum(m).over(w_j)
            val = (
                F.when(cv.isNull(), in_v)
                .when(in_v.isNull(), cv)
                .otherwise(cv + in_v)
            )
            if op == "avg":
                tot_c = F.coalesce(cc, F.lit(0)) + F.count(m).over(w_j)
                # exact int64 (or sequential f64) sum, ONE division;
                # total count 0 → NULL, the not-yet-seen-a-value state
                val = F.when(tot_c > 0, val.cast("double") / tot_c)
        else:
            in_v = (F.min if op == "min" else F.max)(m).over(w_j)
            pick = F.least if op == "min" else F.greatest
            val = (
                F.when(cv.isNull(), in_v)
                .when(in_v.isNull(), cv)
                .otherwise(pick(cv, in_v))
            )
        out_cols[f"__rv{j}"] = val.cast(
            "long" if kind == "int" and op != "avg" else "double"
        )
    r2 = s2.withColumns(out_cols)
    for j, (i, fn, col) in enumerate(measure_specs):
        r2 = r2.withColumn(specs[i][0], F.col(f"__rv{j}"))
    drop = ["__rpid", "__rwkey", "__rmid"]
    drop += [f"__rm{j}" for j in range(n_meta)]
    drop += [f"__rv{j}" for j in range(n_meta)]
    drop += [f"__cc{j}" for j in range(n_meta)]
    drop += [f"__cv{j}" for j in range(n_meta)]
    if need_tie:
        drop.append("__rtkey")
    return r2.drop(*drop)


def _attach_running_aggs(
    r: DataFrame,
    partition_cols: list[str],
    order_cols: list[str],
    specs: list[tuple[str, tuple]],
    sort_cols: list[Column],
    num_partitions: int | None = None,
    presorted: bool = False,
) -> DataFrame:
    """Running (cumulative) sum/min/max/count/avg without WindowExec's
    one-task-per-window-partition wall.

    All-RANGE specs first try the group-broadcast route
    (:func:`_attach_running_aggs_grouped`); ROWS specs, and RANGE specs
    whose group table outgrows ``_RAGG_BCAST_MAX``, take the distributed
    SEGMENTED PREFIX (measured structure at sf10 in OPTIMIZATION_r14.md
    and OPTIMIZATION_r15.md):

    1. One range-shuffle sort on the order keys — the only data-sized
       movement (``presorted=True`` skips it: the input is
       with_row_numbers' persisted output in the mixed-family case).
       The stats pass and the finish are separate actions, so each
       re-executes the sort plan rather than sharing a cache: building
       the columnar cache of the sorted frame measured ≥10× the cost of
       the extra sort (OPTIMIZATION_r15.md). The re-execution is
       DETERMINISTIC — fixed-seed range sampling over identical input
       splits, a stable local sort, ``__rpid``/``__rmid`` derived from
       the sorted partitions — so both actions see the same ids.
    2. One BOUNDED stats pass — ``groupBy(__rpid, __rwkey)`` →
       per-measure partials, collected to the driver: ``#tasks × key
       NDV`` rows, constant in data size (the routing gate only sends
       low-NDV partitions here). Carry-ins are folded driver-side,
       exactly (Python ints never overflow).
    3. The JVM window finish (:func:`_finish_running_aggs_window`):
       Spark's own WindowExec over (PARTITION BY __rwkey, __rpid)
       computes each task's local running values and combines them
       with the broadcast carries — integral measures accumulate in
       exact int64, floats in float64 (the addition tree differs from a
       sequential window by partial-sum grouping — the same class of
       reordering every distributed sum performs). SQL NULL semantics:
       a NULL measure contributes nothing and the running value is NULL
       until the frame has seen a value.
    4. A spec with ``rows_frame=False`` (the SQL DEFAULT frame, RANGE
       UNBOUNDED PRECEDING..CURRENT ROW) is tie-inclusive: the finish
       orders by the order-key sort expressions under a RANGE frame, so
       every peer row (same partition + order keys) shares its tie
       group's value. Peers are equal on every sort key, so the range
       partitioner never splits a tie group across tasks; the stats
       pass checks that at each task edge and raises otherwise.

    ``__rwkey``/``__rtkey`` are :func:`render_key` strings of the
    partition and order keys. ``count(*)`` rides as a constant-1
    measure. Decimal measures raise (caught by the gateway → loud
    fallback).
    """
    spark = r.sparkSession
    measure_specs = []  # (spec index, fn, measure Column)
    for i, (_, spec) in enumerate(specs):
        fn, col = spec[1], spec[2]
        if fn == "count" and col is None:
            col = F.lit(1)  # count(*): constant-1 measure
        measure_specs.append((i, fn, col))

    # ---- GROUP-BROADCAST route for all-RANGE specs (r14 optimization
    # round, guide §8 "decide with small rows"): a tie-inclusive RANGE
    # frame depends only on the row's (partition keys, order keys)
    # GROUP, never on its position — so aggregate per group (map-side
    # partials, tiny shuffle), run the cumulative over the bounded
    # group table, and broadcast-join the values back. No range sort,
    # no row ids. Falls through to the window finish when any spec is
    # ROWS-frame (needs true positions) or the group table outgrows the
    # broadcast budget (high-NDV order keys at scale).
    if all(not spec[3] for _, spec in specs):
        out = _attach_running_aggs_grouped(
            r, partition_cols, order_cols, specs, measure_specs, sort_cols
        )
        if out is not None:
            return out

    mcols = {
        "__rpid": F.spark_partition_id(),
        "__rwkey": render_key(r.schema, partition_cols),
    }
    meta = []  # (measure col name, combine op)
    for j, (i, fn, col) in enumerate(measure_specs):
        if fn == "count":
            mcols[f"__rm{j}"] = col.isNotNull().cast("long")
            meta.append((f"__rm{j}", "sum"))
        else:
            mcols[f"__rm{j}"] = col
            meta.append((f"__rm{j}", fn))
    need_tie = any(not spec[3] for _, spec in specs)
    if need_tie:
        # tie (peer) identity = the rendered ORDER keys
        mcols["__rtkey"] = render_key(r.schema, order_cols)
    # __rmid orders rows globally (range partition ids increase with
    # the range, the local counter with the local sort): the finish's
    # in-task order, and the stats pass's first/last-row-of-task marker
    mcols["__rmid"] = F.monotonically_increasing_id()
    if presorted:
        s = r.withColumns(mcols)
    else:
        parts = num_partitions or spark.sparkContext.defaultParallelism
        s = (
            r.repartitionByRange(parts, *sort_cols)
            .sortWithinPartitions(*sort_cols)
            .withColumns(mcols)
        )
    dtypes = dict(s.dtypes)
    kinds = []
    for j in range(len(meta)):
        t = dtypes[f"__rm{j}"]
        if t in ("tinyint", "smallint", "int", "bigint"):
            kinds.append("int")
        elif t in ("float", "double"):
            kinds.append("float")
        else:
            raise ValueError(f"running aggregate over unsupported type {t}")
    ops = [op for _, op in meta]
    n_meta = len(meta)

    def _agg_fn(op):
        return (
            F.sum if op in ("sum", "avg") else (F.min if op == "min" else F.max)
        )

    def _combine(op, a, b):
        """Fold partial ``b`` into accumulated ``a`` (None = no values
        yet). Driver-side, exact: Python ints never overflow."""
        if b is None:
            return a
        if a is None:
            return b
        if op in ("sum", "avg"):
            return a + b
        return min(a, b) if op == "min" else max(a, b)

    # ---- bounded stats pass (#tasks × key NDV rows, constant in data)
    aggs = []
    for j, (name, op) in enumerate(meta):
        aggs.append(_agg_fn(op)(name).alias(f"__av{j}"))
        aggs.append(F.count(name).alias(f"__ac{j}"))
    if need_tie:
        aggs += [
            F.min("__rmid").alias("__amn"),
            F.max("__rmid").alias("__amx"),
            F.min_by("__rtkey", "__rmid").alias("__aft"),
            F.max_by("__rtkey", "__rmid").alias("__alt"),
        ]
    stats = s.groupBy("__rpid", "__rwkey").agg(*aggs).collect()

    # carries per (pid, wkey): the measure state accumulated over all
    # EARLIER tasks of the same window partition — (count, value|None)
    # per measure, values exact Python numbers
    carries: dict[tuple[int, str], list[tuple[int, object]]] = {}
    state: dict[tuple[str, int], tuple[int, object]] = {}
    for row in sorted(stats, key=lambda x: (x["__rwkey"], x["__rpid"])):
        k = (row["__rpid"], row["__rwkey"])
        entry = []
        for j in range(n_meta):
            c0, v0 = state.get((row["__rwkey"], j), (0, None))
            entry.append((c0, v0))
            pc = row[f"__ac{j}"]
            if pc:
                state[(row["__rwkey"], j)] = (
                    c0 + pc,
                    _combine(ops[j], v0, row[f"__av{j}"]),
                )
        carries[k] = entry

    # ---- tie groups never span a task (range frames only): peers are
    # equal on every sort key (order-only sort: the order keys;
    # presorted mixed path: partition + order keys), and the range
    # partitioner colocates equal sort keys — so the finish completes
    # each tie group inside one task. Checked, not assumed: if two
    # adjacent tasks meet on one sort key, raise (the gateway turns it
    # into its loud WindowExec fallback). Cost: a few driver
    # comparisons over the ≤ #tasks-row first/last table, no extra job.
    if need_tie and stats:
        first: dict[int, tuple] = {}  # pid -> (mid, edge sort key)
        last: dict[int, tuple] = {}
        for row in stats:
            p = row["__rpid"]
            wk = row["__rwkey"] if presorted else None
            if p not in first or row["__amn"] < first[p][0]:
                first[p] = (row["__amn"], (wk, row["__aft"]))
            if p not in last or row["__amx"] > last[p][0]:
                last[p] = (row["__amx"], (wk, row["__alt"]))
        pids = sorted(first)
        for a, b in zip(pids, pids[1:]):
            if last[a][1] == first[b][1]:
                raise ValueError(
                    f"running aggregate: a tie group spans tasks {a} and "
                    f"{b}; the per-task RANGE finish cannot complete it"
                )

    return _finish_running_aggs_window(
        spark, s, specs, measure_specs, ops, kinds, carries, sort_cols
    )


def _attach_partition_aggs(
    df: DataFrame, partition_cols: list[str], outputs: dict[str, tuple]
) -> DataFrame:
    """Whole-partition aggregates without WindowExec: one groupBy over
    the partition keys + a broadcast attach (the routing gate only
    sends low-NDV partitions here, so the aggregate side is tiny)."""
    aggs = []
    for out, spec in outputs.items():
        fn, arg = spec[1], spec[2]
        col = F.lit(1) if arg is None else arg
        aggs.append(getattr(F, fn)(col).alias(out))
    pcols = [f"__pa{i}" for i in range(len(partition_cols))]
    pa = df.groupBy(
        *[F.col(c).alias(p) for c, p in zip(partition_cols, pcols)]
    ).agg(*aggs)
    cond = F.lit(True)
    for c, p in zip(partition_cols, pcols):
        cond = cond & df[c].eqNullSafe(pa[p])
    return df.join(F.broadcast(pa), cond, "left").drop(*pcols)


def percent_rank_from_rn(
    rn: Column, n: Column, digits: int | None = None
) -> Column:
    """SQL ``percent_rank()`` computed from (row number under a total
    order, partition count): (rn-1)/(n-1), defined 0 for a single-row
    partition — where the naive quotient is 0/0 → NULL in non-ANSI
    Spark but percent_rank() returns 0 in every engine."""
    pr = (rn - 1) / (n - 1)
    if digits is not None:
        pr = F.round(pr, digits)
    return F.when(n == 1, F.lit(0.0)).otherwise(pr)


def ntile_from_rn(rn: Column, n: Column, buckets: int) -> Column:
    """SQL ``ntile(buckets)`` computed from (row number, partition
    count): the first ``n % buckets`` buckets take ``n div buckets + 1``
    rows, the rest ``n div buckets`` (ANSI semantics, matching both
    Spark's and DuckDB's ntile)."""
    size = F.floor(n / buckets)
    rem = n % buckets
    big = rem * (size + 1)
    return (
        F.when(rn <= big, F.ceil(rn / (size + 1)))
        .otherwise(rem + F.ceil((rn - big) / size))
        .cast("long")
    )
