"""Structured Streaming over events: stream results must equal batch."""

import pytest
from pyspark.sql import functions as F

from vscode_parquet_visualizer_spark.streaming import events as se


@pytest.fixture(scope="module")
def batch_events(spark, sf_dir):
    from vscode_parquet_visualizer_spark.sources import registry

    return registry.read(spark, f"{sf_dir}/events.parquet", "parquet")


@pytest.fixture(scope="module")
def stream(spark, sf_dir):
    return se.read_events_stream(spark, f"{sf_dir}/events.parquet")


def test_stream_is_streaming(stream):
    assert stream.isStreaming
    assert dict(stream.dtypes)["ts"] == "timestamp"


def test_windowed_counts_match_batch(spark, stream, batch_events):
    agg = se.windowed_counts(stream, window="1 hour", watermark="2 hours")
    q = (
        agg.writeStream.format("memory").queryName("t_win")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {
        (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in spark.table("t_win").collect()
    }
    want = {
        (r["ws"], r["event_type"]): (r["n"], r["total_value"])
        for r in batch_events.groupBy(
            F.date_trunc("hour", "ts").alias("ws"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
        .collect()
    }
    assert got == want


def test_sessionize_runs(spark, stream):
    q = (
        se.sessionize(stream, gap="30 minutes")
        .writeStream.format("memory").queryName("t_sess")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    rows = spark.table("t_sess").collect()
    assert len(rows) > 0
    assert all(r["session_start"] <= r["session_end"] for r in rows)


def test_sessionize_matches_batch(spark, stream, batch_events):
    """Streaming session windows == batch F.session_window, row for row."""
    q = (
        se.sessionize(stream, gap="30 minutes")
        .writeStream.format("memory").queryName("t_sess_eq")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {
        tuple(r)
        for r in spark.table("t_sess_eq")
        .select("session_start", "user_id", "n_events", "session_value")
        .collect()
    }
    want = {
        tuple(r)
        for r in batch_events.groupBy(
            F.session_window("ts", "30 minutes").alias("sess"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("session_value"),
        )
        .select(F.col("sess.start").alias("session_start"), "user_id", "n_events", "session_value")
        .collect()
    }
    assert got == want


def test_stateful_running_value_matches_batch(spark, stream, batch_events):
    out = se.stateful_running_value(stream)
    q = (
        out.writeStream.format("memory").queryName("t_state")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    # last update per user == batch totals
    got = {
        r["user_id"]: (round(r["running_total"], 4), r["running_n"])
        for r in spark.table("t_state").collect()
    }
    want = {
        r["user_id"]: (round(r["t"], 4), r["n"])
        for r in batch_events.groupBy("user_id")
        .agg(F.sum("value").alias("t"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_streaming_dedup_equals_batch(spark, sf_dir, batch_events):
    from vscode_parquet_visualizer_spark import workload

    out = workload.QUERIES["q61_streaming_dedup"](spark, sf_dir)
    got = {r["event_type"]: r["n"] for r in out.collect()}
    want = {
        r["event_type"]: r["n"]
        for r in batch_events.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want  # self-unioned stream deduped back to original counts


def test_stream_stream_interval_join_matches_batch(spark, sf_dir, stream, batch_events):
    from vscode_parquet_visualizer_spark.streaming.joins import (
        purchases_with_prior_views,
    )

    out = purchases_with_prior_views(stream, lookback="30 minutes")
    q = (
        out.writeStream.format("memory").queryName("t_ssjoin")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {
        (r["purchase_id"], r["view_id"])
        for r in spark.table("t_ssjoin").collect()
    }
    p = batch_events.filter("event_type = 'purchase'").selectExpr(
        "user_id pu", "event_id pid", "ts pts"
    )
    v = batch_events.filter("event_type = 'view'").selectExpr(
        "user_id vu", "event_id vid", "ts vts"
    )
    want = {
        (r["pid"], r["vid"])
        for r in p.join(
            v,
            (F.col("pu") == F.col("vu"))
            & (F.col("vts") <= F.col("pts"))
            & (F.col("vts") >= F.col("pts") - F.expr("INTERVAL 30 minutes")),
        ).collect()
    }
    assert got == want and len(want) > 0


@pytest.mark.parametrize(
    "name", ["q61_streaming_dedup", "q70_stream_stream_join", "q72_streaming_sessions"]
)
def test_workload_stream_batch_short_circuit(spark, sf_dir, name, monkeypatch):
    """The static-input short-circuit (the default ``_STREAM_MODE``,
    batch plan) must be row-for-row equal to the streaming plan — the
    'both ways' gate for the round-4 batch short-circuit."""
    from vscode_parquet_visualizer_spark import workload

    assert workload._STREAM_MODE == "batch"
    batch_rows = sorted(
        tuple(r) for r in workload.QUERIES[name](spark, sf_dir).collect()
    )
    monkeypatch.setattr(workload, "_STREAM_MODE", "stream")
    stream_rows = sorted(
        tuple(r) for r in workload.QUERIES[name](spark, sf_dir).collect()
    )
    assert batch_rows == stream_rows


def test_interval_seconds_compound_and_fallback(spark, batch_events):
    # r13 ADVICE: compound lookbacks ('1 hour 30 minutes') are valid
    # INTERVAL syntax for the range condition and must bin correctly;
    # an unparseable one falls back to the un-binned join (same rows)
    from vscode_parquet_visualizer_spark.streaming.joins import (
        _interval_seconds,
        purchases_with_prior_views,
    )

    assert _interval_seconds("1 hour 30 minutes") == 5400
    assert _interval_seconds("2 days 1 second") == 2 * 86400 + 1
    want = {
        (r["purchase_id"], r["view_id"])
        for r in purchases_with_prior_views(
            batch_events, lookback="30 minutes"
        ).collect()
    }
    got = {
        (r["purchase_id"], r["view_id"])
        for r in purchases_with_prior_views(
            batch_events, lookback="0 hours 30 minutes"
        ).collect()
    }
    assert got == want
    # a unit the binning doesn't know ('week') but Spark's INTERVAL
    # accepts: un-binned fallback, same rows as the equivalent simple
    # form
    want_7d = {
        (r["purchase_id"], r["view_id"])
        for r in purchases_with_prior_views(
            batch_events, lookback="7 days"
        ).collect()
    }
    got_wk = {
        (r["purchase_id"], r["view_id"])
        for r in purchases_with_prior_views(
            batch_events, lookback="1 week"
        ).collect()
    }
    assert got_wk == want_7d
