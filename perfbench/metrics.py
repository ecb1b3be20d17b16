"""Metric definitions and the arithmetic that turns op records and spans
into them. ``END_TO_END`` and ``PER_LAYER`` are the names, units and
directions ``BENCHMARK.json`` declares; every workload reports all of them
(untraced runs the first list, traced runs the second).

An op record is a dict with ``kind``, ``ms`` (latency, timed span only),
``failed`` (bool) and the op's Spark counts ``jobs``, ``stages``,
``tasks``, ``tasks_failed``.
"""

from __future__ import annotations

import math
import re
import statistics
from collections import defaultdict

from perfbench import trace

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")

END_TO_END = {
    # name: (unit, better)
    "setup_s": ("s", "lower"),
    "ops_per_s": ("op/s", "higher"),
    "op_gmean_ms": ("ms", "lower"),
    "query_gmean_ms": ("ms", "lower"),
}

PER_LAYER = {
    **{f"{layer}.self_pct": ("%", "lower") for layer in trace.LAYERS},
    **{f"{layer}.calls": ("count", "lower") for layer in trace.LAYERS},
    "spark.jobs_per_op": ("count", "lower"),
    "spark.stages_per_op": ("count", "lower"),
    "spark.tasks_per_op": ("count", "lower"),
    "spark.tasks_failed": ("count", "lower"),
    "trace.overhead_pct": ("%", "lower"),
}

QUERY_KINDS = ("query", "pipeline")  # ops that submit a query


def tail_percentile(values: list[float], q: float) -> float | None:
    """The q-quantile, or None unless at least ten samples lie beyond it
    (so a p90 needs 100 samples)."""
    if not values or len(values) * (1.0 - q) + 1e-9 < 10:
        return None
    cuts = statistics.quantiles(values, n=100, method="inclusive")
    return cuts[round(q * 100) - 1]


def _ok(records: list[dict]) -> list[dict]:
    return [r for r in records if not r["failed"]]


def gmean(values: list[float]) -> float:
    """Geometric mean: the usual summary of a suite of unlike queries,
    where one slow query must not swamp the rest and no rank swap between
    two similar ones moves the result the way it moves a median."""
    if not values:
        return 0.0
    return math.exp(sum(math.log(max(v, 1e-3)) for v in values) / len(values))


def end_to_end(records: list[dict], setups: list[float]) -> dict:
    ok = _ok(records)
    ms = [r["ms"] for r in ok]
    values = {
        "setup_s": statistics.median(setups),
        "ops_per_s": 1000.0 * len(ms) / sum(ms) if ms else 0.0,
        "op_gmean_ms": gmean(ms),
        "query_gmean_ms": gmean([r["ms"] for r in ok if r["kind"] in QUERY_KINDS]),
    }
    return _with_units(values, END_TO_END)


def per_layer(records: list[dict], spans: list[list], span_cost_s: float) -> dict:
    """Each layer's self time as a share of the measured op time and its
    traced calls; Spark jobs/stages/tasks per op; and the tracing
    overhead: the calibrated cost of one traced call times the calls
    traced, as a share of the measured op time."""
    wall_ms = sum(r["ms"] for r in records) or 1.0
    measured = [i for i, s in enumerate(spans) if s[trace.OP] is not None and s[trace.OP] >= 0]
    selfs = trace.self_times(spans)
    self_ms: dict[str, float] = defaultdict(float)
    calls: dict[str, int] = defaultdict(int)
    for i in measured:
        layer = spans[i][trace.LAYER]
        self_ms[layer] += selfs[i] * 1000.0
        calls[layer] += 1
    n = max(1, len(records))
    values = {}
    for layer in trace.LAYERS:
        values[f"{layer}.self_pct"] = 100.0 * self_ms[layer] / wall_ms
        values[f"{layer}.calls"] = calls[layer]
    values["spark.jobs_per_op"] = sum(r["jobs"] for r in records) / n
    values["spark.stages_per_op"] = sum(r["stages"] for r in records) / n
    values["spark.tasks_per_op"] = sum(r["tasks"] for r in records) / n
    values["spark.tasks_failed"] = sum(r["tasks_failed"] for r in records)
    values["trace.overhead_pct"] = 100.0 * len(measured) * span_cost_s * 1000.0 / wall_ms
    return _with_units(values, PER_LAYER)


def _with_units(values: dict, spec: dict) -> dict:
    return {k: {"value": values[k], "unit": spec[k][0]} for k in spec}


def by_kind(records: list[dict]) -> dict:
    """Per op kind: sample count, p50 and (when the sample allows) p90 ms,
    and mean Spark jobs/stages/tasks per op."""
    groups: dict[str, list[dict]] = defaultdict(list)
    for r in records:
        groups[r["kind"]].append(r)
    out = {}
    for kind, rs in sorted(groups.items()):
        ms = [r["ms"] for r in rs if not r["failed"]]
        n = len(rs)
        out[kind] = {
            "n": n,
            "failed": sum(r["failed"] for r in rs),
            "p50_ms": statistics.median(ms) if ms else None,
            "p90_ms": tail_percentile(ms, 0.9),
            "jobs": sum(r["jobs"] for r in rs) / n,
            "stages": sum(r["stages"] for r in rs) / n,
            "tasks": sum(r["tasks"] for r in rs) / n,
        }
    return out


# Spans (by name prefix) behind the per-layer figures the session-level
# view names; each is reported as total self ms and calls per run.
NAMED_SPANS = {
    "session.get_spark": "session.get_spark",
    "session.ship_package": "session.ship_package",
    "sources.read": "sources.registry.read",
    "functions.metadata.num_rows": "functions.metadata.parquet_num_rows",
    "plans.transpile": "plans.dialect.transpile",
    "plans.run_sql": "plans.sql_gateway.run_sql",
    "engine.materialize": "engine.ResultSet.__init__",
    "engine.page": "engine.ResultSet.page",
    "engine.data_page": "engine.Dataset.page",
    "engine.search": "engine.ResultSet.search",
    "operators.pagination.goto": "operators.pagination.Paginator.goto",
    "operators.sort.sort": "operators.sort.sort",
    "operators.search.search": "operators.search.search",
    "operators.export": "operators.export.export",
    "functions.xlsx": "functions.xlsx.write_xlsx",
    "functions.serialization": "functions.serialization.serialize_rows",
    "operators.dedup": "operators.dedup.",
    "operators.similarity": "operators.similarity.",
    "operators.text": "operators.text.",
    "operators.curation": "operators.curation.",
    "operators.multimodal": "operators.multimodal.",
    "streaming": "streaming.",
    "workload.build": "workload.build",
    "workload.exec": "workload.exec",
}


def named_spans(spans: list[list]) -> dict:
    """Total and self ms and call counts of NAMED_SPANS, split into the
    measured ops (op id >= 0) and set-up (negative op id, one per rep)."""
    selfs = trace.self_times(spans)
    labels_of: dict[str, list[str]] = {}
    out: dict[str, dict] = {}
    for i, s in enumerate(spans):
        op = s[trace.OP]
        if op is None:
            continue
        name = s[trace.NAME]
        labels = labels_of.get(name)
        if labels is None:
            labels = labels_of[name] = [
                label for label, p in NAMED_SPANS.items()
                if (name.startswith(p) if p.endswith(".") else name == p)
            ]
        for label in labels:
            d = out.setdefault(f"{label}.{'run' if op >= 0 else 'setup'}",
                               {"calls": 0, "ms": 0.0, "self_ms": 0.0})
            d["calls"] += 1
            d["ms"] += (s[trace.END] - s[trace.START]) * 1000.0
            d["self_ms"] += selfs[i] * 1000.0
    return out


def export_by_format(records: list[dict]) -> dict:
    """Export latency and bytes per row by format (session only)."""
    out: dict[str, dict] = {}
    for r in records:
        fmt = r.get("format")
        if r["kind"] != "export" or fmt is None or r["failed"]:
            continue
        d = out.setdefault(fmt, {"ms": [], "bytes_per_row": []})
        d["ms"].append(r["ms"])
        if r.get("rows"):
            d["bytes_per_row"].append(r["bytes"] / r["rows"])
    return {
        fmt: {"p50_ms": statistics.median(d["ms"]),
              "bytes_per_row": statistics.median(d["bytes_per_row"]) if d["bytes_per_row"] else None}
        for fmt, d in sorted(out.items())
    }


def derived(records: list[dict], spans_by_label: dict) -> dict:
    """Per-row rates from the traced spans and the ops' sizes."""
    out = {}
    rows_mat = sum(r.get("rows_materialized", 0) for r in records)
    mat = spans_by_label.get("engine.materialize.run")
    if rows_mat and mat:
        out["engine.materialize_rows_per_s"] = rows_mat / (mat["ms"] / 1000.0)
    rows_out = sum(r.get("rows_out", 0) for r in records)
    ser = spans_by_label.get("functions.serialization.run")
    if rows_out and ser:
        out["functions.serialization.rows"] = rows_out
        out["functions.serialization.us_per_row"] = ser["ms"] * 1000.0 / rows_out
    return out
