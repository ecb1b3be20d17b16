"""Tests of the benchmark itself: python -m pytest perfbench/ -q

The last two tests start Spark through the command line (about a minute
per run) and need the package beside ``perfbench/``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import fixture, metrics, workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


@pytest.fixture(scope="module")
def manifest():
    return fixture.ensure()


@pytest.fixture(scope="module", params=sorted(workloads.WORKLOADS))
def workload(request, manifest, tmp_path_factory):
    return workloads.WORKLOADS[request.param](manifest, str(tmp_path_factory.mktemp("run")))


def _plain(loops):
    return [[(op.kind, sorted(op.args.items())) for op in loop] for loop in loops]


def test_same_seed_same_ops_other_seed_other_ops(workload):
    assert _plain(workload.ops(7, 3)) == _plain(workload.ops(7, 3))
    assert _plain(workload.ops(7, 3)) != _plain(workload.ops(8, 3))


def test_every_seed_asks_for_the_same_work(workload):
    """The seed reorders and picks within classes; the op mix is fixed."""
    def mix(loops):
        return sorted(op.kind for loop in loops for op in loop)

    assert mix(workload.ops(1, 2)) == mix(workload.ops(2, 2))


def test_tail_percentile_needs_ten_samples_beyond_it():
    assert metrics.tail_percentile([float(i) for i in range(99)], 0.9) is None
    p90 = metrics.tail_percentile([float(i) for i in range(100)], 0.9)
    assert p90 == pytest.approx(89.1)
    assert metrics.tail_percentile([], 0.5) is None


def test_metric_names_are_well_formed_and_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for section, spec in (("end_to_end", metrics.END_TO_END),
                          ("per_layer", metrics.PER_LAYER)):
        declared = {m["name"]: (m["unit"], m["better"]) for m in bench[section]}
        assert declared == spec
        for name in declared:
            assert metrics.NAME_RE.fullmatch(name), name
    names = [w["name"] for w in bench["workloads"]]
    assert sorted(names) == sorted(workloads.WORKLOADS)


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_spark_counts_repeat_across_traced_runs(name):
    results = []
    for _ in range(2):
        proc = _run(name, trace=1)
        assert proc.returncode == 0, proc.stderr[-2000:]
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        assert result["correct"] and result["failed"] == 0
        assert set(result["metrics"]) == set(metrics.PER_LAYER)
        results.append({k: v["value"] for k, v in result["metrics"].items()
                        if k.startswith("spark.")})
    assert results[0] == results[1]


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".data", ".run", "__pycache__"))
    proc = _run("session", trace=0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
