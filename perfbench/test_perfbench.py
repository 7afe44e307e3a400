"""Tests of the benchmark itself, on tiny inputs.

    python3 -m pytest perfbench -q

One Spark session (event log on) serves every in-process run; the CLI is
exercised once end to end and once in a directory without the engine.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [p for p in (HERE, ROOT) if p not in sys.path]

import run  # noqa: E402
import spans  # noqa: E402
from workloads import TINY  # noqa: E402

WORKLOADS = ("maintain", "upsert")


def benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    run_dir = str(tmp_path_factory.mktemp("perfbench"))
    events = os.path.join(run_dir, "events")
    settings = run.box_settings()
    spark = run.start_spark(settings, run_dir, events)
    yield spark, run_dir, events, settings["cpus"]
    run.stop_spark(spark)


def _measure(session, workload, trace, seed=5, corrupt=None):
    spark, run_dir, events, cores = session
    work = os.path.join(run_dir, f"{workload}-{trace}-{corrupt}")
    os.makedirs(work)
    try:
        return run.measure(spark, workload, seed, 1.0, trace, TINY, work,
                           cores, event_dir=events, corrupt=corrupt)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _assert_metrics(result: dict, declared: list) -> None:
    got = result["metrics"]
    assert set(got) == {m["name"] for m in declared}
    for m in declared:
        v = got[m["name"]]
        assert v["unit"] == m["unit"], m["name"]
        assert isinstance(v["value"], (int, float)), m["name"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_printed_with_unit(session, workload):
    bench = benchmark_json()
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    plain = _measure(session, workload, trace=False)["result"]
    assert plain["correct"] and plain["failed"] == 0 and plain["attempted"] >= 1
    _assert_metrics(plain, bench["end_to_end"])
    assert all(plain["metrics"][m["name"]]["value"] > 0
               for m in bench["end_to_end"])
    traced = _measure(session, workload, trace=True)["result"]
    assert traced["correct"]
    _assert_metrics(traced, bench["per_layer"])


@pytest.mark.parametrize("workload,corrupt", [
    ("maintain", "digest"),
    ("upsert", "digest"), ("upsert", "lookup"), ("upsert", "answer"),
])
def test_corrupted_answer_is_caught(session, workload, corrupt):
    res = _measure(session, workload, trace=False, corrupt=corrupt)["result"]
    assert not res["correct"]
    assert res["failed"] >= 1
    assert res["metrics"]["success_rate"]["value"] < 1.0


def test_span_tree_is_well_formed(session):
    spark, run_dir, events, cores = session
    tracer = spans.Tracer()
    import workloads

    tracer.install(callers=[workloads])
    work = os.path.join(run_dir, "spantree")
    try:
        workloads.maintain(spark, work, 9, 1.0, TINY, tracer)
    finally:
        tracer.uninstall()
        shutil.rmtree(work, ignore_errors=True)
    names = {s["name"] for s in tracer.spans}
    assert {"maintain", "run_maintenance", "compact", "cluster",
            "Table.commit"} <= names
    assert spans.span_violations(tracer.spans) == []
    assert min(spans.self_times(tracer.spans).values()) >= -1e-3
    # the originals are back once the wrappers come off
    from aws_medallion_datalake_spark.operators import run as oprun

    assert not hasattr(oprun.compact, "__perfbench_orig__")


def test_self_time_subtracts_the_union_of_children():
    tree = [
        {"id": 0, "parent": None, "name": "op", "layer": "bench",
         "start": 0.0, "end": 10.0, "op": 0},
        {"id": 1, "parent": 0, "name": "a", "layer": "x", "start": 1.0,
         "end": 5.0, "op": 0},
        {"id": 2, "parent": 0, "name": "b", "layer": "x", "start": 4.0,
         "end": 6.0, "op": 0},  # overlaps a: a worker thread
        {"id": 3, "parent": 1, "name": "c", "layer": "y", "start": 2.0,
         "end": 3.0, "op": 0},
    ]
    st = spans.self_times(tree)
    assert st == {0: 5.0, 1: 3.0, 2: 2.0, 3: 1.0}
    assert spans.span_violations(tree) == []
    tree[3]["end"] = 5.5  # child outlives its parent
    assert spans.span_violations(tree)


def test_failed_probe_is_missing_not_a_value():
    assert run.cpu_probe(timeout_s=1e-4) is None
    v = run.cpu_probe()
    assert v is None or v > 0


def test_cli_prints_the_result_last(tmp_path):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "upsert", "--seed",
         "3", "--seconds", "1", "--trace", "0", "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-2000:]
    lines = p.stdout.strip().splitlines()
    ctx = json.loads(lines[-2])["perfbench"]
    assert ctx["seed"] == 3 and ctx["inputs"]["rows"] == TINY.rows
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    runs = os.path.join(ROOT, ".perfbench_runs")
    assert not [d for d in os.listdir(runs) if d.startswith("upsert-3-")]


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    cmd = benchmark_json()["command"]
    p = subprocess.run(cmd + ["--workload", "maintain", "--seed", "1",
                              "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
