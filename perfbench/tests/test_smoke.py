"""Smoke test of the benchmark at sf0.001 (a few minutes, one JVM plus
two short CLI runs).

    python3 -m pytest perfbench/tests -q

Every workload runs once untraced and once traced; each result must
carry every metric BENCHMARK.json names, with its unit, and pass its
checks.  A tampered pin must be caught as a failure.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import run as bench_run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench"))
    spark, start_s = bench_run.start_spark(work)
    yield spark, start_s, work
    bench_run.stop_spark(spark)


def _run(session, workload, trace, pins=None):
    spark, start_s, work = session
    out = os.path.join(work, f"{workload}-{trace}")
    os.makedirs(out)
    args = argparse.Namespace(
        workload=workload, seed=7, seconds=1.0, trace=trace, sf=0.001,
        pins=pins or os.path.join(HERE, "pins.json"),
        trace_out=os.path.join(out, "trace.json"))
    result, context = bench_run.run(args, spark, start_s, out)
    shutil.rmtree(out)
    return result, context["context"]


def _assert_metrics(result, kind):
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    names = {m["name"]: m["unit"] for m in SPEC[kind]}
    assert set(result["metrics"]) == set(names)
    for name, unit in names.items():
        assert result["metrics"][name]["unit"] == unit
        assert isinstance(result["metrics"][name]["value"], float)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_end_to_end(session, workload):
    result, ctx = _run(session, workload, trace=0)
    _assert_metrics(result, "end_to_end")
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    for name in ("setup_s", "wall_s", "examples_per_s", "first_batch_s"):
        assert result["metrics"][name]["value"] > 0
    assert ctx["cpus"] == len(os.sched_getaffinity(0))


@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_traced(session, workload):
    result, _ = _run(session, workload, trace=1)
    _assert_metrics(result, "per_layer")
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert result["correct"] and m["fail_ratio"] == 0
    assert m["exec.jobs"] > 0 and m["session.start_s"] > 0
    layer = {"train_stream": "streams.epoch_jobs",
             "analytics_scan": "ops.build_s",
             "stream_screen": "streaming.batches"}[workload]
    assert m[layer] > 0


def test_tampered_pin_is_a_failure(session, tmp_path):
    with open(os.path.join(HERE, "pins.json")) as fh:
        pins = json.load(fh)
    pin = pins["analytics_scan"]["0.001"]["pricing_summary"]
    pin[1] ^= 1
    path = tmp_path / "pins.json"
    path.write_text(json.dumps(pins))
    result, _ = _run(session, "analytics_scan", trace=1, pins=str(path))
    assert not result["correct"]
    assert result["failed"] >= 1
    assert result["metrics"]["fail_ratio"]["value"] > 0


def test_cli_prints_result_last_and_cleans_up():
    p = subprocess.Popen(
        [sys.executable, "perfbench/run.py", "--workload", "train_stream",
         "--seed", "3", "--seconds", "1", "--trace", "0", "--sf", "0.001"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    out, err = p.communicate(timeout=300)
    assert p.returncode == 0, err[-2000:]
    result = json.loads(out.strip().splitlines()[-1])
    _assert_metrics(result, "end_to_end")
    assert not os.path.exists(
        os.path.join(ROOT, ".perfbench_work", f"train_stream-{p.pid}"))


def test_cli_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
