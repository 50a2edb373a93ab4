"""Tests of the benchmark itself: the reducer, the wall attribution, the
metric lists against BENCHMARK.json, and toy-size end-to-end runs.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

import run
from eventlog import Job, read_event_log
from layertrace import Span, attribute

HERE = os.path.dirname(os.path.abspath(__file__))


def _event(kind, **kw):
    return json.dumps({"Event": kind, **kw}) + "\n"


def test_reducer_groups_tasks_by_job_group(tmp_path):
    log = tmp_path / "app-1"
    log.write_text(
        _event("SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1],
                                           "Properties": {"spark.jobGroup.id": "extract"}})
        + _event("SparkListenerTaskEnd", **{"Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 400, "Executor CPU Time": 1e8, "JVM GC Time": 10,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 2e6}}})
        + _event("SparkListenerTaskEnd", **{"Stage ID": 1, "Task Metrics": {"Executor Run Time": 100}})
        + _event("SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 3000})
        # job 1 re-lists stage 1 (skipped) under another group: stage stays with job 0
        + _event("SparkListenerJobStart", **{"Job ID": 1, "Submission Time": 3000, "Stage IDs": [1, 2]})
        + _event("SparkListenerTaskEnd", **{"Stage ID": 2, "Task Metrics": {"Executor Run Time": 50}})
        + _event("SparkListenerJobEnd", **{"Job ID": 1, "Completion Time": 3500})
        + '{"Event": "SparkListenerTaskEnd", "Stage'  # torn last line
    )
    out = read_event_log(str(tmp_path))
    g = out.groups["extract"]
    assert (g.jobs, g.stages, g.tasks) == (1, 2, 2)
    assert g.task_s == pytest.approx(0.5)
    assert g.python_s == pytest.approx(0.4)
    assert g.shuffle_write_mb == pytest.approx(2.0)
    assert out.groups["(none)"].task_s == pytest.approx(0.05)
    assert out.jobs == [Job(0, "extract", 1.0, 3.0), Job(1, "(none)", 3.0, 3.5)]


def test_attribution_partitions_the_window():
    spans = [Span("pipeline", "run_pipeline", 0.0, 0, end=10.0), Span("checkpoint", "mentions", 1.0, 1, end=6.0),
             Span("extract", "extract_mentions", 1.5, 2, end=2.0)]
    jobs = [Job(0, "extract", 3.0, 5.0), Job(1, "link", 7.0, 9.0)]
    changes = [(0.0, "pipeline"), (1.0, "checkpoint"), (1.5, "extract"), (6.5, "link")]
    owned = attribute([("build", 0.0, 10.0)], spans, jobs, changes)
    assert owned == pytest.approx({"pipeline": 3.0, "checkpoint": 2.5, "extract": 2.5, "link": 2.0})
    assert sum(owned.values()) == pytest.approx(10.0)
    # outside spans, the group in effect owns the time
    assert attribute([("q", 20.0, 21.0)], [], [], changes) == {"link": pytest.approx(1.0)}


def test_tail_has_ten_samples_beyond_it():
    assert run._tail(list(range(100))) == (89, 90.0)
    assert run._tail([3.0, 1.0, 2.0]) == (3.0, 100.0)


def test_benchmark_json_matches_the_metrics_printed():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.per_layer_units()


def _toy(workload: str, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--toy"],
        cwd=os.path.dirname(HERE), stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=600,
    )
    assert proc.returncode == 0
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


def test_toy_query_run_is_correct_and_complete():
    detail, res = _toy("query", 0)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0, detail["failures"]
    assert set(res["metrics"]) == set(run.END_TO_END)
    assert all(m["value"] > 0 for m in res["metrics"].values())


def test_toy_traced_build_covers_the_build_wall():
    detail, res = _toy("build", 1)
    assert res["correct"], detail["failures"]
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert set(m) == set(run.per_layer_units())
    walls = [m[f"{layer}.wall_s"] for layer in run.BUILD_LAYERS]
    assert sum(walls) + m["pipeline.driver_s"] == pytest.approx(m["pipeline.traced_build_s"], rel=1e-6)
    assert all(w > 0 for w in walls) and m["pipeline.driver_s"] > 0
    # the merge and compaction stay in the delta layer
    assert m["delta.wall_s"] >= 0.9 * (m["delta.merge_s"] + m["delta.compact_s"])
    assert m["delta.jobs"] > 0 and m["delta.stats_refresh_s"] > 0
    assert m["link.kept_per_scored"] > 0


def test_fails_without_the_package(tmp_path):
    os.makedirs(tmp_path / "perfbench")
    for name in os.listdir(HERE):
        if name.endswith(".py"):
            with open(os.path.join(HERE, name)) as src, open(tmp_path / "perfbench" / name, "w") as dst:
                dst.write(src.read())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "build", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=60,
    )
    assert proc.returncode != 0 and proc.stdout == ""
