"""Self-tests of the benchmark: ``python3 -m pytest perfbench -q``.

The checker tests need no Spark session. The smoke tests run the real
command at a tiny scale factor (about a minute each).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pytest

from perfbench import datagen, run, workloads
from perfbench.trace import Tracer, read_event_log, scheduler_facts

REPO = run.REPO


def _bench() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def _ctx(**kw):
    return SimpleNamespace(
        tracer=Tracer(),
        spark=SimpleNamespace(catalog=SimpleNamespace(clearCache=lambda: None)),
        **kw,
    )


def _measure_one(ctx, check, result) -> dict:
    """One pass of one operation that returns ``result``."""
    op = workloads.Op("op", "read", lambda c: result, check, lambda r: [])
    return run.measure(ctx, [op], seconds=0, probe=None)


def test_datagen_is_seeded(tmp_path):
    a = datagen.make_tables(5, 0.001)
    b = datagen.make_tables(5, 0.001)
    c = datagen.make_tables(6, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert np.array_equal(datagen.make_graph(5, 300, 900), datagen.make_graph(5, 300, 900))


def test_altered_graph_result_counts_as_failed(tmp_path):
    edges = datagen.make_graph(3, 300, 900)
    check = workloads.graph_op("cc").check
    verts = np.unique(edges)
    parent = {int(v): int(v) for v in verts}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in edges.tolist():
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    good = pd.DataFrame({"id": verts, "component": [find(int(v)) for v in verts]})
    bad = good.copy()
    bad.loc[0, "component"] = bad.loc[0, "component"] + 1
    ctx = _ctx(graph_edges=edges, bfs_source=int(edges[0, 0]))
    ok = _measure_one(ctx, check, (None, [good]))
    assert ok["failed"] == 0 and ok["attempted"] == 1
    res = _measure_one(ctx, check, (None, [bad]))
    assert res["failed"] == 1 and res["failed"] / res["attempted"] > 0


def test_altered_power_iteration_counts_as_failed(tmp_path):
    edges = datagen.make_graph(4, 300, 900)
    nodes, r, _ = workloads._power_iteration(edges, "pagerank")
    good = pd.DataFrame({"s": nodes, "r": np.round(r, 9)})
    bad = good.assign(r=good.r + 1e-6)
    check = workloads.graph_op("pagerank").check
    ctx = _ctx(graph_edges=edges, bfs_source=0)
    assert _measure_one(ctx, check, (None, [good]))["failed"] == 0
    assert _measure_one(ctx, check, (None, [bad]))["failed"] == 1


def test_altered_registry_result_counts_as_failed(tmp_path):
    from supplier_performance_data_pipeline_spark.plans.registry import load_all
    from tests.oracle_utils import run_oracle

    sf_dir = str(tmp_path / "tables")
    datagen.write_tables(sf_dir, 1, 0.001)
    registry = load_all()
    name = "pricing_summary"
    good = run_oracle(sf_dir, registry[name].oracle)
    bad = good.copy()
    bad.iloc[0, 1] = bad.iloc[0, 1] * 2 if bad.dtypes.iloc[1].kind in "if" else "x"
    check = workloads.registry_op(name, "read").check
    ctx = _ctx(registry=registry, sf_dir=sf_dir, oracle_cache={})
    assert _measure_one(ctx, check, (None, good))["failed"] == 0
    assert _measure_one(ctx, check, (None, bad))["failed"] == 1


def test_raising_operation_counts_as_failed(tmp_path):
    def boom(ctx):
        raise RuntimeError("boom")

    op = workloads.Op("x", "read", boom, lambda c, r: None, lambda r: [])
    res = run.measure(_ctx(), [op], seconds=0, probe=None)
    assert res["failed"] == 1 and res["latencies"] == []


def test_event_log_skipped_stages_and_thread_jobs(tmp_path):
    """A stage with no submission time is skipped, not a garbage
    duration; a job is assigned by time window, job group or not."""
    t0 = int(time.time() * 1000)
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": t0 + 10,
         "Stage IDs": [0, 1], "Properties": {},
         "Stage Infos": [{"Stage ID": 0, "Number of Tasks": 2, "Stage Name": "count at x.py:1"},
                         {"Stage ID": 1, "Number of Tasks": 4, "Stage Name": "count at x.py:1"}]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Info": {"Finish Time": t0 + 15},
         "Task Metrics": {"Executor Run Time": 5, "Executor CPU Time": 4_000_000}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 1, "Number of Tasks": 4,
                        "Submission Time": t0 + 11, "Completion Time": t0 + 19}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": t0 + 20},
        # Launched from a helper thread: no job group, still inside the window.
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": t0 + 30,
         "Stage IDs": [2], "Properties": {"callSite.short": "localCheckpoint at g.py:9"},
         "Stage Infos": [{"Stage ID": 2, "Number of Tasks": 1}]},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 2, "Number of Tasks": 1,
                        "Submission Time": t0 + 31, "Completion Time": t0 + 39}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": t0 + 40},
    ]
    path = tmp_path / "events_1_app"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    facts = scheduler_facts(read_event_log([str(path)]), t0 / 1000, (t0 + 100) / 1000)
    assert facts["sched.jobs"] == 2
    assert facts["sched.stages"] == 2
    assert facts["sched.skipped_stages"] == 1
    assert facts["mat.checkpoint_jobs"] == 1
    assert facts["sched.tasks"] == 1
    assert facts["sched.driver_gap_s"] == pytest.approx(0.1 - 0.02, abs=1e-6)


def test_benchmark_json_matches_run():
    b = _bench()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == run.PER_LAYER
    for w in b["workloads"]:
        assert run.workload_ops(w["name"], 0.001)


@pytest.mark.parametrize("workload,trace", [("analyst_reads", 0), ("batch_jobs", 1)])
def test_smoke_run_emits_every_metric(workload, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "2", "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    b = _bench()
    want = b["per_layer"] if trace else b["end_to_end"]
    assert {n: m["unit"] for n, m in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in want
    }
