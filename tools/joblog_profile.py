#!/usr/bin/env python
"""Per-job/per-stage wall-clock breakdown for ONE registry query (guide §1).

Runs the query with the Spark event log enabled, then parses the log into
a job timeline: submit time, completion time, duration, stage count, task
count, and the call site / description — the attribution the stage-level
status tracker cannot give. Gaps between jobs are driver-side time
(planning, py4j, checkpoint bookkeeping, manifest IO).

Usage: python tools/joblog_profile.py <query> [--sf DIR] [--runs 1]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from supplier_performance_data_pipeline_spark.plans.registry import load_all
from supplier_performance_data_pipeline_spark.session import get_spark


def parse_event_log(lines) -> tuple[dict[int, dict], dict[int, dict]]:
    """Jobs and stages from the JSON lines of a Spark event log.

    A stage whose completion event lacks a submission or completion
    time never ran (its shuffle output was reused); its ``ms`` is
    ``None`` so ``skipped_stages`` counts it instead of reporting an
    epoch-scale duration."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for line in lines:
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        e = ev.get("Event")
        if e == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "t0": ev["Submission Time"],
                "group": props.get("spark.jobGroup.id", ""),
                "desc": (props.get("spark.job.description", "")
                         or props.get("callSite.short", ""))[:110],
                "n_stages": len(ev.get("Stage Infos", [])),
                "stage_ids": [s["Stage ID"]
                              for s in ev.get("Stage Infos", [])],
            }
        elif e == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["t1"] = ev["Completion Time"]
        elif e == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            t0, t1 = si.get("Submission Time"), si.get("Completion Time")
            stages[si["Stage ID"]] = {
                "name": si.get("Stage Name", "")[:80],
                "n_tasks": si.get("Number of Tasks", 0),
                "ms": None if t0 is None or t1 is None else t1 - t0,
            }
    return jobs, stages


def skipped_stages(job: dict, stages: dict[int, dict]) -> int:
    """Stages the job lists that never ran."""
    return sum(
        stages.get(s, {}).get("ms") is None for s in job["stage_ids"]
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=1)
    args = ap.parse_args()

    log_dir = tempfile.mkdtemp(prefix="spark_joblog_")
    spark = get_spark(
        app_name="joblog",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
        },
    )
    specs = load_all()
    # Warm JVM/codegen + Python workers like bench.py.
    specs["supplier_kpis"].build(spark, args.sf).limit(1).collect()
    spark.range(64, numPartitions=32).mapInPandas(
        lambda it: it, schema="id long"
    ).collect()

    for name in args.names:
        for run in range(args.runs):
            spark.sparkContext.setJobGroup(f"{name}#{run}", name)
            t0 = time.perf_counter()
            specs[name].build(spark, args.sf).toPandas()
            wall = time.perf_counter() - t0
            spark.sparkContext.setJobGroup("", "")
            print(f"\n=== {name} run {run}: wall {wall:.3f}s ===")
            spark.catalog.clearCache()
    spark.stop()

    logs = glob.glob(os.path.join(log_dir, "*"))
    assert logs, f"no event log in {log_dir}"
    lines: list[str] = []
    for path in logs:
        with open(path) as f:
            lines += f.readlines()
    jobs, stages = parse_event_log(lines)

    by_group: dict[str, list[tuple[int, dict]]] = {}
    for jid, j in sorted(jobs.items()):
        by_group.setdefault(j["group"], []).append((jid, j))
    for group, js in by_group.items():
        group = group or "(ungrouped — warmup + concurrent driver threads)"
        total = sum(j.get("t1", j["t0"]) - j["t0"] for _, j in js) / 1000.0
        t_first = min(j["t0"] for _, j in js)
        t_last = max(j.get("t1", j["t0"]) for _, j in js)
        span = (t_last - t_first) / 1000.0
        print(f"\n### {group}: {len(js)} jobs, sum {total:.2f}s, "
              f"span {span:.2f}s (gaps {span - total:.2f}s)")
        prev_end = None
        for jid, j in js:
            dur = (j.get("t1", j["t0"]) - j["t0"]) / 1000.0
            gap = ((j["t0"] - prev_end) / 1000.0) if prev_end else 0.0
            prev_end = j.get("t1", j["t0"])
            stg = [
                f"{stages[s]['n_tasks']}t/{stages[s]['ms']}ms"
                for s in j["stage_ids"] if stages.get(s, {}).get("ms") is not None
            ]
            print(f"  job {jid:4d} {dur:7.3f}s gap {gap:6.3f}s "
                  f"stages[{len(j['stage_ids'])}]={','.join(stg[:8])} "
                  f"skipped {skipped_stages(j, stages)} "
                  f"| {j['desc'][:80]}")


if __name__ == "__main__":
    main()
