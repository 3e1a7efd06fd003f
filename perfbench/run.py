"""Benchmark of the PySpark supplier-analytics engine.

    python3 perfbench/run.py --workload analyst_reads --seed 1 --seconds 5 --trace 0

Run from the repository root. One run starts a Spark session on
``local[<cores>]``, writes seeded inputs, and runs the workload's
operations in a closed loop (one caller, the next call after the
previous one returns) in whole passes until ``--seconds`` have gone by
(at least one pass).
Each output is checked outside the timed window. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). ``BENCHMARK.json`` lists the
workloads and metrics and says why each was chosen.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(REPO, ".perfbench_work")
SETUPS = 3  # set-ups per run; setup_s is their median

END_TO_END = {
    "setup_s": "s",
    "ops_per_min": "ops/min",
    "op_p50_s": "s",
    "peak_pss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "build.s": "s", "build.py4j_calls": "count",
    "plan.s": "s", "plan.nodes": "count", "plan.exchanges": "count",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.skipped_stages": "count", "sched.driver_gap_s": "s",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.gc_s": "s",
    "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    "arrow.worker_cpu_s": "s", "arrow.python_nodes": "count",
    "collect.s": "s", "collect.rows": "count", "collect.mb": "MB",
    "mat.checkpoint_jobs": "count", "mat.persisted_rdds_after": "count",
    "graph.pass_s": "s", "graph.cc_s": "s", "graph.pagerank_s": "s",
    "graph.hits_s": "s", "graph.bfs_s": "s", "graph.lpa_s": "s",
    "graph.cc_rounds": "count",
    "pipeline.run_s": "s", "pipeline.rows_per_s": "rows/s",
    "pipeline.generate_s": "s", "pipeline.write_s": "s",
    "pipeline.quality_s": "s", "pipeline.kpis_s": "s", "pipeline.risk_s": "s",
    "writers.files": "count", "writers.mb": "MB",
    "stream.replay_pass_s": "s", "stream.micro_batches": "count",
    "stream.useful_batch_ratio": "ratio", "stream.batch_s": "s",
    "stream.state_rows": "count", "stream.active_after": "count",
    "trace.coverage_min": "ratio", "trace.unattributed_s": "s",
    "trace.ops_per_min": "ops/min", "trace.op_p50_s": "s",
}


def host_env() -> None:
    """Pin the engine to this host; keep every file inside the checkout."""
    cores = len(os.sched_getaffinity(0))
    mem_gb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") / 2**30
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # session.py defaults to 16g; leave most of a small host to others.
    os.environ["SPARK_DRIVER_MEMORY"] = f"{max(1, min(3, int(mem_gb // 4)))}g"
    # Python workers import the engine for mapInPandas / UDF bodies.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    if REPO not in sys.path:
        sys.path.insert(0, REPO)


def record_metadata() -> dict:
    import duckdb
    import pyspark

    try:
        # Look no further up than the checkout itself.
        env = {**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(REPO)}
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True,
            text=True, timeout=10, env=env,
        ).stdout.strip() or "unknown"
    except OSError:
        sha = "unknown"
    return {
        "cores": int(os.environ["SPARK_GRAFT_CPUS"]),
        "git_sha": sha,
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "loadavg_start": os.getloadavg(),
        **host_probe("start"),
    }


def host_probe(when: str = "end") -> dict:
    """Seconds a fixed single-thread loop takes now. The host's own speed
    drifts; comparing this across records tells a slow host from a slow
    engine."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i
    return {f"cpu_probe_{when}_s": time.perf_counter() - t0}


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


class Context:
    """What operations see: the session, the inputs and the tracer."""

    def __init__(self, args, tracer, traced: bool):
        self.seed = args.seed
        self.sf = args.sf
        self.traced = traced
        self.tracer = tracer
        self.work = WORK
        self.sf_dir = os.path.join(WORK, "tables")
        self.graph_path = os.path.join(WORK, "graph.parquet")
        self.sym_path = os.path.join(WORK, "graph_sym.parquet")
        self.oracle_cache: dict = {}
        self.pipeline_runs = 0
        self.spark = None
        self.registry = None
        self.graph_edges = None
        self.bfs_source = None


def graph_size(sf: float) -> tuple[int, int]:
    n = max(200, int(20_000 * sf))
    return n, 3 * n


def pipeline_size(sf: float) -> tuple[int, int]:
    return max(10, int(10_000 * sf)), max(600, int(200_000 * sf))


def workload_ops(name: str, sf: float) -> list:
    from perfbench import workloads as w

    if name == "analyst_reads":
        return [w.registry_op(q, "read") for q in w.ANALYST_QUERIES]
    if name == "batch_jobs":
        return (
            [w.graph_op(a) for a in w.GRAPH_ALGOS]
            + [w.pipeline_op(*pipeline_size(sf))]
            + [w.registry_op(q, "replay") for q in w.REPLAYS]
        )
    if name == "known_failures":
        return [w.registry_op(q, "read") for q in w.KNOWN_FAILURES]
    raise SystemExit(f"unknown workload {name!r}")


def start_session(ctx: Context, index: int):
    from supplier_performance_data_pipeline_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK}/tmp",
    }
    if ctx.traced:
        log_dir = os.path.join(WORK, "eventlog", str(index))
        os.makedirs(log_dir, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + log_dir
        conf["spark.eventLog.compress"] = "false"
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def write_inputs(ctx: Context) -> None:
    import numpy as np

    from perfbench import datagen

    datagen.write_tables(ctx.sf_dir, ctx.seed, ctx.sf)
    edges = datagen.make_graph(ctx.seed, *graph_size(ctx.sf))
    datagen.write_graph(ctx.graph_path, edges)
    datagen.write_graph(ctx.sym_path, datagen.symmetric(edges))
    ctx.graph_edges = edges
    ctx.bfs_source = int(edges[np.random.default_rng(ctx.seed).integers(len(edges)), 0])


def warm_up(ctx: Context) -> None:
    """One Python-worker round trip, so the first operation does not
    pay for starting the worker daemon."""
    ctx.spark.range(1000).mapInPandas(lambda it: it, "id long").toPandas()


def set_up(ctx: Context, index: int) -> float:
    t0 = time.perf_counter()
    if ctx.spark is not None:
        ctx.spark.stop()
    with ctx.tracer.span("session.start"):
        ctx.spark = start_session(ctx, index)
    write_inputs(ctx)
    warm_up(ctx)
    return time.perf_counter() - t0


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, and
    its value (the 11th largest); the maximum when there are fewer."""
    xs = sorted(values)
    if len(xs) < 11:
        return 100.0, xs[-1]
    k = len(xs) - 11
    return 100.0 * (k + 1) / len(xs), xs[k]


def measure(ctx: Context, ops: list, seconds: float, probe) -> dict:
    """Run whole passes over ``ops`` until ``seconds`` have gone by."""
    lat: list[tuple[str, str, float]] = []
    attempted = failed = 0
    failures: list[str] = []
    t_start = time.perf_counter()
    passes = 0
    while passes == 0 or time.perf_counter() - t_start < seconds:
        passes += 1
        for op in ops:
            attempted += 1
            ctx.tracer.op = attempted
            before = probe.before_op(ctx) if probe else None
            with ctx.tracer.span(f"op:{op.kind}:{op.name}") as root:
                try:
                    result = op.run(ctx)
                except Exception:  # an operation that raises is a failure
                    result = None
                    failures.append(f"{op.name}: {traceback.format_exc(limit=3)}")
            ok = result is not None
            ctx.spark.catalog.clearCache()
            if probe:
                probe.after_op(ctx, op, root, result, before)
            if ok:
                try:
                    op.check(ctx, result)
                except Exception as e:  # a mismatch, or output it cannot read
                    ok = False
                    failures.append(f"{op.name}: {type(e).__name__}: {str(e)[:300]}")
            if ok:
                lat.append((op.kind, op.name, root.end - root.start))
            else:
                failed += 1
    return {
        "latencies": lat,
        "passes": passes,
        "attempted": attempted,
        "failed": failed,
        "failures": failures,
    }


def end_to_end(setups: list[float], res: dict, peak_bytes: int) -> dict:
    times = [t for _, _, t in res["latencies"]] or [float("nan")]
    return {
        "setup_s": statistics.median(setups),
        "ops_per_min": 60.0 * len(res["latencies"]) / sum(times),
        "op_p50_s": statistics.median(times),
        "peak_pss_mb": peak_bytes / 2**20,
    }


def by_kind(res: dict, sf: float) -> list[tuple[str, float, str]]:
    """Per-kind figures a reader of one workload asks for first: read
    latency and throughput, pipeline run time and rows per second, and
    the time of one pass over the graph algorithms and the replays."""
    out = []
    lat: dict[str, list[float]] = {}
    for kind, _, took in res["latencies"]:
        lat.setdefault(kind, []).append(took)
    passes = res["passes"]
    if "read" in lat:
        pct, value = tail(lat["read"])
        out += [
            ("read_p50_s", statistics.median(lat["read"]), "s"),
            (f"read_tail_s (p{pct:.0f} of {len(lat['read'])})", value, "s"),
            ("reads_per_min", 60 * len(lat["read"]) / sum(lat["read"]), "queries/min"),
        ]
    if "pipeline" in lat:
        run_s = statistics.median(lat["pipeline"])
        out += [
            ("pipeline_run_s", run_s, "s"),
            ("pipeline_rows_per_s", pipeline_size(sf)[1] / run_s, "rows/s"),
        ]
    if "graph" in lat:
        out.append(("graph_pass_s", sum(lat["graph"]) / passes, "s"))
    if "replay" in lat:
        out.append(("replay_pass_s", sum(lat["replay"]) / passes, "s"))
    out.append(("failed_op_share", res["failed"] / res["attempted"], "ratio"))
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.1,
                    help="input scale factor (0.1 = 600k lineitems)")
    args = ap.parse_args(argv)

    shutil.rmtree(WORK, ignore_errors=True)
    host_env()
    # Fail before any work when the engine or its oracle helpers are absent.
    import supplier_performance_data_pipeline_spark  # noqa: F401
    import tests.oracle_utils  # noqa: F401

    from perfbench.layers import LayerProbe
    from perfbench.trace import MemorySampler, Tracer
    from supplier_performance_data_pipeline_spark.plans.registry import load_all

    meta = record_metadata()
    traced = bool(args.trace)
    tracer = Tracer()
    ctx = Context(args, tracer, traced)
    ctx.registry = load_all()
    ops = workload_ops(args.workload, args.sf)
    probe = LayerProbe(ctx) if traced else None
    try:
        setups = [set_up(ctx, i) for i in range(SETUPS)]
        if probe:
            probe.start(ctx)
        memory = MemorySampler()
        steal_s = -host_steal_s()
        try:
            res = measure(ctx, ops, args.seconds, probe)
        finally:
            memory.close()
        steal_s += host_steal_s()
    finally:
        if probe:
            probe.close()
        if ctx.spark is not None:
            stop_jvm(ctx.spark)
    metrics = end_to_end(setups, res, memory.peak)
    units = END_TO_END
    if traced:
        metrics = probe.per_layer(ctx, res, metrics)
        units = PER_LAYER
        tracer.dump(os.path.join(WORK, "spans.jsonl"))

    for f in res["failures"]:
        print(f"FAILED {f}", file=sys.stderr)
    meta.update(host_probe(), steal_s=steal_s)
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "passes": res["passes"], **meta}))
    for kind, name, took in res["latencies"]:
        print(f"op {kind:8s} {name:36s} {took:9.3f} s")
    for name, value, unit in by_kind(res, args.sf):
        print(f"{name:28s} {value:14.6g} {unit}")
    for name, unit in units.items():
        print(f"{name:28s} {metrics[name]:14.6g} {unit}")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {n: {"value": metrics[n], "unit": u} for n, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
