"""Per-layer numbers for a traced run.

``LayerProbe`` installs the traced run's instruments (the py4j call
counter, spans around the stages ``plans.pipeline`` calls, a streaming
progress listener), samples counters around each operation, and after
the run turns spans, the Spark event log and those samples into the
per-layer metrics of ``run.PER_LAYER``.
"""

from __future__ import annotations

import os
import statistics
import time

from perfbench import trace
from perfbench.workloads import PIPELINE_STAGES


def _dir_files(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


class LayerProbe:
    def __init__(self, ctx) -> None:
        from supplier_performance_data_pipeline_spark.plans import pipeline

        self.py4j = trace.Py4jCounter()
        ctx.tracer.counter = lambda: self.py4j.calls
        self._pipeline = pipeline
        self._saved = {n: getattr(pipeline, n) for n in PIPELINE_STAGES}
        for n, span in PIPELINE_STAGES.items():
            setattr(pipeline, n, ctx.tracer.wrap(span, self._saved[n]))
        self.per_op: dict[int, dict] = {}
        self.listener = None

    def start(self, ctx) -> None:
        self.listener = trace.stream_listener_class()()
        ctx.spark.streams.addListener(self.listener)

    def before_op(self, ctx) -> float:
        return trace.python_worker_cpu_s(os.getpid())

    def after_op(self, ctx, op, root, result, cpu_before: float) -> None:
        spark = ctx.spark
        rec = {
            "arrow.worker_cpu_s": trace.python_worker_cpu_s(os.getpid())
            - cpu_before,
            "mat.persisted_rdds_after": len(
                spark.sparkContext._jsc.getPersistentRDDs()
            ),
            "stream.active_after": len(spark.streams.active),
            "noop_s": 0.0,
            "collect.rows": 0,
            "collect.mb": 0.0,
        }
        if result is not None:
            frames = op.outputs(result)
            rec["collect.rows"] = sum(len(f) for f in frames)
            rec["collect.mb"] = sum(
                f.memory_usage(deep=True).sum() for f in frames
            ) / 2**20
            df = op.frame(result)
            if df is not None:
                t0 = time.time()
                df.write.format("noop").mode("overwrite").save()
                rec["noop_s"] = time.time() - t0
            if op.kind == "pipeline":
                files, size = _dir_files(result[0])
                rec["writers.files"] = files
                rec["writers.mb"] = size / 2**20
        self.per_op[root.op] = rec

    def close(self) -> None:
        for n, fn in self._saved.items():
            setattr(self._pipeline, n, fn)
        self.py4j.close()

    def per_layer(self, ctx, res: dict, e2e: dict) -> dict:
        from perfbench.run import PER_LAYER, SETUPS

        tracer = ctx.tracer
        passes = res["passes"]
        log = trace.read_event_log(trace.event_log_files(
            os.path.join(ctx.work, "eventlog", str(SETUPS - 1))
        ))
        m = {name: 0.0 for name in PER_LAYER}
        starts = [s for s in tracer.spans if s.name == "session.start"]
        m["session.start_s"] = starts[0].end - starts[0].start
        roots = [s for s in tracer.spans if s.name.startswith("op:")]
        coverage = []
        graph_s = replay_s = 0.0
        batches = useful = 0
        pipe_s = []
        for root in roots:
            _, kind, name = root.name.split(":", 2)
            took = root.end - root.start
            coverage.append(tracer.coverage(root))
            for k, v in trace.scheduler_facts(log, root.start, root.end).items():
                m[k] += v
            rec = self.per_op.get(root.op, {})
            for k in ("arrow.worker_cpu_s", "collect.rows", "collect.mb",
                      "writers.files", "writers.mb"):
                m[k] += rec.get(k, 0)
            m["mat.persisted_rdds_after"] = max(
                m["mat.persisted_rdds_after"],
                rec.get("mat.persisted_rdds_after", 0),
            )
            m["stream.active_after"] = max(
                m["stream.active_after"], rec.get("stream.active_after", 0)
            )
            kids = [s for s in tracer.spans if s.op == root.op and s is not root]
            for s in kids:
                if s.name == "build":
                    m["build.s"] += s.end - s.start
                    m["build.py4j_calls"] += s.counts.get("py4j", 0)
                elif s.name == "plan":
                    m["plan.s"] += s.end - s.start
                    for k in ("plan.nodes", "plan.exchanges",
                              "arrow.python_nodes"):
                        m[k] += s.counts.get(k, 0)
                elif s.name == "collect":
                    m["collect.s"] += s.end - s.start
                elif s.name.startswith("pipeline."):
                    key = s.name + "_s"
                    if key in m:
                        m[key] += s.end - s.start
                elif s.name == "graph.cc":
                    m["graph.cc_rounds"] += s.counts.get("graph.cc_rounds", 0)
            m["collect.s"] -= rec.get("noop_s", 0.0)
            if kind == "graph":
                m[f"graph.{name}_s"] += took
                graph_s += took
            elif kind == "replay":
                replay_s += took
                b, u = self._stream_facts(m, root)
                batches, useful = batches + b, useful + u
            elif kind == "pipeline":
                pipe_s.append(took)
        m["collect.s"] = max(0.0, m["collect.s"])
        m["graph.pass_s"] = graph_s
        m["stream.replay_pass_s"] = replay_s
        if pipe_s:
            from perfbench.run import pipeline_size

            m["pipeline.run_s"] = statistics.median(pipe_s)
            m["pipeline.rows_per_s"] = pipeline_size(ctx.sf)[1] / m["pipeline.run_s"]
        m["stream.useful_batch_ratio"] = useful / batches if batches else 0.0
        for k in m:
            if k not in ("session.start_s", "mat.persisted_rdds_after",
                         "stream.active_after", "stream.useful_batch_ratio",
                         "pipeline.run_s", "pipeline.rows_per_s"):
                m[k] /= passes
        m["trace.coverage_min"] = min(coverage) if coverage else 0.0
        m["trace.unattributed_s"] = sum(
            v for k, v in tracer.self_times().items() if k.startswith("op:")
        ) / passes
        m["trace.ops_per_min"] = e2e["ops_per_min"]
        m["trace.op_p50_s"] = e2e["op_p50_s"]
        return m

    def _stream_facts(self, m: dict, root) -> tuple[int, int]:
        """Adds the micro-batches whose trigger fell inside the operation;
        returns (batches, batches that read input)."""
        last_state: dict[str, int] = {}
        batches = useful = 0
        for ts, run_id, rows, ms, state in self.listener.batches:
            if not root.start <= ts <= root.end:
                continue
            batches += 1
            useful += rows > 0
            m["stream.batch_s"] += ms / 1000
            last_state[run_id] = state
        m["stream.micro_batches"] += batches
        m["stream.state_rows"] += sum(last_state.values())
        return batches, useful
