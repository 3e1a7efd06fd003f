"""Tracing for the benchmark's traced runs: spans, counters and the
readers that turn Spark's own records into per-layer numbers.

Everything here wraps calls the benchmark makes into the engine; no
engine code is touched. Spans are kept in memory by a ``Tracer`` and
written out when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from datetime import datetime
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    op: int  # operation id; -1 for set-up
    parent: int | None  # index of the parent span in Tracer.spans
    start: float  # wall-clock seconds (time.time)
    end: float = 0.0
    counts: dict[str, float] = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. ``span`` nests by call order."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op = -1
        # Optional () -> int read at each span's start and end; the
        # difference is stored as the span's "py4j" count.
        self.counter = None

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        c0 = self.counter() if self.counter else 0
        s = Span(name, self.op, parent, time.time())
        self.spans.append(s)
        self._stack.append(idx)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self.counter:
                s.counts["py4j"] = self.counter() - c0

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the part its children cover."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            covered = union_length([(c.start, c.end) for c in kids.get(i, [])])
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
        return out

    def coverage(self, root: Span) -> float:
        """Share of ``root``'s wall time that its child spans cover."""
        i = self.spans.index(root)
        covered = union_length(
            [(c.start, c.end) for c in self.spans if c.parent == i]
        )
        return covered / max(root.end - root.start, 1e-9)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Py4jCounter:
    """Counts py4j commands by wrapping ``GatewayClient.send_command``,
    which every py4j client (including the pinned-thread one PySpark
    uses) inherits. ``close`` restores the original."""

    def __init__(self) -> None:
        from py4j.java_gateway import GatewayClient

        self.calls = 0
        self._cls = GatewayClient
        self._orig = GatewayClient.send_command
        orig = self._orig
        counter = self

        def send_command(client, *args, **kwargs):
            counter.calls += 1
            return orig(client, *args, **kwargs)

        GatewayClient.send_command = send_command

    def close(self) -> None:
        self._cls.send_command = self._orig


# --- /proc readers ----------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared with other processes (a
    forked Python worker and its daemon) count once in total."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def python_worker_cpu_s(root: int) -> float:
    """CPU seconds of the ``pyspark.daemon`` processes under ``root``,
    including workers they forked and reaped (cutime/cstime)."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"pyspark.daemon" not in f.read():
                    continue
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime are fields 14-17 of stat.
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


class MemorySampler:
    """Samples the summed proportional set size of this process and all
    its descendants (the JVM and the Python workers) every ``every``
    seconds and keeps the peak."""

    def __init__(self, every: float = 0.5) -> None:
        self.peak = 0
        self._stop = threading.Event()
        self._every = every
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def sample(self) -> None:
        total = sum(pss_bytes(p) for p in process_tree(os.getpid()))
        self.peak = max(self.peak, total)

    def _run(self) -> None:
        while not self._stop.wait(self._every):
            self.sample()

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


# --- Spark event log ----------------------------------------------------------


@dataclass
class JobRecord:
    job_id: int
    submit_ms: int
    end_ms: int = 0
    stage_ids: list[int] = field(default_factory=list)
    call_site: str = ""


@dataclass
class EventLog:
    jobs: list[JobRecord]
    # stage id -> submission ms, None for a stage that never ran
    stages: dict[int, int | None]
    tasks: list[tuple[int, dict]]  # (stage id, task metrics)


def _json_lines(paths: list[str]):
    for path in paths:
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def read_event_log(paths: list[str]) -> EventLog:
    """Parse the JSON-lines event log Spark writes with
    ``spark.eventLog.enabled``. A stage that a job lists but that never
    runs (its output is reused) has no submission time; it is kept with
    ``None`` so callers can count it as skipped."""
    jobs: dict[int, JobRecord] = {}
    stages: dict[int, int | None] = {}
    tasks: list[tuple[int, dict]] = []
    for ev in _json_lines(paths):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            rec = JobRecord(
                ev["Job ID"],
                ev["Submission Time"],
                stage_ids=list(ev.get("Stage IDs", [])),
                call_site=props.get("callSite.short", ""),
            )
            infos = sorted(ev.get("Stage Infos", []), key=lambda i: i["Stage ID"])
            for info in infos:
                stages.setdefault(info["Stage ID"], None)
            if not rec.call_site and infos:
                # The result stage (highest id) is named after the action.
                rec.call_site = infos[-1].get("Stage Name", "")
            jobs[rec.job_id] = rec
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            stages[info["Stage ID"]] = info.get("Submission Time")
        elif kind == "SparkListenerTaskEnd":
            tasks.append((ev["Stage ID"], ev.get("Task Metrics") or {}))
    return EventLog(sorted(jobs.values(), key=lambda j: j.submit_ms), stages, tasks)


def event_log_files(log_dir: str) -> list[str]:
    """The one application's event log files under ``log_dir`` in write
    order: a plain file, or the numbered parts of a rolling log."""
    found = []
    for root, _, names in os.walk(log_dir):
        found += [os.path.join(root, n) for n in names if not n.startswith(".")]

    def part(path: str) -> int:
        name = os.path.basename(path)
        return int(name.split("_")[1]) if name.startswith("events_") else 0

    found = [f for f in found if "appstatus" not in os.path.basename(f)]
    if not found:
        raise RuntimeError(f"no event log under {log_dir}")
    return sorted(found, key=part)


def scheduler_facts(log: EventLog, start_s: float, end_s: float) -> dict:
    """Jobs, stages, tasks and executor metrics of one operation.

    Jobs belong to the operation whose time window holds their
    submission, whatever thread launched them (job groups are
    thread-local, so jobs from helper threads carry none)."""
    lo, hi = start_s * 1000, end_s * 1000
    jobs = [j for j in log.jobs if lo <= j.submit_ms <= hi]
    stage_ids = {s for j in jobs for s in j.stage_ids}
    ran = {s for s in stage_ids if log.stages.get(s) is not None}
    busy = union_length([
        (j.submit_ms / 1000, (j.end_ms or j.submit_ms) / 1000) for j in jobs
    ])
    out = {
        "sched.jobs": len(jobs),
        "sched.stages": len(ran),
        "sched.skipped_stages": len(stage_ids) - len(ran),
        "sched.tasks": 0,
        "sched.driver_gap_s": max(0.0, (end_s - start_s) - busy),
        "mat.checkpoint_jobs": sum(
            "checkpoint" in j.call_site.lower() for j in jobs
        ),
        "exec.task_run_s": 0.0,
        "exec.task_cpu_s": 0.0,
        "exec.gc_s": 0.0,
        "exec.shuffle_write_mb": 0.0,
        "exec.shuffle_read_mb": 0.0,
        "exec.spill_mb": 0.0,
    }
    mb = 1024 * 1024
    for stage, m in log.tasks:
        if stage not in ran:
            continue
        out["sched.tasks"] += 1
        out["exec.task_run_s"] += m.get("Executor Run Time", 0) / 1000
        out["exec.task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        out["exec.gc_s"] += m.get("JVM GC Time", 0) / 1000
        sw = m.get("Shuffle Write Metrics") or {}
        out["exec.shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / mb
        sr = m.get("Shuffle Read Metrics") or {}
        out["exec.shuffle_read_mb"] += (
            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        ) / mb
        out["exec.spill_mb"] += (
            m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        ) / mb
    return out


def stream_listener_class():
    """A ``StreamingQueryListener`` subclass that keeps every progress
    event's (trigger start, run id, input rows, batch ms, state rows)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self) -> None:
            self.batches: list[tuple[float, str, int, int, int]] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            state = sum(op.numRowsTotal for op in p.stateOperators)
            start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
            self.batches.append((
                start.timestamp(), str(p.runId), p.numInputRows,
                p.batchDuration, state,
            ))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return ProgressLog
