"""Per-layer metrics for a traced run, taken from outside the engine.

Two sources feed them:

- spans that the benchmark records around the calls it makes into each
  layer's public functions (``get_spark``, ``load_table``, the registry
  builders, the parquet append), plus ``StreamingQuery.recentProgress``
  for the streaming twins;
- Spark's own event log (``spark.eventLog.enabled``, uncompressed), which
  this module folds: job start and end times, the accumulables of every
  completed stage, failed task ends, and SQL metrics named by the plan of
  each SQL execution (driver-side updates included).

Jobs belong to the request during whose wall time they were submitted.
Every count and time is reported per timed request, so runs with a
different number of requests compare.

This module imports nothing from Spark, so its parser can be tested on a
recorded log without a session.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import time
from dataclasses import dataclass, field

PYTHON_NODE = re.compile(r"Python|Pandas|Arrow")
STAGE_SUMS = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read",
    "internal.metrics.diskBytesSpilled": "spill",
    "internal.metrics.input.bytesRead": "bytes_read",
    "internal.metrics.output.bytesWritten": "bytes_written",
}


@dataclass
class Job:
    submit_ms: int
    end_ms: int
    stages: list[int]


@dataclass
class Stage:
    tasks: int = 0
    failed_tasks: int = 0
    sums: dict[str, float] = field(default_factory=dict)
    python: dict[str, float] = field(default_factory=dict)


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)
    # (SQL execution start ms, metric name, value) of driver-side updates
    driver_metrics: list[tuple[int, str, float]] = field(default_factory=list)


def read_events(log_dir: str) -> list[dict]:
    """Every JSON event under ``log_dir``, rolled files in order."""

    def index(path: str) -> int:
        m = re.match(r"events_(\d+)_", os.path.basename(path))
        return int(m.group(1)) if m else 0

    files = glob.glob(f"{log_dir}/**/events_*", recursive=True)
    events = []
    for path in sorted(files, key=lambda p: (os.path.dirname(p), index(p))):
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _plan_metrics(plan: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in plan.get("metrics", ()):
        out[m["accumulatorId"]] = (plan["nodeName"], m["name"])
    for child in plan.get("children", ()):
        _plan_metrics(child, out)


def fold(events: list[dict]) -> EventLog:
    log = EventLog()
    metric_of: dict[int, tuple[str, str]] = {}
    exec_start: dict[int, int] = {}
    driver_updates: list[tuple[int, int, float]] = []
    for e in events:
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerJobStart":
            log.jobs[e["Job ID"]] = Job(e["Submission Time"], e["Submission Time"], e["Stage IDs"])
        elif kind == "SparkListenerJobEnd":
            log.jobs[e["Job ID"]].end_ms = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = log.stages.setdefault(info["Stage ID"], Stage())
            st.tasks += info["Number of Tasks"]
            for acc in info.get("Accumulables", ()):
                value = acc.get("Value")
                if not isinstance(value, (int, float)):
                    try:
                        value = float(value)
                    except (TypeError, ValueError):
                        continue
                key = STAGE_SUMS.get(acc["Name"])
                if key is not None:
                    st.sums[key] = st.sums.get(key, 0) + value
                node, name = metric_of.get(acc["ID"], ("", ""))
                if PYTHON_NODE.search(node):
                    st.python[name] = st.python.get(name, 0) + value
        elif kind == "SparkListenerTaskEnd":
            if e["Task End Reason"]["Reason"] != "Success":
                log.stages.setdefault(e["Stage ID"], Stage()).failed_tasks += 1
        elif kind in ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"):
            if kind == "SparkListenerSQLExecutionStart":
                exec_start[e["executionId"]] = e["time"]
            _plan_metrics(e["sparkPlanInfo"], metric_of)
        elif kind == "SparkListenerSQLAdaptiveSQLMetricUpdates":
            for m in e["sqlPlanMetrics"]:
                metric_of[m["accumulatorId"]] = ("", m["name"])
        elif kind == "SparkListenerDriverAccumUpdates":
            for acc_id, value in e["accumUpdates"]:
                driver_updates.append((e["executionId"], acc_id, value))
    for exec_id, acc_id, value in driver_updates:
        name = metric_of.get(acc_id, ("", ""))[1]
        log.driver_metrics.append((exec_start.get(exec_id, 0), name, value))
    return log


@dataclass
class Span:
    """One timed request as the client saw it (epoch seconds)."""

    row: str
    start: float
    end: float
    construct_end: float


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, cur_s, cur_e = 0, None, None
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


def request_metrics(log: EventLog, spans: list[Span], row_modules: dict, modules) -> dict:
    """Fold the event log over the request spans; per-request means."""
    n = max(1, len(spans))
    tot: dict[str, float] = {}

    def add(key: str, value: float) -> None:
        tot[key] = tot.get(key, 0.0) + value

    jobs = sorted(log.jobs.values(), key=lambda j: j.submit_ms)
    for sp in spans:
        lo, hi = int(sp.start * 1000) - 1, int(sp.end * 1000) + 1
        mine = [j for j in jobs if lo <= j.submit_ms <= hi]
        covered = _union_ms([(max(j.submit_ms, lo), min(j.end_ms, hi)) for j in mine])
        add("exec.jobs", len(mine))
        add("exec.job_s", covered / 1000)
        add("driver.self_s", max(0.0, (sp.end - sp.start) - covered / 1000))
        add(
            "queries.construct_jobs",
            sum(j.submit_ms <= sp.construct_end * 1000 + 1 for j in mine),
        )
        task_s = 0.0
        for j in mine:
            for sid in j.stages:
                st = log.stages.get(sid)
                if st is None:  # skipped stage: its shuffle output was reused
                    continue
                add("exec.stages", 1)
                add("exec.tasks", st.tasks)
                add("exec.tasks_failed", st.failed_tasks)
                task_s += st.sums.get("run_ms", 0) / 1000
                add("exec.task_cpu_s", st.sums.get("cpu_ns", 0) / 1e9)
                add("exec.gc_s", st.sums.get("gc_ms", 0) / 1000)
                add("exec.shuffle_write_bytes", st.sums.get("shuffle_write", 0))
                add("exec.shuffle_read_bytes", st.sums.get("shuffle_read", 0))
                add("exec.spill_bytes", st.sums.get("spill", 0))
                add("sources.bytes_read", st.sums.get("bytes_read", 0))
                add("sources.bytes_written", st.sums.get("bytes_written", 0))
                if st.python:
                    add("pyworker.task_s", st.python.get("time to run Python workers", 0) / 1000)
                    add("pyworker.rows", st.python.get("number of output rows", 0))
                    add("pyworker.bytes_sent", st.python.get("data sent to Python workers", 0))
        add("exec.task_s", task_s)
        for m in row_modules.get(sp.row, ()):
            add(f"operators.{m}.task_s", task_s)
        add(
            "sources.files_read",
            sum(v for t, name, v in log.driver_metrics if name == "number of files read" and lo <= t <= hi),
        )
    keys = [
        "exec.jobs", "exec.stages", "exec.tasks", "exec.job_s", "exec.task_s",
        "exec.task_cpu_s", "exec.gc_s", "exec.shuffle_write_bytes",
        "exec.shuffle_read_bytes", "exec.spill_bytes", "exec.tasks_failed",
        "driver.self_s", "queries.construct_jobs", "sources.bytes_read",
        "sources.files_read", "sources.bytes_written", "pyworker.task_s",
        "pyworker.rows", "pyworker.bytes_sent",
    ] + [f"operators.{m}.task_s" for m in modules]
    return {k: tot.get(k, 0.0) / n for k in keys}


def streaming_metrics(progress: list[dict], n_requests: int) -> dict:
    """Micro-batch counts and durations per request; state at the end."""
    n = max(1, n_requests)

    def dur(key: str) -> float:
        return sum(p["durationMs"].get(key, 0) for p in progress) / n

    last: dict[str, dict] = {}
    for p in progress:
        last[p["id"]] = p
    state = [op for p in last.values() for op in p.get("stateOperators", ())]
    return {
        "streaming.batches": len(progress) / n,
        "streaming.trigger_ms": dur("triggerExecution"),
        "streaming.add_batch_ms": dur("addBatch"),
        "streaming.planning_ms": dur("queryPlanning"),
        "streaming.wal_commit_ms": dur("walCommit"),
        "streaming.state_rows": float(sum(op.get("numRowsTotal", 0) for op in state)),
        "streaming.state_mem_bytes": float(sum(op.get("memoryUsedBytes", 0) for op in state)),
    }


def unit_of(name: str) -> str:
    """Unit of a per-layer metric, read off its name."""
    leaf = name.rsplit(".", 1)[-1]
    for suffix, unit in (("_s", "s"), ("_ms", "ms"), ("_mb", "MB"), ("_frac", "frac")):
        if leaf.endswith(suffix):
            return unit
    return "bytes" if "bytes" in leaf else "count"


class Tracer:
    """Times calls into the engine's layers during one traced session."""

    def __init__(self):
        self.spans: list[Span] = []
        self.layer_s: dict[str, list[float]] = {}
        self.in_phase = False
        self._patched: list[tuple[object, str, object]] = []

    # -- spans around layer calls --
    def session_start(self, seconds: float) -> None:
        self.layer_s.setdefault("session.start", []).append(seconds)

    def add_span(self, layer: str, seconds: float) -> None:
        if self.in_phase:
            self.layer_s.setdefault(layer, []).append(seconds)

    def begin_phase(self) -> None:
        self.in_phase = True

    def end_phase(self) -> None:
        self.in_phase = False

    def patch_load_table(self) -> None:
        """Wrap ``load_table`` wherever the engine's modules bound it."""
        import sys

        from datafusion_uba_spark import sources

        orig = sources.load_table

        def load_table(*args, **kwargs):
            t = time.time()
            try:
                return orig(*args, **kwargs)
            finally:
                self.add_span("sources.load", time.time() - t)

        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "") or ""
            if name.startswith("datafusion_uba_spark") and getattr(mod, "load_table", None) is orig:
                self._patched.append((mod, "load_table", orig))
                setattr(mod, "load_table", load_table)

    def unpatch(self) -> None:
        for mod, attr, orig in self._patched:
            setattr(mod, attr, orig)
        self._patched.clear()

    def traced_request(self, row: str, build, finish):
        start = time.time()
        df = build()
        construct_end = time.time()
        self.add_span("queries.construct", construct_end - start)
        result = finish(df)
        self.spans.append(Span(row, start, time.time(), construct_end))
        return result

    def record_request(self, row: str, start: float, end: float) -> None:
        self.spans.append(Span(row, start, end, start))

    # -- fold --
    def per_layer(self, log: EventLog, state, row_modules, modules) -> dict:
        n = len(self.spans)

        def per_req(layer: str) -> float:
            return sum(self.layer_s.get(layer, ())) / max(1, n)

        out = request_metrics(log, self.spans, row_modules, modules)
        out |= streaming_metrics(state.stream_progress, n)
        out |= {
            "session.start_s": statistics.median(self.layer_s["session.start"]),
            "queries.construct_s": per_req("queries.construct"),
            "sources.load_s": per_req("sources.load"),
            "sources.write_s": per_req("sources.write"),
            "blockmgr.storage_used_mb": state.storage_used_mb,
        }
        return out
