"""The event-log fold, on a small recorded log (see record_eventlog.py).

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import tracing  # noqa: E402

MODULES = ("funnel", "multimodal")
ROW_MODULES = {"funnel_steps": ("funnel",), "image_resize_stats": ("multimodal",)}


def _recorded():
    log = tracing.fold(tracing.read_events(f"{HERE}/data/eventlog"))
    with open(f"{HERE}/data/spans.json") as f:
        spans = [tracing.Span(**s) for s in json.load(f)]
    return log, spans


def test_fold_reads_jobs_stages_and_named_metrics():
    log, _ = _recorded()
    assert log.jobs and all(j.end_ms >= j.submit_ms for j in log.jobs.values())
    assert sum(st.tasks for st in log.stages.values()) > 0
    assert sum(st.sums.get("run_ms", 0) for st in log.stages.values()) > 0
    assert any(st.python for st in log.stages.values())
    assert any(name == "number of files read" for _, name, _ in log.driver_metrics)


def test_jobs_fold_into_the_request_that_submitted_them():
    log, spans = _recorded()
    per_span = [tracing.request_metrics(log, [sp], ROW_MODULES, MODULES) for sp in spans]
    funnel, image, append = per_span
    for m in per_span:
        assert m["exec.jobs"] >= 1 and m["exec.tasks"] >= m["exec.stages"] >= 1
        assert 0 < m["exec.job_s"] and m["driver.self_s"] >= 0
        assert m["exec.tasks_failed"] == 0
    # only the pandas-UDF row runs Python workers
    assert image["pyworker.rows"] > 0 and image["pyworker.bytes_sent"] > 0
    assert funnel["pyworker.rows"] == 0 and append["pyworker.rows"] == 0
    # the static row -> module map routes task time
    assert funnel["operators.funnel.task_s"] == funnel["exec.task_s"] > 0
    assert funnel["operators.multimodal.task_s"] == 0
    assert image["operators.multimodal.task_s"] == image["exec.task_s"]
    # reads and the append's write
    assert funnel["sources.bytes_read"] > 0 and funnel["sources.files_read"] >= 1
    assert append["sources.bytes_written"] > 0 and funnel["sources.bytes_written"] == 0
    # the whole log folds to per-request means of the three
    both = tracing.request_metrics(log, spans, ROW_MODULES, MODULES)
    assert both["exec.jobs"] * 3 == sum(m["exec.jobs"] for m in per_span)


def test_failed_tasks_are_counted():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1_000, "Stage IDs": [0]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task End Reason": {"Reason": "ExceptionFailure"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task End Reason": {"Reason": "Success"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Number of Tasks": 2, "Accumulables": [
                {"ID": 1, "Name": "internal.metrics.executorRunTime", "Value": 500}]}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1_600},
    ]
    m = tracing.request_metrics(
        tracing.fold(events), [tracing.Span("r", 0.9, 2.0, 0.9)], {}, ()
    )
    assert m["exec.tasks_failed"] == 1 and m["exec.task_s"] == 0.5
    assert m["exec.job_s"] == 0.6 and abs(m["driver.self_s"] - 0.5) < 1e-9


def test_streaming_progress_folds_per_request():
    progress = [
        {"id": "a", "batchId": 1, "durationMs": {"triggerExecution": 30, "addBatch": 20},
         "stateOperators": [{"numRowsTotal": 5, "memoryUsedBytes": 100}]},
        {"id": "a", "batchId": 2, "durationMs": {"triggerExecution": 10, "addBatch": 5},
         "stateOperators": [{"numRowsTotal": 7, "memoryUsedBytes": 120}]},
        {"id": "b", "batchId": 1, "durationMs": {"triggerExecution": 20, "walCommit": 4},
         "stateOperators": [{"numRowsTotal": 1, "memoryUsedBytes": 10}]},
    ]
    m = tracing.streaming_metrics(progress, n_requests=2)
    assert m["streaming.batches"] == 1.5
    assert m["streaming.trigger_ms"] == 30 and m["streaming.add_batch_ms"] == 12.5
    assert m["streaming.wal_commit_ms"] == 2
    assert m["streaming.state_rows"] == 8 and m["streaming.state_mem_bytes"] == 130


def test_units_follow_names():
    assert tracing.unit_of("operators.text.task_s") == "s"
    assert tracing.unit_of("streaming.trigger_ms") == "ms"
    assert tracing.unit_of("exec.shuffle_read_bytes") == "bytes"
    assert tracing.unit_of("blockmgr.storage_used_mb") == "MB"
    assert tracing.unit_of("trace.overhead_frac") == "frac"
    assert tracing.unit_of("exec.jobs") == "count"
