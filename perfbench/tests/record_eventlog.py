"""Record the small Spark event log that test_tracing.py folds.

Three traced requests on tiny inputs: a batch UBA row, a pandas-UDF row
(``image_resize_stats``) and one parquet append. The log is trimmed to
the events and fields ``tracing.fold`` reads, and the request spans are
saved next to it. Run from the repository root:

    python3 perfbench/tests/record_eventlog.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [os.path.dirname(BENCH), BENCH]

import run  # noqa: E402
import tracing  # noqa: E402

KEEP_ACCUMS = set(tracing.STAGE_SUMS)


def _trim_plan(plan: dict) -> dict:
    """Keep the plan shape, Python-node metrics and files-read counts."""
    python = tracing.PYTHON_NODE.search(plan["nodeName"])
    return {
        "nodeName": plan["nodeName"],
        "metrics": [
            m for m in plan.get("metrics", [])
            if python or m["name"] == "number of files read"
        ],
        "children": [_trim_plan(c) for c in plan.get("children", [])],
    }


def trim(e: dict, plan_ids: set[int]) -> dict | None:
    kind = e["Event"].rsplit(".", 1)[-1]
    if kind == "SparkListenerJobStart":
        group = e.get("Properties", {}).get("spark.jobGroup.id")
        return {k: e[k] for k in ("Event", "Job ID", "Submission Time", "Stage IDs")} | {
            "Properties": {"spark.jobGroup.id": group}
        }
    if kind == "SparkListenerJobEnd":
        return {k: e[k] for k in ("Event", "Job ID", "Completion Time")}
    if kind == "SparkListenerStageCompleted":
        info = e["Stage Info"]
        accs = [
            {k: a[k] for k in ("ID", "Name", "Value")}
            for a in info.get("Accumulables", [])
            if a["Name"] in KEEP_ACCUMS or a["ID"] in plan_ids
        ]
        return {"Event": e["Event"], "Stage Info": {
            "Stage ID": info["Stage ID"], "Number of Tasks": info["Number of Tasks"],
            "Accumulables": accs}}
    if kind == "SparkListenerTaskEnd":
        return {k: e[k] for k in ("Event", "Stage ID")} | {
            "Task End Reason": {"Reason": e["Task End Reason"]["Reason"]}}
    if kind in ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"):
        out = {"Event": e["Event"], "executionId": e["executionId"],
               "sparkPlanInfo": _trim_plan(e["sparkPlanInfo"])}
        if "time" in e:
            out["time"] = e["time"]
        return out
    if kind == "SparkListenerDriverAccumUpdates":
        return e
    return None


def main() -> None:
    work = f"{BENCH}/.work/record-{os.getpid()}"
    run.pin_settings(work)
    import harness

    try:
        data = f"{work}/data"
        import datagen

        datagen.write_tables(data, {
            "events": datagen.events_table(7, 2_000, 50),
            "documents": datagen.documents_table(7, 40, 20),
        })
        tracer = tracing.Tracer()
        spark = harness.start_session(work, tracer)
        from datafusion_uba_spark.queries import REGISTRY

        for i, row in enumerate(("funnel_steps", "image_resize_stats")):
            spark.sparkContext.setJobGroup(f"req-{i}", row)
            tracer.traced_request(row, lambda: REGISTRY[row][0](spark, data), harness.digest)
        start = time.time()
        spark.read.parquet(f"{data}/events.parquet").coalesce(1).write.parquet(f"{work}/out")
        tracer.record_request("event_ingest", start, time.time())
        spark.stop()
        events = tracing.read_events(f"{work}/eventlog")
        plan_ids: set[int] = set()
        for e in events:
            if "sparkPlanInfo" in e:
                stack = [_trim_plan(e["sparkPlanInfo"])]
                while stack:
                    p = stack.pop()
                    plan_ids |= {m["accumulatorId"] for m in p.get("metrics", [])}
                    stack += p.get("children", [])
        out_dir = f"{HERE}/data/eventlog"
        shutil.rmtree(out_dir, ignore_errors=True)
        os.makedirs(out_dir)
        with open(f"{out_dir}/events_1_recorded", "w") as f:
            for e in events:
                t = trim(e, plan_ids)
                if t is not None:
                    f.write(json.dumps(t) + "\n")
        with open(f"{HERE}/data/spans.json", "w") as f:
            json.dump([s.__dict__ for s in tracer.spans], f, indent=1)
    finally:
        run.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
