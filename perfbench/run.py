"""Benchmark of the spark-uba engine: one workload, one run, one JSON line.

Run from the repository root:

    python3 perfbench/run.py --workload uba_dashboard --seed 1 --seconds 24 --trace 0

``--trace 0`` measures the end-to-end metrics with no tracing at all.
``--trace 1`` runs three segments of a third of the time each, in fresh
sessions, and traces the middle one (layer spans plus Spark's event log).
It prints the per-layer metrics and ``trace.overhead_frac``: the traced
segment's ``pass_s`` over the last (untraced) segment's, minus one, over
the rows both ran.

Inputs are generated from ``--seed`` (see datagen.py); every request is
checked (see harness.py). All files go to a per-run directory under
``perfbench/.work/``, removed at exit. The settings the engine receives
are pinned here and printed on the line before the result:

- ``SPARK_GRAFT_CPUS``: at most 4 and at most the host's CPU count (the
  engine's default of 32 oversubscribes small hosts);
- ``SPARK_DRIVER_MEM``: 2g (the default of 16g exceeds small hosts);
- ``PYTHONPATH``: the repository root, so Python workers can import the
  engine for its pandas UDFs;
- fresh warehouse, local and temporary directories per run.

The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 170  # the whole run must end within 180 s


def pin_settings(work_dir: str) -> dict[str, str]:
    settings = {
        "SPARK_GRAFT_CPUS": str(min(4, os.cpu_count() or 1)),
        "SPARK_DRIVER_MEM": "2g",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_WAREHOUSE_DIR": f"{work_dir}/warehouse",
        "SPARK_LOCAL_DIRS": f"{work_dir}/local",
        "TMPDIR": f"{work_dir}/tmp",
    }
    for d in ("warehouse", "local", "tmp"):
        os.makedirs(f"{work_dir}/{d}", exist_ok=True)
    os.environ.update(settings)
    return settings


def stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def metric_json(values: dict[str, tuple[float, str]]) -> dict:
    return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "datafusion_uba_spark", "__init__.py")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import harness
    import tracing

    if args.workload not in harness.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work_dir = os.path.join(
        HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}-{time.time_ns()}"
    )
    settings = pin_settings(work_dir)

    def on_deadline(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, on_deadline)
    signal.alarm(DEADLINE_S)
    try:
        run = dict(workload=args.workload, seed=args.seed, seconds=args.seconds)
        if args.trace == 0:
            state = harness.run_workload(work_dir=f"{work_dir}/run", **run)
            metrics = harness.end_to_end(state)
        else:
            import datafusion_uba_spark.queries  # noqa: F401  (binds load_table)

            tracer = tracing.Tracer()
            tracer.patch_load_table()
            state = harness.run_workload(work_dir=f"{work_dir}/run", tracer=tracer, **run)
            tracer.unpatch()
            log = tracing.fold(tracing.read_events(f"{work_dir}/run/eventlog"))
            per = tracer.per_layer(log, state, harness.ROW_MODULES, harness.MODULES)
            per["proc.peak_rss_mb"] = state.peak_rss_mb
            traced = [r for r in state.requests if r.segment == harness.TRACED_SEGMENT]
            untraced = [r for r in state.requests if r.segment == harness.BASELINE_SEGMENT]
            both = {r.row for r in traced} & {r.row for r in untraced}
            per["trace.overhead_frac"] = (
                harness.pass_s(traced, both) / harness.pass_s(untraced, both) - 1
            )
            metrics = {k: (v, tracing.unit_of(k)) for k, v in per.items()}
        requests = state.requests
        failed = [r for r in requests if not r.ok]
        for r in failed[:5]:
            print(f"failed request {r.row}: {r.error or 'digest mismatch'}", file=sys.stderr)
        result = {
            "correct": not failed,
            "attempted": len(requests),
            "failed": len(failed),
            "metrics": metric_json(metrics),
        }
        print(json.dumps({"settings": settings}))
        print(json.dumps(result))
        return 0
    finally:
        signal.alarm(0)
        stop_jvm()
        harness.clean(work_dir)


if __name__ == "__main__":
    sys.exit(main())
