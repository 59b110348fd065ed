"""Closed-loop workloads over the engine's public API, checked on every request.

One client thread drives each workload; it sends the next request only
after the previous one has completed and been checked.

- ``uba_dashboard``: the paper's analyst queries (retention, funnels,
  sessions, engagement) over 100k events, refreshed while events stream
  in. Its ``event_ingest`` request appends a time-ordered slice of events
  as a new parquet file and waits until three long-running streaming twins
  (hourly counts, HLL daily actives, sessions) have absorbed it.
- ``corpus_curation``: the LLM-data rows (text statistics, quality
  scoring, near-dup clusters, n-gram novelty, IVF top-k, image resize)
  over a document and an embedding table.

Query requests end in one action that returns an order-insensitive digest
of every output column (row count plus two xxhash64 sums). Each row's
expected digest comes from its DuckDB oracle SQL over the same parquet,
computed once per run and hashed by the same Spark expression, so the
comparison is exact (the rule of ``tests/test_oracle_parity.py``).
Streaming memory tables are compared with their batch twins over the same
files when the timed phase ends.

A run builds a session, loads the tables and sends one untimed request of
every kind (the set-up), then runs timed requests for ``--seconds``. A
traced run does this three times, each segment a third of the time, and
traces only the middle one.
"""

from __future__ import annotations

import gc
import os
import random
import subprocess
import statistics
import sys
import time
from dataclasses import dataclass, field

import datagen

# With a tracer a run has three segments: 0 untraced (the JVM is still
# compiling after the cold set-up), 1 traced, 2 untraced. Overhead compares
# segments 1 and 2, which both run in a warm JVM.
TRACED_SEGMENT = 1
BASELINE_SEGMENT = 2

# Eight of the paper's analyst queries: two per operator family plus the
# engagement rollups. Fewer kinds give each row more samples per run;
# daily_active_users, cohort_retention_weekly, event_paths_topk and
# user_rfm exercise the same layers and were left out for that.
UBA_ROWS = (
    "retention_count",
    "retention_sum",
    "funnel_steps",
    "funnel_steps_any",
    "sessionize",
    "session_stats",
    "stickiness_wau",
    "growth_accounting",
)
CORPUS_ROWS = (
    "text_stats",
    "corpus_filter",
    "quality_classifier",
    "dedup_clusters",
    "ngram_novelty",
    "trigram_typicality",
    "boilerplate_stats",
    "ann_topk_ivf",
    "image_resize_stats",
)
STREAM_TWINS = ("hourly_event_counts", "daily_active_users", "sessionize")

# Input sizes. The corpus is short documents because the DuckDB oracles of
# the text and dedup rows evaluate their shingle lists per CTE reference:
# at 5,000 documents of 10-100 words dedup_clusters' oracle alone takes
# minutes, at 1,000 of 10-20 words two seconds.
N_EVENTS = 100_000
N_USERS = 1_500
N_DOCS = 1_000
DOC_MAX_WORDS = 20
N_EMB = 300  # <= 1023 keeps ann_topk_ivf at the 16 cells its oracle pins
INGEST_BASE = 20_000  # events already in the stream directory at set-up
INGEST_SLICE = 500  # events appended per event_ingest request
# Micro-batch trigger of the streaming twins. With Spark's default (start
# the next batch as soon as the last ends) three idle twins poll for new
# files every 10 ms and keep half a core busy under the dashboard queries.
TRIGGER = "100 milliseconds"

# Table each row reads (its input rows count toward input_rows_per_s).
ROW_TABLE = {r: "events" for r in UBA_ROWS} | {
    r: "documents" for r in CORPUS_ROWS
} | {"ann_topk_ivf": "embeddings"}

# Operator modules each row's builder reaches, for operators.<m>.task_s.
# "engagement" also covers the session rows (streaming.sessionize) and
# "quality" the quality-classifier scoring in operators/text.py;
# operators/quality.py (the data-quality audit) is on none of these rows.
# event_ingest is measured by the streaming.* metrics instead.
ROW_MODULES = {
    "retention_count": ("retention",),
    "retention_sum": ("retention",),
    "funnel_steps": ("funnel",),
    "funnel_steps_any": ("funnel",),
    "sessionize": ("engagement",),
    "session_stats": ("engagement",),
    "stickiness_wau": ("engagement",),
    "growth_accounting": ("engagement",),
    "text_stats": ("text",),
    "corpus_filter": ("text", "quality"),
    "quality_classifier": ("text", "quality"),
    "dedup_clusters": ("dedup",),
    "ngram_novelty": ("text",),
    "trigram_typicality": ("text",),
    "boilerplate_stats": ("text",),
    "ann_topk_ivf": ("similarity",),
    "image_resize_stats": ("multimodal", "imagecodec"),
}
MODULES = (
    "retention",
    "funnel",
    "engagement",
    "dedup",
    "text",
    "similarity",
    "multimodal",
    "imagecodec",
    "quality",
)

WORKLOADS = ("uba_dashboard", "corpus_curation")


@dataclass
class Request:
    row: str
    wall_s: float
    input_rows: int
    ok: bool
    error: str | None = None
    segment: int = 0


@dataclass
class RunState:
    """Everything one run measures; ``tracer`` hooks add per-layer data."""

    requests: list[Request] = field(default_factory=list)
    setup_s: list[float] = field(default_factory=list)
    phase_s: float = 0.0  # summed wall of the timed phases
    heap_live_mb: float = 0.0
    stream_progress: list[dict] = field(default_factory=list)
    storage_used_mb: float = 0.0
    peak_rss_mb: float = 0.0
    segment: int = 0


# --- inputs --------------------------------------------------------------


def make_inputs(workload: str, seed: int, data_dir: str) -> dict[str, int]:
    """Write the workload's tables under ``data_dir``; returns row counts."""
    if workload == "corpus_curation":
        tables = {
            "documents": datagen.documents_table(seed, N_DOCS, DOC_MAX_WORDS),
            "embeddings": datagen.embeddings_table(seed, N_EMB),
        }
    else:
        tables = {"events": datagen.events_table(seed, N_EVENTS, N_USERS)}
    datagen.write_tables(data_dir, tables)
    return {name: t.num_rows for name, t in tables.items()}


# --- digests -------------------------------------------------------------


def digest(df) -> tuple[int, int, int]:
    """Order-insensitive digest of every column: (rows, hi sum, lo sum).

    The two 32-bit halves of a per-row xxhash64 are summed separately so
    the sums cannot overflow a bigint for any realistic row count.
    """
    from pyspark.sql import functions as F

    h = F.xxhash64(*[df[c] for c in df.columns])
    row = df.agg(
        F.count(F.lit(1)),
        F.coalesce(F.sum(F.shiftright(h, 32)), F.lit(0)),
        F.coalesce(F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))), F.lit(0)),
    ).collect()[0]
    return (int(row[0]), int(row[1]), int(row[2]))


def oracle_digests(spark, data_dir: str, schemas: dict) -> dict[str, tuple]:
    """Digest of each row's DuckDB oracle result, cast to the Spark schema."""
    import duckdb
    from pyspark.sql import functions as F

    from datafusion_uba_spark.queries import REGISTRY

    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        name = f.removesuffix(".parquet")
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{data_dir}/{f}'")
    out = {}
    for row, schema in schemas.items():
        table = con.sql(REGISTRY[row][1]).arrow()
        odf = spark.createDataFrame(table)
        odf = odf.select(
            [F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
        )
        out[row] = digest(odf)
    con.close()
    return out


# --- the engine's session ------------------------------------------------


def start_session(work_dir: str, tracer=None):
    from datafusion_uba_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work_dir}/tmp",
    }
    if tracer is not None:
        os.makedirs(f"{work_dir}/eventlog", exist_ok=True)
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": f"file://{work_dir}/eventlog",
        }
    t = time.time()
    spark = get_spark(app_name="perfbench", shuffle_partitions=4, extra_conf=conf)
    if tracer is not None:
        tracer.session_start(time.time() - t)
    return spark


def quiesce_heap_mb(spark) -> float:
    """JVM heap in use once garbage and released Spark state are gone.

    Python GC drops py4j references, a JVM GC enqueues the dead RDDs,
    shuffles and broadcasts, the ContextCleaner frees them, and a second
    GC collects what it freed. The lowest of three reads is reported.
    """
    jvm = spark._jvm
    reads = []
    for _ in range(3):
        gc.collect()
        jvm.java.lang.System.gc()
        time.sleep(0.3)
        jvm.java.lang.System.gc()
        mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        reads.append(mem.getHeapMemoryUsage().getUsed() / 2**20)
    return min(reads)


def peak_rss_mb(spark) -> float:
    """Peak resident set of the JVM plus this driver process."""
    total = 0.0
    for pid in (spark._jvm.java.lang.ProcessHandle.current().pid(), os.getpid()):
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1]) / 1024
    return total


def storage_used_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


# --- workloads -----------------------------------------------------------


class Ingest:
    """The event_ingest request kind: append a slice, wait for the twins.

    A segment's stream directory starts with the first ``INGEST_BASE``
    events; the three twins run from then on, in append mode, into memory
    tables. Each request writes the next ``INGEST_SLICE`` events as one
    parquet file through Spark's writer and returns once every twin has
    processed all available input.
    """

    def __init__(self, data_dir: str, work_dir: str):
        import pyarrow.parquet as pq

        self.events = pq.read_table(f"{data_dir}/events.parquet")
        self.work_dir = work_dir
        self.segment = 0
        self.queries: dict = {}
        self.next_row = INGEST_BASE
        self.requests: list[Request] = []
        self.seen_batches: set[tuple[str, int]] = set()

    @property
    def table(self) -> str:
        """The stream directory, named so ``load_table`` reads it."""
        return f"stream-{self.segment}"

    def start(self, spark) -> None:
        import pyarrow.parquet as pq

        from datafusion_uba_spark import streaming
        from datafusion_uba_spark.sources import load_table

        self.segment += 1
        sdir = f"{self.work_dir}/{self.table}.parquet"
        os.makedirs(sdir)
        pq.write_table(self.events.slice(0, INGEST_BASE), f"{sdir}/base.parquet")
        load_table(spark, self.work_dir, self.table).count()
        self.next_row = INGEST_BASE
        src = streaming.stream_events(spark, sdir)
        self.queries = {}
        for name in STREAM_TWINS:
            self.queries[name] = (
                getattr(streaming, name)(src)
                .writeStream.format("memory")
                .queryName(f"{name}_{self.segment}")
                .outputMode("append")
                .trigger(processingTime=TRIGGER)
                .option("checkpointLocation", f"{self.work_dir}/ckpt-{self.segment}/{name}")
                .start()
            )
        for q in self.queries.values():
            q.processAllAvailable()
        self.new_progress()  # set-up batches are not timed requests
        self.requests = []

    def request(self, spark, tracer=None) -> None:
        batch = self.events.slice(self.next_row, INGEST_SLICE)
        self.next_row += INGEST_SLICE
        t = time.time()
        spark.createDataFrame(batch).coalesce(1).write.mode("append").parquet(
            f"{self.work_dir}/{self.table}.parquet"
        )
        if tracer is not None:
            tracer.add_span("sources.write", time.time() - t)
        for q in self.queries.values():
            q.processAllAvailable()

    def new_progress(self) -> list[dict]:
        """Progress of the micro-batches that ran since the last call."""
        out = []
        for q in self.queries.values():
            for p in q.recentProgress:
                if (p["id"], p["batchId"]) not in self.seen_batches:
                    self.seen_batches.add((p["id"], p["batchId"]))
                    out.append(p)
        return out

    def check(self, spark) -> None:
        """Each memory table must equal its batch twin over the same files,
        restricted to what the query's watermark has closed (append mode
        emits a window or session only then). On a mismatch every ingest
        request of the segment fails."""
        from pyspark.sql import functions as F

        from datafusion_uba_spark import streaming
        from datafusion_uba_spark.sources import load_table

        batch = load_table(spark, self.work_dir, self.table)
        closed_by = {
            "hourly_event_counts": F.col("window_start_us") + 3_600_000_000,
            "daily_active_users": F.col("day_start_us") + 86_400_000_000,
            "sessionize": F.col("session_start_us") + F.col("duration_us") + 1_800_000_000,
        }
        ok = True
        for name, q in self.queries.items():
            q.processAllAvailable()
            wm = F.unix_micros(F.lit(q.lastProgress["eventTime"]["watermark"]).cast("timestamp"))
            twin = getattr(streaming, name)(batch, watermark=None)
            want = digest(twin.where(closed_by[name] <= wm))
            got = digest(spark.table(f"{name}_{self.segment}"))
            ok = ok and got == want and got[0] > 0
            q.stop()
        if not ok:
            for r in self.requests:
                r.ok = False
                r.error = r.error or "memory table differs from its batch twin"


class Workload:
    """A closed loop over a fixed set of request kinds (rows)."""

    def __init__(self, name: str, data_dir: str, work_dir: str, sizes, seed: int):
        self.data_dir = data_dir
        if name == "uba_dashboard":
            self.queries = UBA_ROWS
            self.ingest = Ingest(data_dir, work_dir)
        else:
            self.queries = CORPUS_ROWS
            self.ingest = None
        self.rows = self.queries + (("event_ingest",) if self.ingest else ())
        self.input_rows = {r: sizes[ROW_TABLE[r]] for r in self.queries}
        self.input_rows["event_ingest"] = INGEST_SLICE
        self.rng = random.Random(seed)
        self.expected: dict[str, tuple] = {}
        self.schemas: dict = {}
        self.pending: list[str] = []

    def setup(self, spark, tracer=None) -> None:
        """Load the tables, then one untimed request of every kind."""
        from datafusion_uba_spark.queries import REGISTRY
        from datafusion_uba_spark.sources import load_table

        for table in sorted({ROW_TABLE[r] for r in self.queries}):
            load_table(spark, self.data_dir, table).count()
        if self.ingest is not None:
            self.ingest.start(spark)
            self.ingest.request(spark)
            self.ingest.new_progress()
        for row in self.queries:
            df = REGISTRY[row][0](spark, self.data_dir)
            self.schemas[row] = df.schema
            digest(df)

    def check_oracles(self, spark) -> None:
        self.expected = oracle_digests(spark, self.data_dir, self.schemas)

    def finish_segment(self, spark) -> None:
        """Batch requests were checked as they completed; ingest is checked here."""
        if self.ingest is not None:
            self.ingest.check(spark)

    def _next_row(self) -> str:
        """Rows in seeded-shuffle passes; a pass continues across segments,
        so no row runs more than once more often than another."""
        if not self.pending:
            self.pending = list(self.rows)
            self.rng.shuffle(self.pending)
        return self.pending.pop()

    def _request(self, spark, row: str, tracer):
        from datafusion_uba_spark.queries import REGISTRY

        if row == "event_ingest":
            self.ingest.request(spark, tracer)
            return None
        build = lambda: REGISTRY[row][0](spark, self.data_dir)  # noqa: E731
        if tracer is None:
            return digest(build())
        return tracer.traced_request(row, build, digest)

    def run(self, spark, state: RunState, seconds: float, tracer=None) -> None:
        """Closed loop until ``seconds`` have passed."""
        sc = spark.sparkContext
        t_phase = time.perf_counter()
        while time.perf_counter() - t_phase < seconds:
            row = self._next_row()
            sc.setJobGroup(f"req-{len(state.requests)}", row)
            start = time.time()
            t = time.perf_counter()
            err = None
            try:
                got = self._request(spark, row, tracer)
            except Exception as e:  # a failed request is counted, not fatal
                got, err = None, f"{type(e).__name__}: {e}"[:300]
            wall = time.perf_counter() - t
            if row == "event_ingest":
                ok = err is None
            else:
                ok = got is not None and got == self.expected.get(row)
            req = Request(row, wall, self.input_rows[row], ok, err, state.segment)
            state.requests.append(req)
            if row == "event_ingest":
                self.ingest.requests.append(req)
            if tracer is not None:
                if row == "event_ingest":
                    tracer.record_request(row, start, start + wall)
                    state.stream_progress.extend(self.ingest.new_progress())
                state.storage_used_mb = max(state.storage_used_mb, storage_used_mb(spark))
        state.phase_s += time.perf_counter() - t_phase


# --- summary -------------------------------------------------------------


def row_walls(requests: list[Request]) -> dict[str, list[float]]:
    by_row: dict[str, list[float]] = {}
    for r in requests:
        by_row.setdefault(r.row, []).append(r.wall_s)
    return by_row


def pass_s(requests: list[Request], rows=None) -> float:
    """Sum over the rows (all, or those in ``rows``) of each row's median latency."""
    return sum(
        statistics.median(v)
        for row, v in row_walls(requests).items()
        if rows is None or row in rows
    )


def kind_p75_s(requests: list[Request]) -> float:
    """Mean over the request kinds of each kind's 75th-percentile latency.

    A pooled quantile of a mix whose kinds differ several-fold in latency
    jumps from one kind to the next when a run completes one request more
    of either; taken per kind it does not depend on the run's mix.
    """
    return statistics.mean(
        statistics.quantiles(v, n=4, method="inclusive")[2] if len(v) > 1 else v[0]
        for v in row_walls(requests).values()
    )


def end_to_end(state: RunState) -> dict[str, tuple[float, str]]:
    reqs = state.requests
    walls = [r.wall_s for r in reqs]
    ok_rows = sum(r.input_rows for r in reqs if r.ok)
    return {
        "setup_s": (state.setup_s[0], "s"),
        "latency_p50_s": (statistics.median(walls), "s"),
        "latency_p75_s": (kind_p75_s(reqs), "s"),
        "pass_s": (pass_s(reqs), "s"),
        "input_rows_per_s": (ok_rows / state.phase_s, "rows/s"),
        "ok_frac": (sum(r.ok for r in reqs) / len(reqs), "frac"),
        "heap_live_mb": (state.heap_live_mb, "MB"),
    }


def run_workload(
    workload: str,
    seed: int,
    seconds: float,
    work_dir: str,
    tracer=None,
    corrupt_oracle: str | None = None,
) -> RunState:
    """Generate inputs, set up, run timed requests for ``seconds``.

    With a ``tracer`` the run has three segments, each a fresh session with
    its own set-up and a third of ``seconds``; only ``TRACED_SEGMENT`` runs
    with the event log and the layer spans on, so one run yields both
    sides of ``trace.overhead_frac``.
    """
    segments = 1 if tracer is None else 3
    data_dir = f"{work_dir}/data"
    sizes = make_inputs(workload, seed, data_dir)
    wl = Workload(workload, data_dir, work_dir, sizes, seed)
    state = RunState()
    spark = None
    for seg in range(segments):
        seg_tracer = tracer if seg == TRACED_SEGMENT else None
        state.segment = seg
        if spark is not None:
            spark.stop()
        t_setup = time.time()
        spark = start_session(work_dir, seg_tracer)
        wl.setup(spark, seg_tracer)
        state.setup_s.append(time.time() - t_setup)
        log(f"segment {seg}: set-up {state.setup_s[-1]:.2f} s")
        if seg == 0:
            t = time.time()
            wl.check_oracles(spark)
            log(f"oracle digests {time.time() - t:.2f} s")
            if corrupt_oracle is not None:
                n, hi, lo = wl.expected[corrupt_oracle]
                wl.expected[corrupt_oracle] = (n, hi, lo + 1)
        if seg_tracer is not None:
            seg_tracer.begin_phase()
        wl.run(spark, state, seconds / segments, seg_tracer)
        if seg_tracer is not None:
            seg_tracer.end_phase()
        wl.finish_segment(spark)
        log(f"segment {seg}: {len(state.requests)} requests so far")
    log("per-row median s (requests): " + ", ".join(
        f"{k}={statistics.median(v):.3f} ({len(v)})"
        for k, v in sorted(row_walls(state.requests).items())))
    state.heap_live_mb = quiesce_heap_mb(spark)
    state.peak_rss_mb = peak_rss_mb(spark)
    spark.stop()
    return state


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def clean(work_dir: str) -> None:
    # rm is several times faster than shutil.rmtree on overlay filesystems
    subprocess.run(["rm", "-rf", work_dir], check=False)
