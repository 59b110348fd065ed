"""Structured Streaming surface: the engine's operators on unbounded data.

The reference is batch-only (SURVEY.md §1.1: "No streams ... exist in
the reference"), but a UBA engine at 100 TB ingests events continuously,
so the driver north star treats streaming as first-class. The design
rule mirrors the batch side: every streaming operator is the SAME
Catalyst expression tree as its batch twin, just bound to a streaming
source — Spark's incrementalizer (stateful aggregation, watermarked
state eviction) supplies the streaming semantics. The ONE designed
exception is streaming_funnel_flags: the any-anchor funnel's chain
recurrence is not expressible as a windowed aggregate, so it is the
module's applyInPandasWithState custom stateful operator — still
pinned to its batch twin by parity tests, like everything else here
(tests/test_streaming.py runs both plans over the same files).

Scale notes (1000-executor deployment):

- State stores are partitioned by the grouping key; the per-key state of
  every operator here is O(1) (counts / min / max / flag codes), never a
  collected list, so state size is bounded by |keys|, not |events|.
- Watermarks bound state lifetime: a key's state is dropped once the
  watermark passes its window — without this, day-level retention state
  would grow forever.
- ``maxFilesPerTrigger`` / ``availableNow`` give backfill-sized batches;
  the same code serves replay (availableNow over history) and tailing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

__all__ = [
    "stream_events",
    "hourly_event_counts",
    "sliding_event_counts",
    "daily_active_users",
    "sessionize",
    "streaming_user_day_flags",
    "streaming_funnel_flags",
    "attribution_join",
    "streaming_counter_increase",
    "streaming_exact_dedup",
    "streaming_exact_dedup_against_prescreened",
    "streaming_minhash_dedup_against",
    "streaming_rollup_refresh",
    "streaming_cdc_snapshot",
    "heavy_hitter_cells",
    "run_to_memory",
    "stream_avro_py",
]


def stream_events(
    spark: SparkSession,
    path: str,
    ts_col: str = "ts",
    max_files_per_trigger: int | None = None,
    path_glob_filter: str | None = None,
) -> DataFrame:
    """File-stream over a parquet events directory.

    Schema is taken from the existing files (streaming sources require
    an explicit schema; inferring from the footer of what's already
    there is the standard bootstrap). The timestamp column is
    normalized exactly like the batch loader (sources.load_table) so
    the streaming and batch plans see identical types, whatever the
    producer's physical layout: INT64 nanos are rebuilt via integer
    arithmetic, and un-zoned timestamp[us] (which Spark 4 would infer
    as TIMESTAMP_NTZ — rejected by unix_micros and by append-mode
    watermarks downstream) reads as TIMESTAMP under the UTC session TZ
    via inferTimestampNTZ=false, with a residual NTZ→LTZ cast as the
    fallback.

    ``path`` must be a DIRECTORY (the streaming file source rejects a
    bare file: new files are discovered by listing). To stream one
    table out of a directory holding several (the testdata layout),
    pass ``path_glob_filter`` (e.g. ``"events.parquet"``).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    batch = spark.read
    if path_glob_filter is not None:
        batch = batch.option("pathGlobFilter", path_glob_filter)
    schema = batch.parquet(path).schema
    reader = spark.readStream.schema(schema)
    if path_glob_filter is not None:
        reader = reader.option("pathGlobFilter", path_glob_filter)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    df = reader.parquet(path)
    if isinstance(schema[ts_col].dataType, T.LongType):
        df = df.withColumn(ts_col, F.expr(f"timestamp_micros({ts_col} DIV 1000)"))
    elif isinstance(schema[ts_col].dataType, T.TimestampNTZType):
        # schema captured before the conf took effect: normalize like
        # the batch loader (UTC session TZ ⇒ same instants)
        df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


# --- operators (each works on BOTH batch and streaming DataFrames) --------


def hourly_event_counts(
    events: DataFrame,
    watermark: str | None = "2 hours",
    window: str = "1 hour",
) -> DataFrame:
    """Tumbling-window event counts per type.

    Streaming: watermarked windowed aggregation — append mode emits each
    window once it can no longer receive late data; state per
    (window, type) is one counter. Batch: the identical plan is a plain
    hash aggregate. Output is flat (epoch-micros window start) so it
    hashes stably in any harness.
    """
    if watermark is not None and events.isStreaming:
        events = events.withWatermark("ts", watermark)
    return (
        events.groupBy(
            F.window("ts", window).alias("w"), F.col("event_type")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n_events",
        )
    )


def sliding_event_counts(
    events: DataFrame,
    watermark: str | None = "2 hours",
    window: str = "1 hour",
    slide: str = "15 minutes",
) -> DataFrame:
    """Sliding-window event counts per type — the overlapping-window
    rate monitor (trailing-hour volume refreshed every slide).

    Spark's window(ts, window, slide) assigns each event to
    window/slide epoch-aligned overlapping windows; the aggregate
    state is window/slide counters per type, and a watermark closes
    windows in append mode exactly as the tumbling form. Batch: the
    identical expression is an internal explode + hash aggregate —
    each event fans out to its covering windows BEFORE the shuffle, so
    partial aggregation still collapses per (window, type) map-side
    and the shuffle carries counters, not events. Output is flat
    epoch-micros window starts (hash-stable); the DuckDB oracle
    replays the fan-out with generate_series.
    """
    if watermark is not None and events.isStreaming:
        events = events.withWatermark("ts", watermark)
    return (
        events.groupBy(
            F.window("ts", window, slide).alias("w"), F.col("event_type")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n_events",
        )
    )


def daily_active_users(
    events: DataFrame,
    watermark: str | None = "1 day",
    lgk: int = 12,
) -> DataFrame:
    """Approximate distinct users per day (DataSketches HLL) — the
    streaming form of the batch `daily_active_users_hll` registry row.

    Why a sketch is THE streaming distinct-count: exact streaming
    COUNT(DISTINCT) needs one state entry per (day, user) — unbounded
    in users; the HLL buffer is a fixed 2^lgk registers per day, and
    the watermark evicts closed days, so total state is
    O(open_days * 4 KiB) regardless of traffic. HLL registers are
    max-merged, so the estimate is insensitive to both event order
    and micro-batch boundaries — the streamed result EQUALS the batch
    twin exactly (pinned by the parity test), not just approximately.

    Batch: the identical plan is a plain hash aggregate.
    """
    if watermark is not None and events.isStreaming:
        events = events.withWatermark("ts", watermark)
    return (
        events.groupBy(F.window("ts", "1 day").alias("w"))
        .agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg(F.col("user_id"), F.lit(lgk))
            )
            .cast("long")
            .alias("dau_approx")
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("day_start_us"),
            "dau_approx",
        )
    )


def sessionize(
    events: DataFrame,
    gap: str = "30 minutes",
    user_col: str = "user_id",
    watermark: str | None = "1 day",
) -> DataFrame:
    """Per-user sessions with an inactivity gap (session_window).

    A new session starts only when the gap since the previous event
    EXCEEDS the gap duration: an event exactly ``gap`` after the
    previous one still merges into its session (boundary measured on
    Spark 4.1 at microsecond precision and pinned by
    tests/test_streaming.py::test_session_gap_boundary).
    Streaming: state per open session, merged incrementally, closed and
    emitted (append mode) when the watermark passes session end.
    Batch: same expression, ordinary aggregation.

    Output is flat micros/int64 — the exact shape the DuckDB
    gaps-and-islands oracle reproduces (queries.py q_sessionize).
    """
    if watermark is not None and events.isStreaming:
        events = events.withWatermark("ts", watermark)
    return (
        events.groupBy(
            F.col(user_col), F.session_window("ts", gap).alias("sw")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .select(
            F.col(user_col),
            F.unix_micros("first_ts").alias("session_start_us"),
            (F.unix_micros("last_ts") - F.unix_micros("first_ts")).alias(
                "duration_us"
            ),
            "n_events",
        )
    )


def streaming_user_day_flags(
    events: DataFrame,
    born_pred: Column,
    target_pred: Column,
    watermark: str | None = "2 days",
) -> DataFrame:
    """Incremental stage-1 of the retention funnel: per (user, day)
    born/target codes, maintained as a streaming aggregation.

    This is the retention_count scatter strategy's pre-aggregate
    (operators/retention.py) bound to a stream: per-key state is two
    tiny MAX codes, so a year of events for a billion users is
    |users|·|days| bounded state with watermark eviction — the heavy,
    shuffled part of retention runs incrementally, and the final
    triangular matrix (retention_sum) is a cheap batch query over this
    table's sink, refreshed on whatever cadence the dashboard needs.

    The 0/1/2 target code keeps the reference's same-event encoding
    (SURVEY.md §2.1): 2 = target fired on a row that is also a born
    event; merge by MAX matches the batch operator's determinism rule.
    """
    if watermark is not None and events.isStreaming:
        events = events.withWatermark("ts", watermark)
    born_i = F.when(born_pred, F.lit(1)).otherwise(F.lit(0))
    target_i = (
        F.when(born_pred & target_pred, F.lit(2))
        .when(target_pred, F.lit(1))
        .otherwise(F.lit(0))
    )
    return (
        events.groupBy(
            F.col("user_id"), F.window("ts", "1 day").alias("w")
        )
        .agg(
            F.max(born_i).cast("tinyint").alias("born"),
            F.max(target_i).cast("tinyint").alias("target"),
        )
        .select(
            "user_id",
            F.to_date(F.col("w.start")).alias("day"),
            "born",
            "target",
        )
    )


def streaming_funnel_flags(
    events: DataFrame,
    steps: list,
    conversion_window_days: int = 7,
    user_col: str = "user_id",
    ts_col: str = "ts",
    watermark: str | None = None,
) -> DataFrame:
    """Streaming ANY-ANCHOR ordered funnel — the one operator in this
    module whose semantics Spark's built-in incrementalizer CANNOT
    express (no window/session aggregate computes a cross-event chain
    recurrence), so it is the designated ``applyInPandasWithState``
    custom stateful operator.

    Semantics match operators.funnel.funnel_steps_any_anchor exactly:
    a user converts step k when some chain e1 <= ... <= ek of step
    events ends within ``conversion_window_days`` of its own anchor e1.
    The batch operator's maximal-anchor recurrence (m_i = running max
    of the best chain-anchor per step) is exactly what gets persisted
    here: per-user state is the (k-1)-vector of m values plus k
    conversion flags — O(k) longs per user, NOT an event list, so state
    size is |users|-bounded like every other operator in this module.
    Each micro-batch's events are sorted per user and folded through a
    numpy cummax ladder (vectorized, no per-row Python), seeded with
    the carried m-vector.

    Ordering contract — ENFORCED, not assumed: the recurrence is
    order-sensitive, so cross-batch correctness requires each user's
    events to arrive STRICTLY newer than every earlier batch's for
    that user (within a batch any order is fine). The state carries a
    per-user event-time high-water mark; an arriving event at-or-below
    it is DROPPED and counted in the ``late_dropped`` output column —
    folding it would silently compute the recurrence in the wrong
    order (a late step-1 event can even manufacture a false conversion
    by chaining a future anchor onto a past target). Consequence of
    the strict bound: same-instant events split ACROSS micro-batches
    are dropped too — the batch operator's RANGE windows let ties see
    each other, which is only reproducible when a tie group lands in
    one micro-batch; dropping-and-counting beats a silent parity
    break. Pinned by
    tests/test_streaming.py::test_streaming_funnel_flags_multi_batch
    (contract-respecting split) and
    test_streaming_funnel_flags_drops_late_events (violating split).

    Output (update semantics): one row per user per micro-batch that
    touched it — (user, conv array<int> of length k, late_dropped
    int). Downstream takes max per user of conv (flags are monotone)
    and sums for the funnel chart; summing late_dropped gives the
    contract-violation count, the metric an operator would alert on.

    State eviction: pass ``watermark`` (e.g. "1 day") to bound state
    lifetime with an event-time timeout. An anchor older than
    (watermark - window) is DEAD — every future event arrives at
    t >= watermark, and a conversion needs anchor >= t - window — so a
    user idle past their last anchor + window can be evicted without
    changing any future result (their flags were already emitted and
    flags are monotone downstream). Without a watermark, state is
    |users|-bounded but permanent — fine for replay/backfill, not for
    an unbounded tail. Eviction-active parity is pinned by
    tests/test_streaming.py::test_streaming_funnel_flags_evicts_state.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    n = len(steps)
    if n < 1:
        raise ValueError("streaming_funnel_flags: need at least one step")
    window_us = conversion_window_days * 86_400 * 1_000_000
    evict = watermark is not None and events.isStreaming
    if evict:
        events = events.withWatermark(ts_col, watermark)
    base = events.select(
        F.col(user_col).alias("u"),
        F.col(ts_col),  # event-time column must survive for the timeout
        F.unix_micros(F.col(ts_col)).alias("tus"),
        *[pred.cast("boolean").alias(f"p{i}") for i, (_, pred) in enumerate(steps)],
    )

    out_schema = T.StructType(
        [
            T.StructField("u", T.LongType()),
            T.StructField("conv", T.ArrayType(T.IntegerType())),
            T.StructField("late_dropped", T.IntegerType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("m", T.ArrayType(T.LongType())),
            T.StructField("conv", T.ArrayType(T.IntegerType())),
            T.StructField("hwm", T.LongType()),
        ]
    )
    NEG = -(1 << 62)  # "no anchor yet" sentinel (valid anchors are >= 0)

    def fold(key, pdf_iter, state: GroupState):
        if state.hasTimedOut:
            # watermark passed last-anchor + window: no future event can
            # chain off this state (flags already emitted; monotone)
            state.remove()
            return
        if state.exists:
            m_prev, conv = list(state.get[0]), list(state.get[1])
            hwm = int(state.get[2])
        else:
            m_prev, conv, hwm = [NEG] * n, [0] * n, NEG
        pdf = pd.concat(list(pdf_iter)).sort_values("tus", kind="stable")
        # enforce the strictly-newer cross-batch contract: an event at
        # or below the user's high-water mark folds nowhere (see
        # docstring) — it is counted, never silently reordered
        n_in = len(pdf)
        pdf = pdf[pdf["tus"] > hwm]
        late = n_in - len(pdf)
        tus = pdf["tus"].to_numpy(dtype="int64")
        if tus.size:
            hwm = int(tus.max())
        # batch parity uses RANGE windows (same-instant events see each
        # other regardless of sort order); a plain cummax is ROWS — so
        # each row reads the accumulated value at the LAST index of its
        # tus tie group
        idx_last = np.searchsorted(tus, tus, side="right") - 1
        lower = tus - window_us
        run = None  # range-ified m_{i-1} per row
        for i in range(n):
            p = pdf[f"p{i}"].fillna(False).to_numpy(dtype=bool)
            # b_i per row: best candidate anchor of a chain ending here
            b = np.where(p, tus if i == 0 else run, NEG)
            if b.size and int((b >= lower).max()):
                conv[i] = 1
            # running max INCLUDING the current row, seeded with the
            # carried state (prepend, accumulate, drop the seed slot)
            acc = np.maximum.accumulate(
                np.concatenate(([m_prev[i]], b))
            )[1:]
            run = acc[idx_last] if acc.size else acc
            m_prev[i] = int(acc[-1]) if acc.size else m_prev[i]
        state.update((m_prev, conv, hwm))
        if evict and tus.size:
            # evict once the watermark passes the newest possible
            # anchor's window (ms epoch, per the GroupState API)
            state.setTimeoutTimestamp((int(tus.max()) + window_us) // 1000 + 1)
        yield pd.DataFrame(
            {"u": [key[0]], "conv": [list(conv)], "late_dropped": [late]}
        )

    return base.groupBy("u").applyInPandasWithState(
        fold,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if evict
            else GroupStateTimeout.NoTimeout
        ),
    )


def attribution_join(
    views: DataFrame,
    purchases: DataFrame,
    window_s: int = 3600,
    watermark: str = "2 hours",
) -> DataFrame:
    """View -> purchase attribution via a stream-stream INTERVAL join:
    every (view, purchase) pair of the same user where the purchase
    lands within ``window_s`` seconds at-or-after the view. This is
    Spark's canonical bounded-state stream-stream join shape
    (structured-streaming guide, "inner joins with ... time range
    condition"): BOTH sides are watermarked and the range condition
    bounds how long a buffered row can still find a partner, so each
    side's join state evicts at watermark - window instead of growing
    forever.

    Batch: the IDENTICAL expression tree is a plain equi-join on
    user_id with the range residual (withWatermark is a no-op on batch
    inputs) — the module's batch-twin design rule, pinned by parity
    tests.

    Emits ALL qualifying pairs (multi-touch attribution); callers
    wanting last-touch reduce downstream by min(delay). Output:
    (user_id, view_id, purchase_id, delay_s) — delay in whole seconds,
    exact integer micros difference DIV 1e6.

    Scale shape: one shuffle of each side on user_id; per-user state
    bounded by rate x window. A hot user (bot traffic) concentrates
    one task — pre-filter or salt upstream if a key exceeds executor
    memory."""
    if window_s <= 0:
        raise ValueError("attribution_join: window_s must be positive")
    v = views.select(
        F.col("user_id").alias("__vu"),
        F.col("ts").alias("__vts"),
        F.col("event_id").alias("view_id"),
    )
    p = purchases.select(
        F.col("user_id").alias("__pu"),
        F.col("ts").alias("__pts"),
        F.col("event_id").alias("purchase_id"),
    )
    if v.isStreaming:
        v = v.withWatermark("__vts", watermark)
    if p.isStreaming:
        p = p.withWatermark("__pts", watermark)
    joined = v.join(
        p,
        (F.col("__vu") == F.col("__pu"))
        & (F.col("__pts") >= F.col("__vts"))
        & (
            F.col("__pts")
            <= F.col("__vts") + F.expr(f"INTERVAL {window_s} SECONDS")
        ),
        "inner",
    )
    return joined.select(
        F.col("__vu").alias("user_id"),
        "view_id",
        "purchase_id",
        F.expr("(unix_micros(__pts) - unix_micros(__vts)) DIV 1000000")
        .cast("long")
        .alias("delay_s"),
    )


def streaming_counter_increase(
    events: DataFrame,
    bucket_s: int = 86400,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    watermark: str | None = None,
) -> DataFrame:
    """Streaming twin of rollup.counter_increase (reset-aware counter
    deltas) — the module's second ``applyInPandasWithState`` operator:
    the consecutive-sample diff depends on the PREVIOUS sample, which
    no windowed aggregate can carry across micro-batches, so per-key
    state persists exactly (last_t, last_v) — two longs per key, never
    an event list.

    Each micro-batch sorts its rows per key by (t, v) (the batch
    twin's tie order), seeds the diff chain with the carried last
    sample, and emits PARTIAL (key, bucket, n_samples, resets,
    increase) rows in update mode; downstream sums partials per
    (key, bucket) — partial sums equal the batch answer because the
    diff chain is associative once the seed is carried.

    Ordering contract (same discipline as streaming_funnel_flags): a
    row at-or-below the key's event-time high-water mark would fold
    the diff chain in the wrong order, so it is DROPPED and counted in
    ``late_dropped`` — observable, never silently reordered. Ties
    split across batches are likewise dropped (within one batch they
    sort (t, v) like the batch twin).

    State eviction: with ``watermark`` set, a key idle past the
    watermark can be evicted — its diff chain re-seeds from scratch
    (first row after eviction contributes 0, exactly the batch twin's
    first-sample rule for a fresh key).

    The key is emitted as STRING (static output schema over a generic
    key column); join back on the cast if the caller keys by number.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if bucket_s <= 0:
        raise ValueError("streaming_counter_increase: bucket_s must be > 0")
    evict = watermark is not None and events.isStreaming
    if evict:
        events = events.withWatermark(ts_col, watermark)
    base = events.select(
        F.col(key_col).cast("string").alias("k"),
        F.col(ts_col),
        F.unix_micros(F.col(ts_col)).alias("tus"),
        F.col(value_col).cast("long").alias("v"),
    )
    out_schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("bucket_s", T.LongType()),
            T.StructField("n_samples", T.LongType()),
            T.StructField("resets", T.LongType()),
            T.StructField("increase", T.LongType()),
            T.StructField("late_dropped", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("last_t", T.LongType()),
            T.StructField("last_v", T.LongType()),
        ]
    )

    def fold(key, pdf_iter, state: GroupState):
        import numpy as np

        if state.hasTimedOut:
            state.remove()
            return
        has_prev = state.exists
        if has_prev:
            last_t, last_v = int(state.get[0]), int(state.get[1])
        else:
            last_t, last_v = -(1 << 62), 0
        pdf = pd.concat(list(pdf_iter)).sort_values(
            ["tus", "v"], kind="stable"
        )
        n_in = len(pdf)
        pdf = pdf[pdf["tus"] > last_t]
        late = n_in - len(pdf)
        if not len(pdf):
            if late:
                yield pd.DataFrame(
                    {
                        "k": [key[0]], "bucket_s": [-1], "n_samples": [0],
                        "resets": [0], "increase": [0], "late_dropped": [late],
                    }
                )
            return
        t = pdf["tus"].to_numpy(dtype="int64") // 1_000_000
        v = pdf["v"].to_numpy(dtype="int64")
        prev = np.concatenate(([last_v], v[:-1]))
        diff = v - prev
        contrib = np.where(diff >= 0, diff, np.maximum(v, 0))
        reset = (diff < 0).astype("int64")
        if not has_prev:
            # first-ever sample: no interval to measure (batch twin's
            # NULL-lag rule)
            contrib[0] = 0
            reset[0] = 0
        bucket = (t // bucket_s) * bucket_s
        out = (
            pd.DataFrame(
                {
                    "bucket_s": bucket,
                    "n_samples": 1,
                    "resets": reset,
                    "increase": contrib,
                }
            )
            .groupby("bucket_s", as_index=False)
            .sum()
        )
        out.insert(0, "k", key[0])
        out["late_dropped"] = 0
        if late:
            out.loc[out.index[0], "late_dropped"] = late
        state.update((int(pdf["tus"].max()), int(v[-1])))
        if evict:
            state.setTimeoutTimestamp(int(pdf["tus"].max()) // 1000 + 1)
        yield out[
            ["k", "bucket_s", "n_samples", "resets", "increase",
             "late_dropped"]
        ]

    return base.groupBy("k").applyInPandasWithState(
        fold,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if evict
            else GroupStateTimeout.NoTimeout
        ),
    )


def streaming_exact_dedup(
    docs: DataFrame,
    text_col: str = "text",
    time_col: str | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Exact streaming dedup: first document per content fingerprint.

    State is one entry per distinct fingerprint. Unbounded streams MUST
    pass (time_col, watermark) to use dropDuplicatesWithinWatermark —
    state for a fingerprint is dropped once the watermark passes it,
    trading "dedup forever" for bounded state (the standard production
    compromise; exact global dedup over all history is the batch job).
    """
    from datafusion_uba_spark.operators.text import content_fingerprint

    if (time_col is None) != (watermark is None):
        raise ValueError(
            "streaming_exact_dedup: pass BOTH time_col and watermark "
            "(bounded state) or NEITHER (batch / explicitly unbounded)"
        )
    if docs.isStreaming and time_col is None:
        raise ValueError(
            "streaming_exact_dedup on a stream requires (time_col, "
            "watermark): dropDuplicates would keep one state entry per "
            "distinct fingerprint forever"
        )
    with_fp = docs.withColumn("fingerprint", content_fingerprint(text_col))
    if watermark is not None and time_col is not None:
        return with_fp.withWatermark(
            time_col, watermark
        ).dropDuplicatesWithinWatermark(["fingerprint"])
    return with_fp.dropDuplicates(["fingerprint"])


def streaming_exact_dedup_against_prescreened(
    docs: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    time_col: str | None = None,
    watermark: str | None = None,
    bits_log2: int = 26,
    corpus_fingerprints: bool = False,
) -> DataFrame:
    """Streaming ingest dedup against a static corpus with the bit-set
    prescreen: the streaming face of dedup.dedup_against_prescreened
    (r13), where the prescreen earns its keep — on the crawl-ingest
    steady state most arriving documents are NEW, and a clear bit in
    the broadcast bitmap PROVES it without touching the corpus at all.

    Plan shape per micro-batch: fingerprint the arrivals (stateless
    narrow map), probe the corpus membership bitmap — materialized
    ONCE at stream-construction time into a local relation
    (2^bits_log2 bits = 8 MB at the default, well under broadcast
    size), so no corpus scan recurs per batch — then confirm only the
    set-bit sliver (true duplicates + ~n/2^bits_log2 hash collisions)
    with a stream-static LEFT ANTI join against the exact corpus
    fingerprints. Same exact answer as the unscreened stream-static
    anti join: clear bits cannot be false negatives, and the confirm
    join removes every false maybe.

    Within-stream duplicate collapse follows streaming_exact_dedup's
    contract: unbounded streams MUST pass (time_col, watermark) —
    dropDuplicatesWithinWatermark bounds the per-fingerprint state.
    Batch frames always get the batch twin's exact min-id
    canonicalization (dropDuplicatesWithinWatermark rejects batch
    frames at action time on Spark 4, so a (time_col, watermark) pair
    passed with a batch frame — the natural parity call — is accepted
    and routed there too). Streaming canonical is FIRST-ARRIVAL (the
    only canonical a stream can name); the batch twin's is min(id) —
    identical whenever ids arrive in order.

    Output matches the batch op: (doc_id, fingerprint), one row per
    surviving new fingerprint, append mode. Batch/stream parity is
    pinned by tests/test_streaming.py.

    Caching contract: on a STREAMING input the exact corpus
    fingerprint projection is ``persist()``-ed for the life of the
    query (each micro-batch's confirm join re-executes its static
    side; without the cache every trigger would re-normalize and
    re-hash the whole corpus). Spark has no stream-scoped cache, so
    the caller owns the release: after stopping the query, call
    ``spark.catalog.clearCache()``. ``corpus.unpersist()`` does NOT
    release it — the cached relation is the derived fingerprint
    projection, which the caller holds no handle to. A long-lived
    session constructing many streams would otherwise accumulate
    dead cached relations. This is a ``persist()``, not a
    localCheckpoint, on purpose: the static side of a long-lived
    stream must recompute after executor loss rather than fail.
    """
    from datafusion_uba_spark.operators.dedup import (
        fingerprint_bitset,
        min_id_per_fingerprint,
        prescreen_fresh,
    )
    from datafusion_uba_spark.operators.text import content_fingerprint

    if (time_col is None) != (watermark is None):
        raise ValueError(
            "streaming_exact_dedup_against_prescreened: pass BOTH "
            "time_col and watermark (bounded state) or NEITHER "
            "(batch / explicitly unbounded)"
        )
    if docs.isStreaming and time_col is None:
        raise ValueError(
            "streaming_exact_dedup_against_prescreened on a stream "
            "requires (time_col, watermark): the within-stream "
            "fingerprint collapse would otherwise keep one state "
            "entry per distinct fingerprint forever"
        )

    if corpus_fingerprints:
        corpus_fp = corpus.select("fingerprint")
    else:
        corpus_fp = corpus.select(
            content_fingerprint(text_col).alias("fingerprint")
        ).distinct()
    if docs.isStreaming:
        # the static side of the sliver's confirm anti-join re-executes
        # per micro-batch; cache it so each trigger reads the cached
        # fingerprints instead of re-normalizing/re-hashing the corpus
        corpus_fp = corpus_fp.persist()
    # Materialize the bitmap to the driver and re-plant it as a local
    # relation: a static frame no micro-batch can re-derive (the
    # aggregate over the corpus runs exactly once, here), and small
    # enough (<= 2048 rows x 4 KB) that Spark broadcasts it for free.
    spark = docs.sparkSession
    bitset_rows = fingerprint_bitset(corpus_fp, bits_log2).collect()
    bitset = spark.createDataFrame(
        bitset_rows, "bucket long, bits binary"
    )

    streaming = docs.isStreaming
    tcols = (
        [F.col(time_col).alias("__t")]
        if streaming and time_col is not None
        else []
    )
    carried = ["doc_id"] + (["__t"] if tcols else [])
    inc_fp = docs.select(
        F.col(id_col).alias("doc_id"),
        *tcols,
        content_fingerprint(text_col).alias("fingerprint"),
    )
    fresh = prescreen_fresh(inc_fp, bitset, corpus_fp, carried, bits_log2)
    if streaming:
        return (
            fresh.withWatermark("__t", watermark)
            .dropDuplicatesWithinWatermark(["fingerprint"])
            .select("doc_id", "fingerprint")
        )
    # batch frame (with or without time_col — the watermark collapse
    # is stream-only API on Spark 4): the batch twin's exact answer
    return min_id_per_fingerprint(fresh, "doc_id")


def streaming_minhash_dedup_against(
    docs: DataFrame,
    corpus: DataFrame,
    corpus_index: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    time_col: str | None = None,
    watermark: str | None = None,
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Streaming NEAR-dup ingest against a persisted corpus: the
    streaming form of dedup.minhash_dedup_against — incoming documents
    are shingled/signed/banded with stateless narrow maps, candidates
    come from a STREAM-STATIC equi-join on (band_id, band_sig) against
    the corpus band index, and the exact-Jaccard verify is a second
    stream-static join that touches corpus shingles only for candidate
    doc_ids. This is the crawl-ingest steady state: the corpus index
    is built once per generation (dedup.minhash_index, ideally
    bucketed), and every arriving document is checked without ever
    rescanning or re-hashing the corpus.

    The only stateful step is collapsing multi-band candidate
    duplicates (a pair matching in k bands appears k times):
    dropDuplicatesWithinWatermark keyed on (doc_id, dup_of). The state
    is exactly right-sized — a pair can only recur at its document's
    single arrival time, so state drops as soon as the watermark
    passes it. Unbounded streams therefore MUST pass (time_col,
    watermark), same contract as streaming_exact_dedup; batch frames
    may pass neither (plain dropDuplicates).

    Output matches the batch op: (doc_id, dup_of, jaccard_bp) for
    every arriving document whose exact shingle Jaccard against some
    corpus document clears ``threshold`` (streamed in append mode once
    the watermark passes; the batch twin parity is pinned by
    tests/test_streaming.py).
    """
    from datafusion_uba_spark.operators.dedup import (
        _shingle_df,
        minhash_index,
        minhash_signature,
    )
    from datafusion_uba_spark.operators.text import (
        normalize_text,
        shingles_from_tokens,
        tokens_from_norm,
    )

    if num_perm % bands != 0:
        raise ValueError("bands must divide num_perm")
    if (time_col is None) != (watermark is None):
        raise ValueError(
            "streaming_minhash_dedup_against: pass BOTH time_col and "
            "watermark (bounded state) or NEITHER (batch / explicitly "
            "unbounded)"
        )
    if docs.isStreaming and time_col is None:
        raise ValueError(
            "streaming_minhash_dedup_against on a stream requires "
            "(time_col, watermark): the multi-band candidate collapse "
            "would otherwise keep one state entry per (doc, match) pair "
            "forever"
        )
    if corpus_index is None:
        corpus_index = minhash_index(
            corpus, text_col, id_col, n, num_perm, bands, hash_family
        )

    tcols = [F.col(time_col).alias("__t")] if time_col is not None else []
    s0 = docs.select(
        F.col(id_col).alias("__id"),
        *tcols,
        normalize_text(text_col).alias("__norm"),
    )
    carried = ["__id"] + (["__t"] if time_col is not None else [])
    s1 = s0.select(
        *carried, tokens_from_norm(F.col("__norm")).alias("__toks")
    ).where(F.size("__toks") >= n)
    sh = s1.select(
        *carried, shingles_from_tokens(F.col("__toks"), n).alias("__sh")
    )
    sig = sh.select(
        *carried,
        "__sh",
        minhash_signature(F.col("__sh"), num_perm, hash_family).alias(
            "__sig"
        ),
    )
    rows = num_perm // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band_id"),
                F.slice("__sig", bi * rows + 1, rows).alias("band_sig"),
            )
            for bi in range(bands)
        ]
    )
    banded = sig.select(
        *carried, "__sh", F.explode(band_structs).alias("__b")
    ).select(
        *carried,
        "__sh",
        F.col("__b.band_id").alias("__inc_band"),
        F.col("__b.band_sig").alias("__inc_sig"),
    )
    # the shingle array RIDES THROUGH the candidate join so the verify
    # never has to re-join the stream to itself (a stream-stream join)
    cand = banded.join(
        corpus_index,
        (F.col("__inc_band") == F.col("band_id"))
        & (F.col("__inc_sig") == F.col("band_sig")),
    ).select(
        F.col("__id").alias("doc_id"),
        *([F.col("__t")] if time_col is not None else []),
        "__sh",
        F.col(id_col).alias("dup_of"),
    )
    if time_col is not None:
        cand = cand.withWatermark(
            "__t", watermark
        ).dropDuplicatesWithinWatermark(["doc_id", "dup_of"])
    else:
        cand = cand.dropDuplicates(["doc_id", "dup_of"])

    cor_sh = _shingle_df(corpus, text_col, id_col, n).select(
        F.col("__id").alias("dup_of"), F.col("__sh").alias("__shc")
    )
    inter = F.size(F.array_intersect("__sh", "__shc"))
    union = F.size("__sh") + F.size("__shc") - inter
    jac_bp = F.floor((inter * 10000) / union).cast("long")
    return (
        cand.join(cor_sh, "dup_of")
        .select("doc_id", "dup_of", jac_bp.alias("jaccard_bp"))
        .where(F.col("jaccard_bp") >= int(round(threshold * 10000)))
    )


def streaming_rollup_refresh(
    events: DataFrame,
    table: str,
    time_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    timeout_sec: int = 300,
) -> StreamingQuery:
    """STREAMING continuous aggregate: fold a stream of events into the
    persisted hour-tier rollup table (operators.rollup.rollup_init
    store) one micro-batch at a time via ``foreachBatch`` →
    ``rollup_refresh`` — the streaming face of the TimescaleDB
    continuous-aggregate pattern, and the composition that makes the
    rollup/gapfill serving stack END-TO-END: files land → refresh
    touches only the affected days' partitions → batch dashboards
    gapfill/serve from the always-current store.

    Why foreachBatch instead of a stateful streaming aggregate: the
    rollup table must stay a PLAIN partitioned parquet table that
    batch queries (rollup tiers, gapfill, dashboards) read directly —
    foreachBatch reuses the exact batch merge (increment agg + union +
    re-sum + dynamic-partition overwrite of affected days), so
    streaming and batch refresh are THE SAME code path, and the
    per-batch write cost is proportional to the days the batch
    touches, not the table. Exactly-once caveat (documented, standard
    for foreachBatch sinks without idempotent keys): a batch replayed
    after a crash between write and checkpoint would double-fold;
    production would stamp batch_id into a refresh journal — here the
    availableNow harness processes each file exactly once.

    Runs with an availableNow trigger (process everything currently in
    the source, then stop) and raises TimeoutError on overrun, like
    run_to_memory."""
    from datafusion_uba_spark.operators.rollup import rollup_refresh

    def fold(batch: DataFrame, _bid: int) -> None:
        rollup_refresh(batch, table, time_col, key_col, value_col)

    q = (
        events.writeStream.foreachBatch(fold)
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(timeout_sec)
    if not finished:
        q.stop()
        raise TimeoutError(
            f"streaming rollup refresh into {table!r} still running "
            f"after {timeout_sec}s"
        )
    return q


def heavy_hitter_cells(
    events: DataFrame,
    key_col: str = "user_id",
    w: int = 1024,
    d: int = 4,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Streaming count-min sketch — the streaming form of the batch
    count_min_build (operators/sketches.py), sharing its exact
    expression tree.

    Why a CMS is THE streaming frequency counter: exact per-key counts
    need one state entry per key — unbounded; the CMS's aggregation
    state is AT MOST d*w counter cells no matter how many keys or
    events arrive, so this is one of the few unbounded (un-windowed,
    un-watermarked) streaming aggregations that is safe by
    construction — the key space itself is finite. Counter cells are
    sum-merged, so micro-batch boundaries and event order cannot
    change the final cell table: the streamed sketch EQUALS the batch
    twin exactly (pinned by the parity test). Run in complete/update
    mode; probe the emitted cells with count_min_estimate.
    """
    from datafusion_uba_spark.operators.sketches import count_min_build

    return count_min_build(events, key_col, w=w, d=d, hash_family=hash_family)


def stream_avro_py(
    spark: SparkSession,
    path: str,
    schema=None,
    reader_schema: dict | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming ingest of an Avro container DIRECTORY without the
    spark-avro jar: the streaming ``binaryFile`` source discovers new
    ``.avro`` files as they land, and each micro-batch decodes them
    through the same Arrow-batched Python codec as the batch face
    (``sources.avro_py``) — the day-N+1 ingest shape for an Avro drop
    zone, composing with every downstream stateless/stateful operator
    in this module.

    ``schema``/``reader_schema`` semantics match ``read_avro_py``:
    schema=None bootstraps from one existing file driver-side
    (streaming sources require an explicit schema — standard
    bootstrap), and reader_schema applies the spec's resolution per
    file so mixed-writer-schema drops land in one frame. The decode
    is per-whole-file (streaming discovery is file-granular); for
    multi-GB foreign files use the batch face's ``split_size``
    backfill, then stream the increments."""
    import glob as _glob
    import os as _os

    from datafusion_uba_spark.sources.avro_py import (
        _read_header,
        decode_container,
        spark_schema_for_avro,
    )

    if schema is None:
        if reader_schema is not None:
            avro_schema = reader_schema
        else:
            files = sorted(_glob.glob(_os.path.join(path, "*.avro")))
            if not files:
                raise ValueError(
                    f"no .avro files under {path!r} to bootstrap the "
                    "schema from; pass schema= or reader_schema="
                )
            with open(files[0], "rb") as fh:
                avro_schema = _read_header(fh)[0]
        schema = spark_schema_for_avro(avro_schema)
    elif isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)

    bin_schema = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("modificationTime", T.TimestampType()),
            T.StructField("length", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )
    reader = (
        spark.readStream.schema(bin_schema)
        .format("binaryFile")
        .option("pathGlobFilter", "*.avro")
    )
    if max_files_per_trigger is not None:
        reader = reader.option(
            "maxFilesPerTrigger", str(max_files_per_trigger)
        )
    bf = reader.load(path)
    out_cols = [f.name for f in schema.fields]

    def _decode(batches):
        import pandas as pd

        for pdf in batches:
            for blob in pdf["content"]:
                _, rows = decode_container(
                    bytes(blob), reader_schema=reader_schema
                )
                yield pd.DataFrame.from_records(rows, columns=out_cols)

    return bf.select("content").mapInPandas(_decode, schema)


def run_to_memory(
    sdf: DataFrame,
    name: str,
    output_mode: str = "append",
    timeout_sec: int = 300,
) -> StreamingQuery:
    """Run a streaming DataFrame to completion into an in-memory table
    (availableNow trigger): processes everything currently in the
    source, then stops. The harness pattern for tests and backfills.

    Raises TimeoutError if the query has not terminated within
    ``timeout_sec`` (the query is stopped first) — otherwise callers
    would read a partial memory table with no signal anything is wrong.
    """
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(timeout_sec)
    if not finished:
        q.stop()
        raise TimeoutError(
            f"streaming query {name!r} still running after {timeout_sec}s"
        )
    return q


def streaming_cdc_snapshot(
    changes: DataFrame,
    table: str,
    key_cols: list[str],
    seq_cols: list[str],
    op_col: str = "op",
    n_buckets: int = 64,
    timeout_sec: int = 300,
) -> StreamingQuery:
    """STREAMING CDC snapshot maintenance: fold a changelog stream
    (upserts + deletes) into the persisted last-writer-wins snapshot
    (operators.scd.cdc_init store) one micro-batch at a time via
    ``foreachBatch`` → ``cdc_refresh`` — the streaming face of type-1
    state, sharing the batch merge verbatim so streaming and batch
    apply are THE SAME code path (the streaming_rollup_refresh
    pattern).

    Scale/robustness properties inherited from the store design:
    each micro-batch reads and rewrites ONLY the key-hash buckets it
    touches (partition-pruned, dynamic partition overwrite), and the
    store keeps TOMBSTONES, so micro-batch boundaries and cross-batch
    ordering cannot change the result — a late batch carrying an older
    change for a deleted key is out-ranked by the stored tombstone
    (batch-parity pinned in tests/test_streaming.py). Exactly-once
    caveat as for the rollup: replaying a batch after a crash between
    write and checkpoint re-applies it — harmless HERE because
    last-writer-wins apply is idempotent (re-merging the same rows
    yields the same winners), a strictly stronger story than the
    additive rollup's.

    Runs with an availableNow trigger and raises TimeoutError on
    overrun."""
    from datafusion_uba_spark.operators.scd import cdc_refresh

    def fold(batch: DataFrame, _bid: int) -> None:
        cdc_refresh(batch, table, key_cols, seq_cols, op_col, n_buckets)

    q = (
        changes.writeStream.foreachBatch(fold)
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(timeout_sec)
    if not finished:
        q.stop()
        raise TimeoutError(
            f"streaming cdc snapshot into {table!r} still running "
            f"after {timeout_sec}s"
        )
    return q


def streaming_ann_topk_from_index(
    queries: DataFrame,
    table: str,
    sink_table: str,
    k: int = 10,
    n_probe: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    timeout_sec: int = 300,
) -> StreamingQuery:
    """Online ANN serving: answer a STREAM of query vectors against the
    persisted bucketed IVF index (similarity.ivf_build_index), one
    micro-batch at a time via ``foreachBatch`` →
    ``ivf_topk_from_index`` — the streaming face of the ANN probe,
    sharing the batch scorer verbatim (the streaming_cdc_snapshot /
    streaming_rollup_refresh pattern), so stream/batch parity is the
    same code path by construction. Exact per-query top-k (rank,
    cosine) appends to ``sink_table`` stamped with the micro-batch id.

    Why foreachBatch and not a pure stream-static plan: the probe's
    final per-query top-k is a row_number window, which Structured
    Streaming rejects on unbounded streams — but ANN queries are
    independent REQUESTS, answered exactly once against the index as
    of their micro-batch, so the batch-at-a-time model is the correct
    semantics (not a workaround): no cross-batch state, no watermark,
    nothing for the state store to hold.

    Scale shape per micro-batch: centroid assignment is O(n_cells x
    dim) expression work on the (small) query batch, the probe side
    broadcasts, and the index side prunes to the probed cells of the
    bucketed table — the corpus never shuffles, so serving cost is
    O(batch x n_probe x cell_size), independent of corpus size.
    Exactly-once caveat as for the rollup/CDC faces: replaying a batch
    after a crash between write and checkpoint re-appends its answers;
    dedup downstream on (batch_id, query_id, rank) if the sink must be
    exactly-once.

    Runs with an availableNow trigger and raises TimeoutError on
    overrun."""
    from datafusion_uba_spark.operators.similarity import (
        ivf_topk_from_index,
    )

    def serve(batch: DataFrame, bid: int) -> None:
        top = ivf_topk_from_index(
            batch.sparkSession,
            table,
            batch,
            k=k,
            vec_col=vec_col,
            id_col=id_col,
            n_probe=n_probe,
        )
        top.withColumn("batch_id", F.lit(bid).cast("long")).write.mode(
            "append"
        ).format("parquet").saveAsTable(sink_table)

    q = (
        queries.writeStream.foreachBatch(serve)
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(timeout_sec)
    if not finished:
        q.stop()
        raise TimeoutError(
            f"streaming ann probe against {table!r} still running "
            f"after {timeout_sec}s"
        )
    return q


def streaming_semantic_dedup_against(
    emb: DataFrame,
    index_table: str,
    threshold: float = 0.4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Streaming SemDeDup ingest against a persisted index: the
    streaming form of dedup.semantic_pairs_from_index — every arriving
    embedding assigns to its cluster in ONE stateless projection (the
    stored centroids inline as a literal array-of-structs, so the
    argmin is pure expression work — no stream-static cross join, no
    state), then a stream-static equi-join on the cluster id meets the
    bucketed member table, and the exact micro-unit cosine verifies.

    COMPLETELY STATELESS: unlike the MinHash face (whose multi-band
    candidates need a watermarked collapse), a vector assigns to
    exactly one cluster, so every (member, probe) pair appears at most
    once — append mode with no watermark, the state store never grows.
    The corpus is never re-clustered and never shuffles; the only
    per-event cost is O(k x dim) assignment arithmetic plus the
    cluster-local member join.

    Output matches semantic_pairs_from_index: (cluster, id_a=stored
    member, id_b=arriving vector, cosine_u >= threshold); batch/stream
    parity pinned by tests/test_streaming.py.
    """
    import json

    from datafusion_uba_spark.operators.dedup import _sem_read_meta
    from datafusion_uba_spark.operators.kmeans import _dist2
    from datafusion_uba_spark.operators.similarity import (
        QUANT_SCALE,
        cosine_sql,
        dot_sql,
    )

    spark = emb.sparkSession
    m = _sem_read_meta(spark, index_table)
    cent_rows = [
        (int(c), [int(x) for x in q])
        for c, q in json.loads(m["centroids_json"])
    ]
    scale, dim = int(m["scale"]), int(m["dim"])

    packed = F.array(
        *[
            F.struct(
                F.lit(cid).cast("long").alias("cid"),
                F.array(
                    *[F.lit(v).cast("long") for v in qv]
                ).alias("cq"),
            )
            for cid, qv in cent_rows
        ]
    )
    best = F.array_min(
        F.transform(
            packed,
            lambda c: F.struct(
                _dist2(F.col("__lq"), c["cq"]).alias("dist2"),
                c["cid"].alias("cid"),
            ),
        )
    )
    # one stateless projection chain from the raw stream: Lloyd-grid
    # quantization for the assignment, cosine-grid quantization + norm
    # for the verify — no self-join, no state
    probe = (
        emb.select(
            F.col(id_col).alias("id_b"),
            F.transform(
                F.col(vec_col),
                lambda x: F.round(x.cast("double") * F.lit(scale)).cast(
                    "long"
                ),
            ).alias("__lq"),
            F.transform(
                F.col(vec_col),
                lambda x: F.round(
                    x.cast("double") * F.lit(QUANT_SCALE)
                ).cast("long"),
            ).alias("qb"),
        )
        .withColumn("__best", best)
        .selectExpr(
            "__best.cid AS __cb",
            "id_b",
            "qb",
            f"{dot_sql('qb', 'qb', dim)} AS nb",
        )
    )
    members = spark.table(index_table).select(
        "cluster",
        F.col("vec_id").alias("id_a"),
        F.col("vec_q").alias("qa"),
        F.col("vec_n").alias("na"),
    )
    scored = probe.join(
        members, F.col("__cb") == F.col("cluster")
    ).selectExpr(
        "cluster",
        "id_a",
        "id_b",
        f"CAST(floor({cosine_sql('qa', 'qb', 'na', 'nb', dim)} * 1000000)"
        " AS BIGINT) AS cosine_u",
    )
    return scored.where(
        F.col("cosine_u") >= int(round(threshold * 1_000_000))
    )
