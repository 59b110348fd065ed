"""Physical-plan audit over the ENTIRE query registry — the structural
anti-patterns that sank round-2 performance, pinned as assertions so
they can't regress silently:

- no CartesianProduct anywhere;
- BroadcastNestedLoopJoin only where it is the DESIGN (brute-force
  scoring joins whose one side is a broadcast query set);
- no optimizer-substituted expression chains in scan-level Filters
  (the InferFiltersFromGenerate / isnotnull-constraint disease: a
  regexp/HOF chain evaluated per input row, interpreted, before the
  repartition — operators/dedup.py documents the two fixes).

Plans are inspected at sf0.001 — plan SHAPE is data-independent here
(the same operators/joins appear at every SF; only AQE sizing
decisions differ, and none of the asserted patterns is one AQE
introduces).

Pins do not blind the audit: a localCheckpoint truncates the pinned
frame's plan at a LogicalRDD, so each row's production construction
runs with ``localCheckpoint`` recorded, and the audit checks the
returned frame's plan together with the plan of every frame pinned on
the way.
"""

from __future__ import annotations

import re
import threading

import pytest
from pyspark.sql.classic.dataframe import DataFrame

from datafusion_uba_spark.queries import queries

# brute-force scorers: the no-condition join against a broadcast query
# set IS the plan (data side never moves); everything else must be an
# equi-join
_NLJ_ALLOWED = {
    "ann_topk",
    # the dispatcher in its flat regime IS ann_topk (same broadcast
    # scorer crossJoin)
    "ann_topk_auto",
    # the recall monitor RUNS the brute-force scorer as its exact
    # side, so it inherits ann_topk's designed broadcast crossJoin
    "ann_recall_lsh",
    # the designed broadcast ADC scorer: compressed code rows x the
    # broadcast per-query LUT table (operators/pq.py pq_topk) — the
    # corpus side is ~8 bytes/row codes, never the vectors
    "ann_topk_pq",
    # uncorrelated scalar-AVG subquery (TPC-H Q22 shape): the ONE-ROW
    # positive-balance aggregate broadcast against the filtered
    # customer dim — a 1-row inner side makes the NLJ O(|customers|),
    # exactly how Spark plans a scalar subquery itself
    "tpch_q22",
    # same scalar-subquery shape (TPC-H Q11's HAVING-vs-total): the
    # ONE-ROW (total, count) aggregate broadcast back against the
    # per-part values — NLJ cost O(|parts| x 1)
    "tpch_q11",
    # Lloyd's assignment step (operators/kmeans.py lloyd_rounds): the
    # k centroids fold into ONE packed array-of-structs row broadcast
    # against the vectors — the shuffle-free scorer, NLJ cost
    # O(|vectors| x 1), same design as ann_topk
    "kmeans_assign",
    # corpus-end scalar (ONE-ROW max-day aggregate) broadcast against
    # the per-user lifetime table — the scalar-subquery shape again,
    # NLJ cost O(|users| x 1) (queries_stats.q_survival_curve)
    "survival_curve",
    # node-count scalar (ONE-ROW count aggregate) broadcast against
    # the |event-type| node table — O(|nodes| x 1)
    # (operators/pagerank.py pagerank_integer)
    "event_pagerank",
    # the TWO-ROW per-arm totals broadcast onto the |event-type|
    # target grid (queries_stats.q_ab_conversion_test) — the zero-
    # converter-arm fix's crossJoin; NLJ cost O(|types| x 2)
    "ab_conversion_test",
    # pre-filtered brute-force scorer: ann_topk's designed broadcast
    # crossJoin over the metadata-filtered corpus
    "ann_topk_filtered",
    # the ONE-ROW global-centroid vector broadcast against the
    # per-source centroid table — scalar-broadcast shape, O(|sources|)
    "embedding_drift_by_source",
    # hard-negative mining inherits ann_topk's designed broadcast
    # scorer crossJoin (the fixed anchor set is the broadcast side)
    "hard_negatives",
    # the ONE-ROW (t_tot, r_tot) totals frame broadcast against the
    # <= 2^16-row bucket table — scalar-subquery shape, O(2^16 x 1)
    "dsir_weights",
    # SemDeDup's clustering runs kmeans_assign's Lloyd's rounds behind
    # the pins in semantic_pairs / semantic_pairs_against: the same
    # packed k-centroid broadcast scorer, O(|vectors| x 1)
    "dedup_semantic",
    "dedup_semantic_against",
    # the FIVE-ROW threshold grid range-joined (bp >= t) against the
    # materialized verified pair set — a band join over a broadcast
    # constant grid, O(|pairs| x 5)
    "dedup_threshold_sweep",
}

_REGISTRY = queries()


@pytest.fixture(scope="module")
def _all_plans(spark, sf_dir):
    """(executed, optimized) plan strings for every registry row, built
    from ONE production DataFrame construction per row. Each string is
    the returned frame's plan followed by the plan of every frame the
    construction pinned (localCheckpoint, lazy or eager): the pin's
    LogicalRDD hides everything upstream of it, so without the pre-pin
    plans the audit would be vacuous behind every pin. The recorder
    wraps ``DataFrame.localCheckpoint`` for the fixture's lifetime and
    files each pinned plan under the row its thread is building.

    Construction is the expensive part — a dozen rows execute real
    jobs at construction time (gate probes, pins, fixpoints) — so rows
    build on a small thread pool (guide §2.6: independent driver-side
    work overlaps; plan-string extraction is pure py4j)."""
    from concurrent.futures import ThreadPoolExecutor

    building = threading.local()
    pinned: dict[str, list[tuple[str, str]]] = {}
    real = DataFrame.localCheckpoint

    def plan_strings(jdf):
        qe = jdf.queryExecution()
        return qe.executedPlan().toString(), qe.optimizedPlan().toString()

    def recording(self, *args, **kwargs):
        row = getattr(building, "row", None)
        if row is not None:
            pinned[row].append(plan_strings(self._jdf))
        return real(self, *args, **kwargs)

    def build(item):
        name, fn = item
        pinned[name] = []
        building.row = name
        try:
            found = [plan_strings(fn(spark, sf_dir)._jdf), *pinned[name]]
        finally:
            building.row = None
        return name, tuple("\n".join(p) for p in zip(*found))

    DataFrame.localCheckpoint = recording
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            return dict(pool.map(build, _REGISTRY.items()))
    finally:
        DataFrame.localCheckpoint = real


@pytest.fixture(scope="module")
def plans(_all_plans):
    return {name: ex for name, (ex, _) in _all_plans.items()}


@pytest.fixture(scope="module")
def opt_plans(_all_plans):
    return {name: opt for name, (_, opt) in _all_plans.items()}


def test_no_cartesian_product(plans):
    bad = [n for n, p in plans.items() if "CartesianProduct" in p]
    assert not bad, f"cartesian products in: {bad}"


def test_nested_loop_joins_only_where_designed(plans):
    bad = [
        n
        for n, p in plans.items()
        if "BroadcastNestedLoopJoin" in p and n not in _NLJ_ALLOWED
    ]
    assert not bad, f"unexpected nested-loop joins in: {bad}"
    # the pin recorder is live: hard_negatives pins its ranked
    # survivors eagerly, so its scoring crossJoin shows only in the
    # recorded pre-pin plan — without the recorder the returned frame
    # shows a LogicalRDD and this audit would see nothing behind pins
    assert "BroadcastNestedLoopJoin" in plans["hard_negatives"]


def test_no_expression_chains_in_scan_filters(plans):
    """A Filter node directly over a scan must not contain the heavy
    text chain (regexp_replace = the normalize/tokenize pipeline's
    fingerprint): its presence means the optimizer substituted a
    derived column's whole definition into a pre-shuffle, interpreted,
    single-task filter. Cheap pushed predicates (isnotnull, size of
    the split chain for the token-count filter) are fine — the pin is
    on the SHINGLE/SIGNATURE chains, whose fingerprint is
    array_distinct/aggregate inside a Filter condition."""
    offenders = {}
    for name, plan in plans.items():
        # Filter nodes print as '+- Filter' when they are the sole /
        # last child but ':- Filter' as the left child of a binary
        # operator (join, union) — audit both renderings
        for m in re.finditer(r"[+:]- Filter (.+)", plan):
            cond = m.group(1)
            if (
                "array_distinct(" in cond
                or "aggregate(zip_with" in cond
                or "array_min(transform" in cond  # minhash/winnow chains
            ):
                offenders.setdefault(name, 0)
                offenders[name] += 1
    assert not offenders, f"substituted chains in scan filters: {offenders}"


def test_date_bounds_pushed_to_scan(spark, sf_dir):
    """load_table's date_bounds must reach the parquet scan's
    PushedFilters — row-group pruning is the 'scan a day, not 100 TB'
    mechanism. Round 5 regressed this silently (bounds applied only to
    the historical bigint-nanos layout and no-oped on timestamp[us]);
    this assertion makes the next layout drift a loud failure instead."""
    from datafusion_uba_spark.sources import load_table

    ev = load_table(
        spark, sf_dir, "events", date_bounds={"ts": ("2024-01-01", "2024-01-03")}
    )
    plan = ev._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m, f"no PushedFilters in scan:\n{plan}"
    pushed = m.group(1)
    assert re.search(r"(GreaterThanOrEqual|GreaterThan)\(ts", pushed), pushed
    assert re.search(r"(LessThan|LessThanOrEqual)\(ts", pushed), pushed


def test_aqe_splits_skewed_join(spark):
    """The engine's answer to hot keys is AQE skew-join splitting (plus
    salting where keys are known-hot); pin that the session config
    actually has it on and that a pathologically skewed join still
    completes with correct results."""
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    import pyspark.sql.functions as F

    # one key owns 95% of the left side
    left = spark.range(0, 20_000).select(
        F.when(F.col("id") % 20 != 0, F.lit(0))
        .otherwise(F.col("id"))
        .alias("k"),
        F.col("id").alias("v"),
    )
    right = spark.range(0, 20_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("w")
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = left.join(right, "k")
        # hot key 0 matches right row k=0 once: all 19000 hot rows
        # survive; each cold row k=20i matches once
        assert joined.count() == 20_000
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_rfm_segments_no_single_partition_window(plans):
    """The r12 scale-killer, pinned fixed: rfm_segments' quartiles
    must come from operators.ranking.global_ntile (range repartition +
    partitioned local windows + broadcast offsets), never from an
    unpartitioned ntile window — which plans as Exchange
    SinglePartition + one-task sort over the whole per-user frame."""
    p = plans["rfm_segments"]
    assert "ntile(" not in p, "unpartitioned ntile window is back"
    assert "SinglePartition" not in p, (
        "a single-partition exchange reappeared in rfm_segments:\n" + p
    )


def test_streaming_prescreen_batch_plan_shape(spark):
    """The streaming bitset-prescreen helper's batch twin must keep
    the prescreen's plan contract: the bitmap rides a LocalTableScan
    (materialized once at construction, never re-derived from the
    corpus) joined BROADCAST onto the probe side, and nothing in the
    composition degenerates to a cartesian product."""
    from datafusion_uba_spark.streaming import (
        streaming_exact_dedup_against_prescreened,
    )

    corpus = spark.createDataFrame(
        [(i, f"corpus doc number {i}") for i in range(40)],
        "doc_id long, text string",
    )
    inc = spark.createDataFrame(
        [(100 + i, f"arrival {i}") for i in range(10)],
        "doc_id long, text string",
    )
    out = streaming_exact_dedup_against_prescreened(inc, corpus)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # the planted bitmap relation: a driver-local leaf (LocalTableScan
    # or the Arrow createDataFrame RDD), NOT a re-derivation from the
    # corpus (which would show the bitmap groupBy under this join)
    assert "LocalTableScan" in plan or "Scan ExistingRDD" in plan
    assert "bitmap_construct_agg" not in plan


def test_tpch_q4_semijoin_shape(spark, sf_dir, plans):
    """tpch_q4: the EXISTS decorrelates to a LeftSemi hash join on the
    order key (never a correlated re-scan per order), and the date
    window reaches the orders scan as pushed filters — at 100 TB the
    window prunes row groups before any join work."""
    assert "LeftSemi" in plans["tpch_q4"], plans["tpch_q4"]
    assert "CartesianProduct" not in plans["tpch_q4"]
    from datafusion_uba_spark.queries import q_priority_semijoin

    # formatted mode: executedPlan().toString() truncates long scan
    # lines before PushedFilters (same reason as the q6 pin)
    plan = spark.sparkContext._jvm.PythonSQLUtils.explainString(
        q_priority_semijoin(spark, sf_dir)._jdf.queryExecution(),
        "formatted",
    )
    scans = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    orders_scan = [s for s in scans if "o_orderdate" in s]
    assert orders_scan, plan
    assert "GreaterThanOrEqual(o_orderdate" in orders_scan[0], orders_scan
    assert "LessThan(o_orderdate" in orders_scan[0], orders_scan


def test_tpch_q17_broadcast_decorrelation(plans):
    """tpch_q17: the correlated scalar subquery decorrelates to TWO
    broadcast hash joins — the brand dim broadcast INTO lineitem (the
    scan-side reduction) and the per-part aggregate broadcast BACK —
    so the full lineitem table never sort-merge-joins or shuffles for
    a join; the only hash exchange is the reduced set's per-part
    aggregate."""
    plan = plans["tpch_q17"]
    assert len(re.findall(r"BroadcastHashJoin", plan)) >= 2, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan
    joins_exchanges = [
        m.group(1)
        for m in re.finditer(r"Exchange hashpartitioning\((\w+)#", plan)
    ]
    assert set(joins_exchanges) <= {"l_partkey"}, (joins_exchanges, plan)


def test_tpch_q20_single_fact_shuffle(plans):
    """tpch_q20: part filter broadcast into lineitem, qualifying
    suppliers broadcast into the supplier dim, nation broadcast on
    top — three broadcast hash joins, and the fact table shuffles
    exactly once (the per-supplier aggregate on l_suppkey)."""
    plan = plans["tpch_q20"]
    assert len(re.findall(r"BroadcastHashJoin", plan)) >= 3, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan
    fact_exchanges = [
        m.group(1)
        for m in re.finditer(r"Exchange hashpartitioning\((\w+)#", plan)
    ]
    assert fact_exchanges.count("l_suppkey") <= 1, (fact_exchanges, plan)
    assert set(fact_exchanges) <= {"l_suppkey"}, (fact_exchanges, plan)


def test_streaming_ann_probe_plan_corpus_exchange_free(
    spark, sf_dir, tmp_path, monkeypatch
):
    """r15 verdict #6: the online ANN serving face
    (streaming_ann_topk_from_index) shares ivf_topk_from_index with
    the batch probe, and its RESULTS have exact stream==batch parity
    pins — but only the batch twin's plan was audited. Spy-capture the
    per-micro-batch probe DataFrame built inside foreachBatch and pin
    its executed plan: the corpus (persisted bucketed index) scans
    Bucketed and joins the probes via BroadcastHashJoin on __cell —
    NO __cell hash-partitioning Exchange anywhere, and every remaining
    shuffle keys on query_id (the tiny per-batch result side). That is
    the O(batch x n_probe x cell_size) serving contract: the corpus
    never moves per micro-batch."""
    from datafusion_uba_spark.operators import similarity
    from datafusion_uba_spark.sources import load_table
    from datafusion_uba_spark.streaming import streaming_ann_topk_from_index

    emb = load_table(spark, sf_dir, "embeddings")
    qdf = emb.where("vec_id < 4").select("vec_id", "embedding")
    src = str(tmp_path / "ann_plan_queries")
    qdf.coalesce(1).write.mode("overwrite").parquet(src)

    captured = []
    real = similarity.ivf_topk_from_index

    def spy(sess, table, batch, **kw):
        out = real(sess, table, batch, **kw)
        captured.append(out)
        return out

    # the streaming face binds the probe via a function-local import,
    # resolved from the similarity module at CALL time — patching the
    # module attribute before the call intercepts every micro-batch
    monkeypatch.setattr(similarity, "ivf_topk_from_index", spy)

    sink = "ann_plan_stream_sink"
    try:
        similarity.ivf_build_index(emb, "ann_plan_idx", n_cells=16)
        streaming_ann_topk_from_index(
            spark.readStream.schema(qdf.schema)
            .option("pathGlobFilter", "*.parquet")
            .parquet(src),
            "ann_plan_idx",
            sink,
            k=5,
            n_probe=4,
        )
        assert captured, "foreachBatch never built a probe"
        plan = (
            captured[0]
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
            .split("== Initial Plan ==")[0]
        )
        # corpus side: bucketed scan, probe broadcast onto it
        assert "Bucketed: true" in plan, plan
        assert re.search(
            r"BroadcastHashJoin \[__cell#\d+\], \[__cell#\d+\], Inner", plan
        ), plan
        # the corpus never shuffles: zero __cell hash exchanges, and
        # every hash exchange that remains keys on the per-batch
        # result's query_id
        assert not re.findall(r"Exchange hashpartitioning\(__cell", plan), plan
        other = [
            m.group(1)
            for m in re.finditer(r"Exchange hashpartitioning\((\w+)#", plan)
        ]
        assert other and set(other) == {"query_id"}, (other, plan)
        assert "CartesianProduct" not in plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {sink}")
        similarity.drop_ivf_index(spark, "ann_plan_idx")


def test_tpch_q6_filters_pushed_and_single_scan(spark, sf_dir):
    """tpch_q6 is the pure filter→agg scan: ALL four predicates (date
    band, discount band, quantity cap) must reach the parquet scan's
    PushedFilters so row-group stats prune at 100 TB, and the plan
    must contain exactly one scan and no join/exchange beyond the
    single-row final aggregate."""
    from datafusion_uba_spark.queries import q_forecast_revenue_change

    df = q_forecast_revenue_change(spark, sf_dir)
    # formatted mode: executedPlan().toString() truncates long
    # PushedFilters lists with "..."
    plan = spark.sparkContext._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m, f"no PushedFilters in scan:\n{plan}"
    pushed = m.group(1)
    assert "GreaterThanOrEqual(l_shipdate" in pushed, pushed
    assert "LessThan(l_shipdate" in pushed, pushed
    assert "GreaterThanOrEqual(l_discount" in pushed, pushed
    assert "LessThanOrEqual(l_discount" in pushed, pushed
    assert "LessThan(l_quantity" in pushed, pushed
    # formatted output names each scan once in the tree and once in the
    # numbered details; count the details entries
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "Join" not in plan, plan


def test_tpch_q1_single_fused_aggregate(spark, sf_dir):
    """tpch_q1 (official column set): the shipdate filter must reach
    PushedFilters, the scan must prune to exactly the seven referenced
    columns, and Catalyst must fuse all six aggregates into ONE
    two-phase hash aggregate — one partial/final pair, one exchange
    on the 4-row group key (plus the output sort's) — not an
    aggregate per output column."""
    from datafusion_uba_spark.queries import q_tpch_q1_official

    df = q_tpch_q1_official(spark, sf_dir)
    plan = spark.sparkContext._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "LessThanOrEqual(l_shipdate" in m.group(1), plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    read_cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert read_cols == {
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate",
    }, read_cols
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) == 2, plan
    assert "partial_sum" in plan, plan  # map-side combine present
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2, plan
    assert "Join" not in plan, plan


def test_tpch_q5_pushdown_and_no_cartesian(spark, sf_dir):
    """tpch_q5 (official local-supplier shape): the one-year window
    must push into the orders scan, the region filter must push into
    the region scan (so nation prunes to ~1/5 before broadcasting),
    the compound supplier join must stay an equi-join (hash join, no
    cartesian/NLJ anywhere), and every scan must be column-pruned."""
    from datafusion_uba_spark.queries import q_tpch_q5_official

    df = q_tpch_q5_official(spark, sf_dir)
    plan = spark.sparkContext._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # date window pushed to the orders scan
    assert re.search(
        r"orders\.parquet.*?GreaterThanOrEqual\(o_orderdate", plan, re.DOTALL
    ), plan
    # region filter pushed to the region scan
    assert re.search(
        r"region\.parquet.*?EqualTo\(r_name,ASIA\)", plan, re.DOTALL
    ), plan
    # lineitem scan pruned to the four columns the query touches
    m = re.search(
        r"lineitem\.parquet\]\s*\nPushedFilters:[^\n]*\nReadSchema: struct<([^>]*)>",
        plan,
    )
    assert m, plan
    li_cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert li_cols == {
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    }, li_cols


# Rows whose optimized plan contains an UNPARTITIONED window — each one
# adjudicated: the window runs over a BOUNDED intermediate (sources,
# days, distinct cents values, shards, centroids — never users or
# documents), with the flat 8x exponent recorded in
# tools/SCALE_RESULTS.md. A global window over an unbounded frame is
# the r12 rfm_segments scale-killer class; any new row must either
# partition its windows or justify itself here.
_GLOBAL_WINDOW_ALLOWED = {
    "stickiness_wau_hll",      # |weeks| sketch rows
    "kmeans_assign",           # k centroid rows
    "dedup_semantic",          # k centroid rows (kmeans_assign's seeds)
    "dedup_semantic_against",  # k centroid rows (kmeans_assign's seeds)
    "source_length_drift",     # |sources| rows
    "trigram_typicality",      # charset^3-bounded frequency table
    "source_temperature_sample",  # |sources| quota rows
    "training_mix",            # |sources| quota rows
    "retention_bitmap",        # |days| bitmap rows
    "power_user_curve",        # |percentile buckets| rows
    "repurchase_intervals",    # |interval buckets| rows
    "session_path_topk",       # survivors of the per-bucket top-k
    "revenue_gini",            # |distinct cents values| rows
    "dow_seasonality",         # 7 rows
    "mann_whitney_revenue",    # |distinct revenue values| midranks
    "benford_values",          # 9 first-digit rows
    "curriculum_order",        # |shards| rows (32)
}


def test_unpartitioned_windows_are_allowlisted(opt_plans):
    """Every registry row whose OPTIMIZED plan contains a window spec
    with no PARTITION BY must be in the justified allowlist above —
    an unpartitioned window moves its whole input to one reducer, so
    over an unbounded frame it is the single-task scale-killer the r12
    verdict flagged (rfm_segments). Checked on the optimized plan
    (windowspecdefinition renders its partition columns first; an
    empty partition list starts with the ORDER column's sort
    direction)."""
    def spec_args(plan):
        # balanced-paren walk: a regex stopping at the first ')'
        # misclassifies windows ordered by a parenthesized expression
        # (e.g. cast(x as bigint) ASC) as partitioned
        for m in re.finditer(r"windowspecdefinition\(", plan):
            depth, i = 1, m.end()
            while depth and i < len(plan):
                depth += {"(": 1, ")": -1}.get(plan[i], 0)
                i += 1
            yield plan[m.end() : i - 1]

    def top_level_first_arg(args):
        depth = 0
        for i, ch in enumerate(args):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "," and depth == 0:
                return args[:i].strip()
        return args.strip()

    bad = {}
    for name, plan in opt_plans.items():
        for args in spec_args(plan):
            first = top_level_first_arg(args)
            if (
                first.endswith(" ASC")
                or first.endswith(" DESC")
                or " ASC " in first
                or " DESC " in first
                or first.startswith("specifiedwindowframe")
            ):
                if name not in _GLOBAL_WINDOW_ALLOWED:
                    bad[name] = ("windowspecdefinition(" + args)[:80]
                break
    assert not bad, f"unpartitioned windows outside the allowlist: {bad}"
