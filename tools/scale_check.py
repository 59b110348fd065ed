"""Scale-stress harness: how does each heavy operator's wall time grow
when the input grows k-fold?

Replicates the driver's sf0.1 tables k times (ids shifted so replicas
are distinct rows, text/embeddings perturbed per replica so dedup and
ANN don't degenerate into k-fold exact duplicates) into /tmp, then
times the registry's heavy queries at 1x and kx and reports the
scaling exponent log_k(t_k / t_1). A linear operator shows ~1.0 (plus
fixed overhead pulling it below 1 at these sizes); anything >> 1 is a
quadratic-at-scale red flag.

This is MEASUREMENT data derived from the driver's testdata, written
only under /tmp — correctness claims still come exclusively from the
driver parquet + DuckDB oracles.

Usage: python tools/scale_check.py [k] (default 8)
Prints one JSON line: {"k": k, "queries": {name: {"t1": s, "tk": s,
"exponent": e}}}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
HEAVY = [
    "text_stats",
    "winnow_fingerprints",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_clusters",
    "ann_topk",
    "ann_topk_lsh",
    "embedding_neardup",
    "retention_count",
    "sessionize",
    "hourly_event_counts",
    "funnel_steps",
    "funnel_steps_any",
    "asof_view_value",
    "session_of_event",
    "vocab_topk",
    "boilerplate_stats",
    "stratified_sample",
    "doc_embedding_enrich",
    "decontaminate",
    "tfidf_keywords",
    "cohort_retention_weekly",
    "daily_active_users",
    "daily_active_users_hll",
    "sequence_packing",
    "dataset_split",
    "heavy_hitters_cms",
    "event_type_pivot",
    "zorder_keys",
    "dedup_minhash_against",
    "user_rfm",
    "event_transitions",
    "ann_topk_pq",
    "stickiness_wau",
    "event_paths_topk",
    "churned_weekly",
    "moving_value_frames",
    "stickiness_wau_hll",
    "rollup_cascade",
    "events_gapfilled",
    "image_decode_stats",
    "order_grouping_sets",
    "order_distribution_ranks",
    "tpch_q2",
    "tpch_q15",
    "tpch_q22",
    "image_resize_stats",
    "events_gapfilled_linear",
    "dedup_fuzzy_prefix",
    "dq_audit",
    "events_m4",
    "events_twa",
    "weekly_signup_purchase",
    "user_top_event",
    "scd2_customer_versions",
    "events_segment_asof",
    "video_frame_stats",
    "tpch_q8",
    "tpch_q21",
    "tpch_q9",
    "tpch_q11",
    "tpch_q12",
    "audio_decode_stats",
    "repetition_stats",
    "events_counter_increase",
    "source_temperature_sample",
    "view_purchase_attribution",
    "trigram_typicality",
    "image_ahash",
    "returning_users",
    "returning_users_hll",
    "session_stats",
    "dedup_containment",
    "value_histogram",
    "customer_snapshot_diff",
    "training_mix",
    "dedup_simhash_against",
    "attribution_last_touch",
    "asof_nearest_value",
    "label_centroids",
    "ann_recall_lsh",
    "user_interval_coverage",
    "key_skew_profile",
    "cohort_ltv_weekly",
    "funnel_time_to_convert",
    "metric_anomaly_flags",
    "tpch_q16",
    "tpch_q19",
    "growth_accounting",
    "power_user_curve",
    "kmeans_assign",
    "repeated_spans",
    "langid_confusion",
    "session_entry_exit",
    "concurrent_sessions",
    "retention_bitmap",
    "session_cooccurrence",
    "cross_source_leakage",
    "sliding_event_counts",
    "funnel_exclusion",
    "next_event_prediction",
    "dwell_time_stats",
    "survival_curve",
    "event_pagerank",
    "daily_autocorr",
    "ab_conversion_test",
    "dedup_semantic",
    "dedup_semantic_against",
    "cdc_snapshot",
    "dow_seasonality",
    "revenue_trend",
    "readability_stats",
    "ngram_novelty",
    "daily_kpi_report",
    "user_diversity",
    "revenue_gini",
    "audio_energy_windows",
    "video_motion_stats",
    "pps_sample",
    "seasonal_anomaly_flags",
    "funnel_by_variant",
    "repurchase_intervals",
    "revenue_new_vs_returning",
    "mann_whitney_revenue",
    "benford_values",
    "event_type_corr",
    "session_path_topk",
    "rfm_segments",
    "dedup_rate_by_source",
    "token_length_histogram",
    "ann_topk_filtered",
    "embedding_drift_by_source",
    "revenue_ewma",
    "split_leakage_check",
    "bpe_token_stats",
    "quality_classifier",
    "dsir_weights",
    "tpch_q6",
    "hard_negatives",
    "corpus_snapshot_diff",
    "dedup_threshold_sweep",
    "packing_contamination",
    "dedup_canonical_pick",
    "dedup_bitset_prescreen",
    "embedding_drift_by_source",
    "order_distribution_ranks",
    # r16 source-transparency rows: the re-encoded twin is rebuilt
    # once per scale dir (mtime-keyed cache; the first timed rep pays
    # it, best-of-3 reads the steady state) — the exponent measures
    # the DECODE+agg path: native ORC scan for orc_global_agg, the
    # Python container decode for avro_customer_agg. s3_nation_agg is
    # excluded: nation is a dim table the fixture copies verbatim, so
    # k× teaches nothing.
    "orc_global_agg",
    "avro_customer_agg",
]

# SCALE_ONLY=a,b,c restricts the run to the named queries (late-round
# incremental measurement without re-timing the whole list)
_only = os.environ.get("SCALE_ONLY")
if _only:
    HEAVY = [n for n in HEAVY if n in set(_only.split(","))]


# SCALE_FIXTURE selects the document-replication text rewrite:
#   neardup (default): append a per-replica suffix — replicas stay
#     near-dups of each other, so cross-replica candidate pairs FORM
#     and the output pair set grows superlinearly with k (the
#     "pair-growth floor": a perfect near-dup operator still shows an
#     8x exponent ~0.7-0.8 because its OUTPUT grows that fast).
#   constpair: additionally rotate the replica's alphabet (a bijective
#     per-replica char map). Within a replica the map is uniform, so
#     every original near-dup pair survives exactly (shingle equality
#     is preserved under a bijection) -> pairs grow exactly k-fold,
#     constant pair density; across replicas no shingle can match
#     (any letter-bearing token differs) -> no cross-replica pairs.
#     This isolates the OPERATOR's exponent from the fixture's output
#     growth (r14 verdict #3).
FIXTURE = os.environ.get("SCALE_FIXTURE", "neardup")

# SCALE_TABLES=documents,embeddings restricts replication to the named
# tables (a SCALE_ONLY run of document-only rows at 64x shouldn't pay
# for 38M replicated lineitem rows it never reads)
_tables = os.environ.get("SCALE_TABLES")
TABLES = set(_tables.split(",")) if _tables else None


def _want(table: str) -> bool:
    return TABLES is None or table in TABLES


# lowercase images already issued to constpair replicas, so every
# replica's bijection is provably distinct from identity and from all
# earlier replicas'
_CONSTPAIR_ISSUED: dict[int, str] = {}


def _constpair_bijection(i: int) -> str:
    """The 52-char `translate` image for constpair replica i (i >= 1).

    Replicas 1..25 use the 25 distinct non-identity alphabet
    ROTATIONS (the r16 fixture, unchanged so earlier exponents stay
    comparable); replicas >= 26 extend the keyspace with SEEDED
    alphabet permutations (26! >> 25). The fixture claims carry over
    verbatim: any alphabet bijection preserves shingle equality
    within a replica (pairs survive exactly k-fold), and a
    cross-replica shingle match still requires the corpus to contain
    a shingle equal to another shingle under the composed bijection
    P_j^-1 . P_i — the same no-match argument the rotations relied
    on. Distinctness from identity, all rotations, and every earlier
    replica is CHECKED, not assumed."""
    import random
    import string

    lo, up = string.ascii_lowercase, string.ascii_uppercase
    if i in _CONSTPAIR_ISSUED:
        p = _CONSTPAIR_ISSUED[i]
    elif 1 <= i <= 25:
        p = lo[i:] + lo[:i]
        _CONSTPAIR_ISSUED[i] = p
    else:
        taken = {lo[r:] + lo[:r] for r in range(26)} | set(
            _CONSTPAIR_ISSUED.values()
        )
        rng = random.Random(10_000 + i)
        while True:
            perm = list(lo)
            rng.shuffle(perm)
            p = "".join(perm)
            if p not in taken:
                break
        _CONSTPAIR_ISSUED[i] = p
    return p + p.upper()


def _replicate(spark, k: int, out_dir: str) -> None:
    """k shifted/perturbed copies of every table the heavy queries read."""
    import string

    from pyspark.sql import functions as F

    from datafusion_uba_spark.sources import load_table

    os.makedirs(out_dir, exist_ok=True)

    if _want("documents"):
        docs = load_table(spark, BASE, "documents")
        n_docs = docs.count()
        copies = []
        for i in range(k):
            c = docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * n_docs))
            if i > 0 and FIXTURE == "constpair":
                # NO suffix in constpair mode (r15 advisor): the
                # " replica{i}" tail adds per-doc shingles that shift
                # Jaccard slightly, so pairs sitting at the 0.8
                # threshold can flip in/out across replicas — breaking
                # the exactly-k-fold-pairs claim. The rotation alone is
                # a shingle-preserving bijection (within-replica pairs
                # survive exactly) and prevents cross-replica matches;
                # exact-dup collapse is avoided by the shifted doc_id.
                # Replicas 1..25 use the 25 distinct non-identity
                # rotations (r16 fixture, unchanged so earlier
                # exponents stay comparable); replicas >= 26 extend
                # the bijection keyspace with SEEDED alphabet
                # permutations (26! >> 25). The claims carry over
                # verbatim: any alphabet bijection preserves shingle
                # equality within a replica (pairs survive exactly),
                # and a cross-replica shingle match still requires
                # the corpus to contain a shingle equal to some other
                # shingle under the composed bijection P_j^-1 . P_i —
                # the same no-match argument the rotations relied on.
                # Permutations are checked distinct from identity,
                # every rotation, and each other.
                c = c.withColumn(
                    "text",
                    F.translate(
                        "text",
                        string.ascii_lowercase + string.ascii_uppercase,
                        _constpair_bijection(i),
                    ),
                )
            elif i > 0:
                # distinct suffix so replicas are near-dups at most, not
                # exact dups — keeps dedup candidate structure realistic
                c = c.withColumn(
                    "text", F.concat(F.col("text"), F.lit(f" replica{i}"))
                )
            copies.append(c)
        rep = copies[0]
        for c in copies[1:]:
            rep = rep.unionAll(c)
        rep.write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")

    if _want("embeddings"):
        emb = load_table(spark, BASE, "embeddings")
        n_emb = emb.count()
        copies = []
        for i in range(k):
            c = emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * n_emb))
            if i > 0:
                # deterministic per-replica rotation of the vector (shift
                # by i positions) — same norm, different direction
                shift = ((i - 1) % 63) + 1  # == i for i<=63, never 0
                c = c.withColumn(
                    "embedding",
                    F.expr(
                        f"concat(slice(embedding, 64 - {shift} + 1, {shift}), "
                        f"slice(embedding, 1, 64 - {shift}))"
                    ),
                )
            copies.append(c)
        rep = copies[0]
        for c in copies[1:]:
            rep = rep.unionAll(c)
        rep.write.mode("overwrite").parquet(f"{out_dir}/embeddings.parquet")

    if _want("events"):
        ev = load_table(spark, BASE, "events")
        n_users = 1_000_000_000
        copies = []
        for i in range(k):
            copies.append(
                ev.withColumn("user_id", F.col("user_id") + F.lit(i * n_users))
                .withColumn("event_id", F.col("event_id") + F.lit(i * n_users))
            )
        rep = copies[0]
        for c in copies[1:]:
            rep = rep.unionAll(c)
        rep.write.mode("overwrite").parquet(f"{out_dir}/events.parquet")

    # TPC-H shapes: FACT tables replicate with consistently shifted
    # join keys (order/customer keys move together so joins stay
    # intact); DIMENSION tables copy verbatim once — at a real 100 TB
    # the facts grow and the dims don't, so this is the realistic
    # stress: per-part/per-supplier group sizes grow k-fold.
    shift = 1_000_000_000
    if _want("orders"):
        orders = load_table(spark, BASE, "orders")
        rep = orders
        for i in range(1, k):
            rep = rep.unionAll(
                orders.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(i * shift))
                .withColumn("o_custkey", F.col("o_custkey") + F.lit(i * shift))
            )
        rep.write.mode("overwrite").parquet(f"{out_dir}/orders.parquet")

    if _want("lineitem"):
        li = load_table(spark, BASE, "lineitem")
        rep = li
        for i in range(1, k):
            rep = rep.unionAll(
                li.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(i * shift))
            )
        rep.write.mode("overwrite").parquet(f"{out_dir}/lineitem.parquet")

    if _want("customer"):
        cust = load_table(spark, BASE, "customer")
        rep = cust
        for i in range(1, k):
            rep = rep.unionAll(
                cust.withColumn("c_custkey", F.col("c_custkey") + F.lit(i * shift))
            )
        rep.write.mode("overwrite").parquet(f"{out_dir}/customer.parquet")

    for dim in ("part", "supplier", "nation", "region"):
        if _want(dim):
            load_table(spark, BASE, dim).write.mode("overwrite").parquet(
                f"{out_dir}/{dim}.parquet"
            )


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    out_dir = f"/tmp/uba_scale_{k}x"
    if FIXTURE != "neardup":
        out_dir += f"_{FIXTURE}"

    from datafusion_uba_spark.queries import queries
    from datafusion_uba_spark.session import get_spark

    spark = get_spark(app_name="uba-scale-check")
    _replicate(spark, k, out_dir)

    reg = queries()
    import math

    def timed(fn, sf_dir: str) -> float:
        # best-of-3: the shared host shows multi-second contention
        # spikes (see bench.py BENCH_REPEAT) and the FIRST rep of each
        # plan additionally pays janino codegen — with only two reps a
        # noise spike on rep 2 leaves no clean measurement (observed: a
        # 2.6 s query reading 14 s cold / 3.1 s mid / 2.6 s clean)
        best = None
        for _ in range(3):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        return best

    # embedding_neardup/ann_topk_ivf size their own geometry from a
    # corpus count() (auto_n_planes/auto_n_cells) — the harness runs
    # the registry defaults and the exponent verifies the auto-sizing
    # holds occupancy (no manual plane override, round-4 contract)
    out = {}
    for name in HEAVY:
        fn = reg[name]
        t1 = timed(fn, BASE)
        tk = timed(fn, out_dir)
        out[name] = {
            "t1": round(t1, 3),
            "tk": round(tk, 3),
            "exponent": round(math.log(max(tk, 1e-9) / max(t1, 1e-9))
                              / math.log(k), 3),
        }
        print(f"# {name}: {t1:.2f}s -> {tk:.2f}s at {k}x "
              f"(exponent {out[name]['exponent']})", file=sys.stderr)

    print(json.dumps({"k": k, "fixture": FIXTURE, "queries": out}))
    spark.stop()


if __name__ == "__main__":
    main()
