"""Property-based pins: operators vs tiny pure-Python reference
implementations on adversarial generated micro-data, plus A/B
equalities the optimized plans claim.

Hypothesis generates the inputs (including the exact boundary values
random parquet never hits); the Python models are deliberately naive —
a dozen lines each — so they can't share a bug with the Spark plans.
Examples are kept small and few: each example round-trips through a
live SparkSession.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from datafusion_uba_spark.operators import dedup
from datafusion_uba_spark.streaming import sessionize

GAP_US = 30 * 60 * 1_000_000
_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


# --- sessionize vs gaps-and-islands model ----------------------------------


def _sessions_model(times_us: list[int], gap_us: int = GAP_US):
    """Naive single-user session model: sort, split when delta > gap
    (the closed-boundary rule pinned by test_session_gap_boundary)."""
    out = []
    for t in sorted(times_us):
        if out and t - out[-1][-1] <= gap_us:
            out[-1].append(t)
        else:
            out.append([t])
    return {(s[0], s[-1] - s[0], len(s)) for s in out}


# timestamps inside one day, with offsets biased to land ON the gap
# boundary (plain integers almost never would)
_ts = st.lists(
    st.one_of(
        st.integers(min_value=0, max_value=4 * GAP_US),
        st.builds(
            lambda k, d: k * GAP_US + d,
            st.integers(min_value=0, max_value=3),
            st.sampled_from([-1, 0, 1]),
        ),
    ),
    min_size=1,
    max_size=12,
)


@given(times=_ts)
@settings(**_SETTINGS)
def test_sessionize_matches_model(spark, times):
    base = 1_700_000_000_000_000
    rows = [(1, base + t) for t in times]
    ev = spark.createDataFrame(rows, "user_id long, us long").selectExpr(
        "user_id", "timestamp_micros(us) AS ts"
    )
    got = {
        (r.session_start_us - base, r.duration_us, r.n_events)
        for r in sessionize(ev, gap="30 minutes").collect()
    }
    assert got == _sessions_model(times)


# --- n-gram Jaccard vs set model + prefix-filter A/B -----------------------


def _jaccard_model(docs: dict[int, str], n: int, tau_bp: int):
    def sh(text):
        toks = text.lower().split()
        return {
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        }
    out = set()
    ids = sorted(docs)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            sa, sb = sh(docs[a]), sh(docs[b])
            if not sa or not sb:
                continue
            inter = len(sa & sb)
            bp = (inter * 10000) // (len(sa) + len(sb) - inter)
            if bp >= tau_bp:
                out.add((a, b, inter, bp))
    return out


# small vocabulary so overlapping shingles actually occur
_doc = st.lists(
    st.sampled_from("alpha beta gamma delta epsilon zeta".split()),
    min_size=0,
    max_size=10,
).map(" ".join)


@given(texts=st.lists(_doc, min_size=2, max_size=6))
@settings(**_SETTINGS)
def test_ngram_jaccard_matches_model(spark, texts):
    docs = {i: t for i, t in enumerate(texts)}
    df = spark.createDataFrame(
        list(docs.items()), "doc_id long, text string"
    )
    got = {
        (r.doc_a, r.doc_b, r.common_shingles, r.jaccard_bp)
        for r in dedup.ngram_jaccard_pairs(df, n=2, threshold=0.5).collect()
    }
    assert got == _jaccard_model(docs, n=2, tau_bp=5000)


def test_prefix_filter_is_exact(spark, sf_dir):
    """The PPJoin prefix index claims IDENTICAL output to the full
    inverted index — pin the A/B equality on the real documents table."""
    from datafusion_uba_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    on = {
        tuple(r)
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.8, prefix_filter=True
        ).collect()
    }
    off = {
        tuple(r)
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.8, prefix_filter=False
        ).collect()
    }
    assert on == off and len(on) > 0

    # with max_df set the cutoff + prefix ordering share ONE document-
    # frequency aggregate (round-6 verdict: the old plan ran the
    # groupBy('__s') twice), and prefix on/off must still agree: a high
    # max_df drops no posting on this corpus, so output is unchanged
    on_cut = dedup.ngram_jaccard_pairs(
        docs, threshold=0.8, max_df=10_000, prefix_filter=True
    )
    plan = on_cut._jdf.queryExecution().optimizedPlan().toString()
    # r18 (hashed pipeline): the document-frequency frame is pinned
    # (lazy localCheckpoint) before the injectivity proof, so the ONE
    # physical freq aggregate lives behind the pin — each join side
    # references the pinned (__s, __df) relation and NO unpinned
    # freq aggregate remains in the logical plan. This is the round-6
    # single-aggregate guarantee in its stronger form (the aggregate
    # runs once per corpus, not once per consumer; pre-r18 the pin
    # counted the shared logical aggregate once per join side).
    import re

    n_freq_aggs = plan.count("Aggregate [__s")
    n_pinned_freq = len(re.findall(r"LogicalRDD \[__s#", plan))
    assert n_freq_aggs == 0 and n_pinned_freq == 2, (
        f"expected the freq aggregate pinned (0 unpinned aggs, 2 pinned "
        f"(__s, __df) relations), got {n_freq_aggs} aggs / "
        f"{n_pinned_freq} pinned: \n{plan[:2000]}"
    )
    assert {tuple(r) for r in on_cut.collect()} == on
    off_cut = {
        tuple(r)
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.8, max_df=10_000, prefix_filter=False
        ).collect()
    }
    assert off_cut == on


# --- degenerate-text robustness --------------------------------------------


def test_text_ops_degenerate_inputs(spark):
    """null / empty / whitespace-only / unicode text flow through every
    text+dedup operator without errors, and a NULL text gets NULL
    features and a NULL quality score (least/greatest skip nulls, so an
    unguarded clamp scored null text a perfect 1.0 — regression pin)."""
    from datafusion_uba_spark.operators import text as text_ops

    rows = [
        (1, None),
        (2, ""),
        (3, "   "),
        (4, "héllo wörld héllo wörld héllo"),
        (5, "a b c a b c a b"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    stats = {r.doc_id: r for r in text_ops.text_stats(df).collect()}
    assert stats[1].quality_u is None and stats[1].n_tokens is None
    assert stats[2].quality_u == 0 and stats[3].quality_u == 0
    assert stats[4].n_tokens == 5
    # dedup families: no rows from degenerate docs, no exceptions
    assert dedup.ngram_jaccard_pairs(df, n=2, threshold=0.3).count() == 0
    assert dedup.simhash_pairs(df, n=2).count() == 0
    assert dedup.minhash_lsh_pairs(df, n=2, threshold=0.3).count() == 0
    exact = {r.doc_id: r.is_dup for r in dedup.exact_dedup(df).collect()}
    assert exact[3] == 1  # "   " normalizes to "" == doc 2's content


# --- any-anchor funnel vs per-anchor backtracking model ---------------------

_DAY_US = 86_400 * 1_000_000


def _funnel_any_model(evs: list[tuple[int, int]], n_steps: int, window: int):
    """Naive any-anchor funnel: try EVERY step-1 event as an anchor and
    chain greedily (earliest valid event per step — optimal for a fixed
    anchor since earlier choices only widen later options). Exponential
    in spirit, a dozen lines, shares nothing with the running-max
    recurrence the operator and its oracle use."""
    S = [sorted(t for t, s in evs if s == i) for i in range(n_steps)]
    conv = [False] * n_steps
    if S[0]:
        conv[0] = True
    for a in S[0]:
        t_prev = a
        for i in range(1, n_steps):
            nxt = min((t for t in S[i] if t >= t_prev), default=None)
            if nxt is None or nxt > a + window:
                break
            conv[i] = True
            t_prev = nxt
    return conv


# times biased to land ON day-window boundaries and collide exactly
_fun_ev = st.lists(
    st.tuples(
        st.one_of(
            st.integers(min_value=0, max_value=3 * _DAY_US),
            st.builds(
                lambda k, d: k * _DAY_US + d,
                st.integers(min_value=0, max_value=3),
                st.sampled_from([-1, 0, 1]),
            ),
        ),
        st.integers(min_value=0, max_value=2),
    ),
    min_size=1,
    max_size=14,
)


@given(evs=_fun_ev)
@settings(**_SETTINGS)
def test_funnel_any_anchor_matches_model(spark, evs):
    """The maximal-anchor running-max recurrence
    (funnel_steps_any_anchor) vs the definitionally-obvious per-anchor
    backtracking model. The DuckDB oracle replays the SAME recurrence,
    so this independent model is what actually proves the recurrence
    correct — including same-instant chains and exact window-boundary
    anchors the generator is biased to produce."""
    from pyspark.sql import functions as F

    from datafusion_uba_spark.operators.funnel import funnel_steps_any_anchor

    rows = [(1, t, f"s{i}") for t, i in evs]
    ev = spark.createDataFrame(
        rows, "user_id long, us long, etype string"
    ).selectExpr("user_id", "timestamp_micros(us) AS ts", "etype")
    steps = [(f"s{i}", F.col("etype") == f"s{i}") for i in range(3)]
    got = {
        r.step: r.users
        for r in funnel_steps_any_anchor(
            ev, steps, conversion_window_days=1
        ).collect()
    }
    want = _funnel_any_model(evs, 3, _DAY_US)
    assert got == {i + 1: int(want[i]) for i in range(3)}


# --- sequence packing vs pure-python model ---------------------------------


@given(
    ns=st.lists(st.integers(0, 40), min_size=1, max_size=12),
    cap=st.sampled_from([4, 16]),
    shards=st.sampled_from([1, 3]),
)
@settings(**_SETTINGS)
def test_pack_token_stream_matches_model(spark, ns, cap, shards):
    """pack_token_stream equals a sequential per-shard packing model
    for arbitrary token counts: same md5 shard assignment, contiguous
    offsets in id order, floor-division window spans, zero-token docs
    dropped."""
    import hashlib

    from datafusion_uba_spark.operators.packing import pack_token_stream

    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(ns)], "doc_id long, n long"
    )
    out = pack_token_stream(df, capacity=cap, n_shards=shards, tokens_col="n")
    model = {}
    cursor: dict[int, int] = {}
    for i, n in enumerate(ns):
        if n < 1:
            continue
        sh = int(hashlib.md5(str(i).encode()).hexdigest()[:4], 16) % shards
        off = cursor.get(sh, 0)
        model[i] = (sh, n, off, off // cap, (off + n - 1) // cap)
        cursor[sh] = off + n
    got = {
        r.doc_id: (
            r.shard,
            r.n_tokens,
            r.start_offset,
            r.first_window,
            r.last_window,
        )
        for r in out.collect()
    }
    assert got == model


# --- z-order layout: cross-engine arithmetic pins --------------------------
#
# The zorder_keys oracle claims two engine-exact equivalences: the
# Morton interleave expression (generated SQL == the Spark column ==
# a naive bit loop) and the bucket shift (python bit_length ==
# DuckDB length(bin(range))). Both are pinned here against DuckDB
# directly — no Spark in the loop, so hypothesis can afford many
# examples including the power-of-two boundaries float log2 would get
# wrong.


def _morton_model(x: int, y: int, bits: int) -> int:
    z = 0
    for b in range(bits):
        z |= ((x >> b) & 1) << (2 * b)
        z |= ((y >> b) & 1) << (2 * b + 1)
    return z


@given(
    st.lists(
        st.tuples(st.integers(0, 255), st.integers(0, 255)),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=50, deadline=None)
def test_zorder_sql_matches_morton_model(pairs):
    import duckdb

    from datafusion_uba_spark.operators.layout import zorder_key_sql

    expr = zorder_key_sql(["x", "y"], bits=8)
    vals = ", ".join(f"({x}, {y})" for x, y in pairs)
    got = [
        r[0]
        for r in duckdb.sql(
            f"SELECT {expr} FROM (VALUES {vals}) v(x, y)"
        ).fetchall()
    ]
    assert got == [_morton_model(x, y, 8) for x, y in pairs]
    # bijectivity on the full 8-bit grid comes free from exactness:
    # the model is trivially injective per (x, y)


@given(st.integers(0, 2**40), st.integers(0, 2**20), st.integers(1, 16))
@settings(max_examples=80, deadline=None)
def test_bucket_shift_matches_duckdb_bin_length(lo, span, bits):
    import duckdb

    from datafusion_uba_spark.operators.layout import bucket_shift

    hi = lo + span
    s_py = bucket_shift(lo, hi, bits)
    s_sql = duckdb.sql(
        f"SELECT greatest(0, length(bin({hi} - {lo})) - {bits})"
    ).fetchone()[0]
    assert s_py == s_sql, (lo, hi, bits)
    assert (hi - lo) >> s_py < (1 << bits)


# --- rolling-distinct engagement vs set models ------------------------------

_activity = st.lists(
    st.tuples(st.integers(0, 4), st.integers(0, 13)),  # (user, day)
    min_size=1,
    max_size=40,
)


@given(pairs=_activity)
@settings(**_SETTINGS)
def test_stickiness_matches_model(spark, pairs):
    """stickiness_wau (explode-to-anchor-days rolling distinct) vs the
    naive per-day set model — generated activity includes gapped days,
    single-day users, and duplicate rows."""
    from datafusion_uba_spark.operators.engagement import stickiness_wau

    df = spark.createDataFrame(
        [(u, d) for u, d in pairs], "user_id long, di long"
    )
    got = {
        (r.di, r.dau, r.wau, r.stickiness_pm)
        for r in stickiness_wau(df).collect()
    }
    act = set(pairs)
    days = sorted({d for _, d in act})
    want = set()
    for d in days:
        dau = len({u for u, dd in act if dd == d})
        wau = len({u for u, dd in act if d - 6 <= dd <= d})
        want.add((d, dau, wau, dau * 1000 // wau))
    assert got == want


@given(pairs=st.lists(
    st.tuples(st.integers(0, 4), st.integers(0, 5)),  # (user, week)
    min_size=1,
    max_size=30,
))
@settings(**_SETTINGS)
def test_weekly_churn_matches_model(spark, pairs):
    """weekly_churn (shifted left-anti self-join) vs the naive
    week-set model; only weeks with a successor week are reported."""
    from datafusion_uba_spark.operators.engagement import weekly_churn

    df = spark.createDataFrame(
        [(u, w) for u, w in pairs], "user_id long, wk long"
    )
    got = {
        (r.wk, r.n_active, r.n_churned)
        for r in weekly_churn(df).collect()
    }
    act = set(pairs)
    weeks = {w for _, w in act}
    want = set()
    for w in sorted(weeks):
        if w + 1 not in weeks:
            continue
        active = {u for u, ww in act if ww == w}
        nxt = {u for u, ww in act if ww == w + 1}
        want.add((w, len(active), len(active - nxt)))
    assert got == want


@given(pairs=st.lists(
    st.tuples(st.integers(0, 4), st.integers(0, 5)),  # (user, week)
    min_size=1,
    max_size=30,
))
@settings(**_SETTINGS)
def test_growth_accounting_matches_model(spark, pairs):
    """growth_accounting (lag-classified new/retained/resurrected +
    shifted-anti-join churn) vs the naive per-user week-set model.
    Every active user is exactly one of the three classes; churn for
    week w counts users active in w-1 but not w; only active weeks
    are reported."""
    from datafusion_uba_spark.operators.engagement import growth_accounting

    df = spark.createDataFrame(
        [(u, w) for u, w in pairs], "user_id long, wk long"
    )
    got = {
        (r.wk, r.n_new, r.n_retained, r.n_resurrected, r.n_churned,
         r.quick_ratio_pm)
        for r in growth_accounting(df).collect()
    }
    act = set(pairs)
    weeks = {w for _, w in act}
    user_weeks = {}
    for u, w in act:
        user_weeks.setdefault(u, set()).add(w)
    want = set()
    for w in sorted(weeks):
        new = retained = resurrected = 0
        for u, ws in user_weeks.items():
            if w not in ws:
                continue
            if min(ws) == w:
                new += 1
            elif w - 1 in ws:
                retained += 1
            else:
                resurrected += 1
        churned = sum(
            1 for u, ws in user_weeks.items()
            if w - 1 in ws and w not in ws
        )
        qr = (new + resurrected) * 1000 // churned if churned else None
        want.add((w, new, retained, resurrected, churned, qr))
    assert got == want


# --- rollup cascade vs direct-aggregation model -----------------------------


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 3 * 7 * 86400),  # epoch seconds across 3 weeks
            st.sampled_from(["a", "b"]),
            st.integers(-500, 500),  # cents
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(**_SETTINGS)
def test_rollup_cascade_matches_model(spark, rows):
    """Every tier of the cascade equals the tier computed DIRECTLY
    from raw rows (losslessness of additive rollup) — on generated
    events that land exactly on bucket boundaries, negative values,
    and single-row tiers."""
    from datafusion_uba_spark.operators.rollup import (
        TIER_SECONDS,
        rollup_cascade,
    )

    df = spark.createDataFrame(
        [(s * 1_000_000, k, c / 100.0) for s, k, c in rows],
        "us long, event_type string, value double",
    ).selectExpr(
        "timestamp_micros(us) AS ts", "event_type", "value"
    )
    got = {
        (r.tier, r.bucket_start_us, r.key, r.n_events, r.value_cents)
        for r in rollup_cascade(df).collect()
    }
    want = set()
    for tier, sec in TIER_SECONDS.items():
        agg: dict = {}
        for s, k, c in rows:
            b = (s // sec) * sec * 1_000_000
            n, v = agg.get((b, k), (0, 0))
            agg[(b, k)] = (n + 1, v + c)
        for (b, k), (n, v) in agg.items():
            want.add((tier, b, k, n, v))
    assert got == want


# --- gapfill vs pure-Python fill model -------------------------------------

_gf_obs_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9),   # bucket index (x100)
        st.sampled_from(["a", "b"]),
        st.integers(min_value=-50, max_value=50),
    ),
    min_size=1,
    max_size=12,
    unique_by=lambda t: (t[0], t[1]),
)


def _gapfill_model(obs, start, end, step, fill):
    """Naive per-key fill over the dense grid."""
    by_key = {}
    for b, k, v in obs:
        by_key.setdefault(k, {})[b * step] = v
    out = {}
    for k, vals in by_key.items():
        for b in range(start, end, step):
            if b in vals:
                out[(k, b)] = vals[b]
            elif fill == "zero":
                out[(k, b)] = 0
            elif fill == "null":
                out[(k, b)] = None
            elif fill == "locf":
                prior = [t for t in vals if t <= b]
                out[(k, b)] = vals[max(prior)] if prior else None
            elif fill == "linear":
                prior = [t for t in vals if t <= b]
                nxt = [t for t in vals if t > b]
                if prior and nxt:
                    pb, nb = max(prior), min(nxt)
                    pv, nv = vals[pb], vals[nb]
                    # truncating division, matching Spark DIV
                    num = (nv - pv) * 1_000_000 * (b - pb)
                    q = num // (nb - pb)
                    if num % (nb - pb) != 0 and (num < 0):
                        q += 1  # Python floors; DIV truncates toward 0
                    out[(k, b)] = pv * 1_000_000 + q
                else:
                    out[(k, b)] = None
    # linear mode scales observed values to micro-units too
    if fill == "linear":
        for key, val in list(out.items()):
            k, b = key
            if b in by_key[k] and val is not None:
                out[key] = by_key[k][b] * 1_000_000
    return out


@given(obs=_gf_obs_strategy, fill=st.sampled_from(["null", "zero", "locf", "linear"]))
@settings(**_SETTINGS)
def test_gapfill_matches_model(spark, obs, fill):
    from datafusion_uba_spark.operators.rollup import gapfill

    df = spark.createDataFrame(
        [(b * 100, k, v) for b, k, v in obs],
        "bucket_s long, key string, value long",
    )
    got = {
        (r["key"], r["bucket_s"]): r[2]
        for r in gapfill(df, 0, 1000, 100, fill=fill).collect()
    }
    want = _gapfill_model(obs, 0, 1000, 100, fill)
    assert got == want


# --- scd2_apply vs dict fold model -----------------------------------------

_scd_current = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=5),      # key
        st.sampled_from(["a", "b", "c"]),           # attr
    ),
    min_size=0,
    max_size=5,
    unique_by=lambda t: t[0],
)
_scd_changes = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=7),
        st.sampled_from(["a", "b", "c", "d"]),
        st.integers(min_value=100, max_value=103),  # effective
    ),
    min_size=0,
    max_size=8,
)


def _scd2_model(current, changes):
    """Naive fold: latest change per key (ties -> smallest attr), then
    classify against the open rows."""
    latest = {}
    for k, a, eff in changes:
        cur = latest.get(k)
        if cur is None or eff > cur[1] or (eff == cur[1] and a < cur[0]):
            latest[k] = (a, eff)
    rows = set()
    open_keys = {}
    for k, a in current:
        open_keys[k] = a
    for k, a in current:
        ch = latest.get(k)
        if ch is None or ch[0] == a:
            rows.add((k, a, 0, None))
        else:
            rows.add((k, a, 0, ch[1]))
            rows.add((k, ch[0], ch[1], None))
    for k, (a, eff) in latest.items():
        if k not in open_keys:
            rows.add((k, a, eff, None))
    return rows


@given(current=_scd_current, changes=_scd_changes)
@settings(**_SETTINGS)
def test_scd2_matches_model(spark, current, changes):
    from datafusion_uba_spark.operators import scd

    cur_df = spark.createDataFrame(
        [(k, a, 0, None) for k, a in current],
        "k long, seg string, valid_from long, valid_to long",
    )
    chg_df = spark.createDataFrame(
        changes, "k long, seg string, effective_s long"
    )
    got = {
        (r["k"], r["seg"], r["valid_from"], r["valid_to"])
        for r in scd.scd2_apply(cur_df, chg_df, ["k"], ["seg"]).collect()
    }
    assert got == _scd2_model(current, changes)


# --- Kaplan-Meier vs a naive Python model -----------------------------------

_life = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=12),   # duration
        st.integers(min_value=0, max_value=1),    # observed
    ),
    min_size=1,
    max_size=25,
)


def _km_model(subjects):
    """Naive integer KM replay: ordered event times, truncating ppm
    recurrence, remaining-at-risk bookkeeping."""
    from collections import Counter

    d = Counter()
    c = Counter()
    for dur, obs in subjects:
        (d if obs else c)[dur] += 1
    rem = len(subjects)
    s = 10**6
    rows = {}
    for t in sorted(set(d) | set(c)):
        s = (s * (rem - d[t])) // rem
        rows[t] = (rem, d[t], c[t], s)
        rem -= d[t] + c[t]
    return rows


@given(subjects=_life)
@settings(**_SETTINGS)
def test_km_curve_matches_model(spark, subjects):
    from datafusion_uba_spark.operators.survival import km_curve

    life = spark.createDataFrame(
        subjects, "duration long, observed long"
    )
    got = {
        r["t"]: (
            r["n_risk"],
            r["n_events"],
            r["n_censored"],
            r["survival_ppm"],
        )
        for r in km_curve(life).collect()
    }
    assert got == _km_model(subjects)


# --- CDC apply vs a dict model -----------------------------------------------

_cdc = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=5),    # key
        st.integers(min_value=0, max_value=20),   # seq (ties possible)
        st.sampled_from(["U", "D"]),
        st.integers(min_value=0, max_value=99),   # payload
    ),
    min_size=1,
    max_size=30,
    unique_by=lambda r: (r[0], r[1]),  # (key, seq) unique = total order
)


def _cdc_model(rows, keep_tombstones):
    best = {}
    for k, seq, op, payload in rows:
        if k not in best or seq > best[k][0]:
            best[k] = (seq, op, payload)
    out = {}
    for k, (seq, op, payload) in best.items():
        if keep_tombstones or op != "D":
            out[k] = (seq, op, payload)
    return out


@given(rows=_cdc, keep=st.booleans())
@settings(**_SETTINGS)
def test_cdc_apply_matches_model(spark, rows, keep):
    from datafusion_uba_spark.operators.scd import cdc_apply

    log = spark.createDataFrame(
        rows, "k long, seq long, op string, payload long"
    )
    got = {
        r["k"]: (r["seq"], r["op"], r["payload"])
        for r in cdc_apply(
            log, ["k"], ["seq"], "op", keep_tombstones=keep
        ).collect()
    }
    assert got == _cdc_model(rows, keep)


# (key, seq) NOT unique: ties resolve by the deterministic content
# tiebreak (r11 advisor finding) — the winner is the max of
# (seq, op desc, payload desc) per key, independent of arrival order
_cdc_tied = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),    # key
        st.integers(min_value=0, max_value=3),    # seq (ties likely)
        st.sampled_from(["U", "D"]),
        st.integers(min_value=0, max_value=9),    # payload
    ),
    min_size=2,
    max_size=20,
    unique=True,  # identical full rows excluded (winner immaterial)
)


@given(rows=_cdc_tied)
@settings(**_SETTINGS)
def test_cdc_apply_tiebreak_is_content_deterministic(spark, rows):
    """With seq ties, the winner must be a pure function of row
    CONTENT: shuffling the input (reversed order, different
    partitioning) must give the identical snapshot, and it must equal
    the (seq, op, payload) lexicographic-max model."""
    from datafusion_uba_spark.operators.scd import cdc_apply

    def run(data, parts):
        log = spark.createDataFrame(
            data, "k long, seq long, op string, payload long"
        ).repartition(parts)
        return {
            r["k"]: (r["seq"], r["op"], r["payload"])
            for r in cdc_apply(
                log, ["k"], ["seq"], "op", keep_tombstones=True
            ).collect()
        }

    a = run(rows, 3)
    b = run(list(reversed(rows)), 7)
    assert a == b
    model = {}
    for k, seq, op, payload in rows:
        cur = model.get(k)
        cand = (seq, op, payload)
        if cur is None or cand > cur:
            model[k] = cand
    assert a == model


_mw_vals = st.lists(
    st.tuples(
        st.booleans(),                            # arm A?
        st.integers(min_value=0, max_value=5),    # cents (ties likely)
    ),
    min_size=2,
    max_size=25,
)


@given(vals=_mw_vals)
@settings(**_SETTINGS)
def test_mann_whitney_core_matches_model(spark, vals):
    """The doubled-midrank aggregation (the registry row's core,
    evaluated directly on a crafted (variant, cents) frame) must match
    a literal python midrank model: 2*R_A, 2*U_A, and the tie term."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("A" if a else "B", c) for a, c in vals],
        "variant string, cents long",
    )
    g = df.groupBy("cents").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n_at"),
        F.sum(F.when(F.col("variant") == "A", 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("na_at"),
    )
    w = W.orderBy("cents").rowsBetween(W.unboundedPreceding, 0)
    r = g.select(
        "n_at", "na_at",
        (F.sum("n_at").over(w) - F.col("n_at")).alias("before_n"),
    )
    row = r.agg(
        F.sum(
            F.col("na_at")
            * (F.lit(2) * F.col("before_n") + F.col("n_at") + F.lit(1))
        ).alias("r2a"),
        F.sum(
            F.col("n_at") * F.col("n_at") * F.col("n_at") - F.col("n_at")
        ).alias("t"),
    ).collect()[0]
    # python midrank model on the raw values
    cents_sorted = sorted(c for _, c in vals)
    rank2 = {}
    for c in set(cents_sorted):
        lo = cents_sorted.index(c) + 1
        hi = lo + cents_sorted.count(c) - 1
        rank2[c] = lo + hi  # 2 * midrank
    want_r2a = sum(rank2[c] for a, c in vals if a)
    from collections import Counter

    tc = Counter(cents_sorted)
    want_t = sum(t**3 - t for t in tc.values())
    assert int(row["r2a"] or 0) == want_r2a
    assert int(row["t"]) == want_t


# --- DuckDB BPE-walk CTE vs operators/bpe.encode_word ----------------------
#
# The registry rows anchored on merge-table BPE counts are full value
# oracles only because the DuckDB recursive CTE replays the EXACT
# greedy walk. The r13 advisor fuzz-verified this ad hoc over 100
# random docs; this checks the equivalence in permanently, including
# the 'aaa' + (a,a) overlap corner (leftmost-non-overlapping within a
# pass on both sides).


def _bpe_python_doc_tokens(text: str) -> int:
    import re

    from datafusion_uba_spark.operators.bpe import encode_word, load_merges
    from datafusion_uba_spark.operators.text import BPE_TOKEN_RE

    ranks = {p: i for i, p in enumerate(load_merges())}
    norm = re.sub(r"\s+", " ", text.lower()).strip()
    return sum(
        len(encode_word(w, ranks)) for w in re.findall(BPE_TOKEN_RE, norm)
    )


_bpe_word = st.text(
    alphabet=st.sampled_from("abcdefghijklmnopqrstuvwxyz0123456789.!eth"),
    min_size=0,
    max_size=10,
)
_bpe_doc = st.lists(_bpe_word, min_size=0, max_size=6).map(" ".join)


@settings(max_examples=25, deadline=None)
@given(st.lists(_bpe_doc, min_size=1, max_size=4))
def test_bpe_walk_cte_matches_encode_word(docs):
    import duckdb
    import pandas as pd

    from datafusion_uba_spark.queries_llm import _BPE_WALK_CTES

    docs = docs + ["aaa", "the the table", ""]  # pinned corners
    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame(
            {"doc_id": range(len(docs)), "text": docs}
        ),
    )
    got = dict(
        con.sql(
            f"WITH RECURSIVE {_BPE_WALK_CTES} "
            "SELECT doc_id, n FROM bpe_doc_tokens"
        ).fetchall()
    )
    want = {i: _bpe_python_doc_tokens(t) for i, t in enumerate(docs)}
    assert got == want


# --- bitset prescreen under collision saturation ----------------------------
#
# At the production 2^26 bits, slot collisions are a ~1e-5 sliver that
# random small fixtures never exercise. Shrinking the bitmap to 8
# slots makes nearly EVERY probe a false maybe, so the confirm join's
# exactness (and the clear-bit proof) carries the whole answer — the
# prescreen must still equal plain dedup_against bit-for-bit.


@settings(**_SETTINGS)
@given(
    st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=6),
        min_size=1,
        max_size=8,
    ),
    st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=6),
        min_size=1,
        max_size=8,
    ),
)
def test_prescreen_exact_under_collision_saturation(spark, inc_texts, cor_texts):
    inc = spark.createDataFrame(
        [(i, t) for i, t in enumerate(inc_texts)],
        "doc_id long, text string",
    )
    cor = spark.createDataFrame(
        [(1000 + i, t) for i, t in enumerate(cor_texts)],
        "doc_id long, text string",
    )
    want = {
        (r["doc_id"], r["fingerprint"])
        for r in dedup.dedup_against(inc, cor).collect()
    }
    got = {
        (r["doc_id"], r["fingerprint"])
        for r in dedup.dedup_against_prescreened(
            inc, cor, bits_log2=3
        ).collect()
    }
    assert got == want


# --- avro_py container codec (r16) -------------------------------------------

_avro_row = st.tuples(
    st.booleans(),
    st.integers(min_value=-(2**31), max_value=2**31 - 1),
    st.integers(min_value=-(2**63), max_value=2**63 - 1),
    st.floats(allow_nan=False, width=64),
    st.binary(max_size=40),
    st.text(max_size=40),
    st.one_of(st.none(), st.integers(min_value=-(2**63), max_value=2**63 - 1)),
)

_AVRO_SCHEMA = {
    "type": "record",
    "name": "row",
    "fields": [
        {"name": "b", "type": "boolean"},
        {"name": "i", "type": "int"},
        {"name": "l", "type": "long"},
        {"name": "d", "type": "double"},
        {"name": "by", "type": "bytes"},
        {"name": "s", "type": "string"},
        {"name": "opt", "type": ["null", "long"]},
    ],
}


@settings(max_examples=60, deadline=None)
@given(
    rows=st.lists(_avro_row, max_size=30),
    codec=st.sampled_from(["null", "deflate"]),
    block_rows=st.integers(min_value=1, max_value=7),
)
def test_avro_container_roundtrip_property(rows, codec, block_rows):
    """Any row set, any block split, either codec: decode(encode(x))
    must reproduce x exactly — doubles bit-for-bit (IEEE LE), unicode
    strings byte-for-byte, None through the [null, long] union."""
    from datafusion_uba_spark.sources.avro_py import (
        decode_container,
        encode_container,
    )

    data = encode_container(
        rows, _AVRO_SCHEMA, codec=codec, block_rows=block_rows
    )
    schema, got = decode_container(data)
    assert schema == _AVRO_SCHEMA
    assert got == rows


# reader over _AVRO_SCHEMA exercising every promotion the flat subset
# supports plus reorder/add/drop (b is dropped; by->string is pinned
# separately on valid-UTF-8 bytes since arbitrary binary need not
# decode)
_AVRO_READER_PROMOTED = {
    "type": "record",
    "name": "row",
    "fields": [
        {"name": "l", "type": "double"},              # long -> double
        {"name": "i", "type": "long"},                # int -> long
        {"name": "d", "type": "double"},              # identity
        {"name": "s", "type": "bytes"},               # string -> bytes
        {"name": "opt", "type": ["null", "double"]},  # nullable promote
        {"name": "lang", "type": "string", "default": "en"},  # added
    ],
}


@settings(max_examples=60, deadline=None)
@given(
    rows=st.lists(_avro_row, max_size=30),
    codec=st.sampled_from(["null", "deflate"]),
    block_rows=st.integers(min_value=1, max_value=7),
)
def test_avro_reader_promotion_property(rows, codec, block_rows):
    """Schema resolution under the spec's promotion lattice: any row
    set decoded under a promoted+reordered+extended reader must equal
    the hand-computed projection (int->long identity, long->double via
    IEEE nearest, string->utf8 bytes, defaults filled)."""
    from datafusion_uba_spark.sources.avro_py import (
        decode_container,
        encode_container,
    )

    data = encode_container(
        rows, _AVRO_SCHEMA, codec=codec, block_rows=block_rows
    )
    schema, got = decode_container(
        data, reader_schema=_AVRO_READER_PROMOTED
    )
    assert schema == _AVRO_READER_PROMOTED
    want = [
        (
            float(l),
            i,
            d,
            s.encode("utf-8"),
            None if opt is None else float(opt),
            "en",
        )
        for (_b, i, l, d, _by, s, opt) in rows
    ]
    assert got == want
