"""Unit tests for the LLM-data-pipeline operators.

Covers what the DuckDB oracle can't: crafted golden fixtures (lang-id,
quality ordering, simhash behavior, multimodal decode plumbing) and the
approximate-vs-exact recall contracts (MinHash-LSH vs exact n-gram
Jaccard; hyperplane-LSH ANN vs brute-force top-k).
"""

import pytest
from pyspark.sql import functions as F

from datafusion_uba_spark.operators import dedup, multimodal, similarity
from datafusion_uba_spark.operators import text as text_ops
from datafusion_uba_spark.sources import load_table


# --- input spreading -------------------------------------------------------


def test_spread_skips_well_split_input(spark, tmp_path):
    """_spread is a local-fixture compensation for one-row-group parquet:
    it must add NO Exchange when the scan is already well-split (the
    100 TB case), and must still fan out a single-split input."""
    from datafusion_uba_spark.queries_llm import _spread

    n = spark.sparkContext.defaultParallelism
    many = str(tmp_path / "wellsplit")
    spark.range(20_000).repartition(n).write.parquet(many)
    well_split = spark.read.parquet(many)
    assert well_split.rdd.getNumPartitions() >= n // 2  # fixture sanity
    out = _spread(well_split, spark)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Repartition" not in plan and "RoundRobin" not in plan, plan

    one = str(tmp_path / "onesplit")
    spark.range(20_000).coalesce(1).write.parquet(one)
    under_split = spark.read.parquet(one)
    assert under_split.rdd.getNumPartitions() < n // 2  # fixture sanity
    out1 = _spread(under_split, spark)
    plan1 = out1._jdf.queryExecution().optimizedPlan().toString()
    assert "Repartition" in plan1, plan1
    assert out1.rdd.getNumPartitions() == n

    # explicit escape hatch wins over auto
    out2 = _spread(under_split, spark, n_partitions=4)
    assert out2.rdd.getNumPartitions() == 4


# --- text analysis ---------------------------------------------------------


def test_lang_id_crafted(spark):
    rows = [
        (1, "the cat sat on the mat and it is warm for now", "en"),
        (2, "el perro corre en la calle y es un dia bueno", "es"),
        (3, "der hund ist nicht mit der katze und das ist gut", "de"),
        (4, "le chat est dans la maison pour le moment", "fr"),
        (5, "中文 文本 处理", "zh"),
        (6, "zzz qqq xxx", "und"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, want string")
    got = df.select("want", text_ops.language_id("text").alias("pred")).collect()
    for r in got:
        assert r.pred == r.want, f"want {r.want} got {r.pred}"


def test_quality_ordering(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog and it runs far"),
        (2, "3141 592653 58979 323846 2643 38327 9502 8841 9716 939937"),
        (3, "!!! ??? ### $$$ %%% ^^^ &&& *** ((( )))"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    q = {
        r.doc_id: r.q
        for r in df.select(
            "doc_id", text_ops.quality_score("text").alias("q")
        ).collect()
    }
    assert q[1] > q[2] and q[1] > q[3]  # clean text beats both noise docs
    assert all(0 <= v <= 1_000_000 for v in q.values())


def test_tokens_and_shingles_edges(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "one two"), (4, "a b c d")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.t, r.s)
        for r in df.select(
            "doc_id",
            text_ops.tokens("text").alias("t"),
            text_ops.word_shingles("text", 3).alias("s"),
        ).collect()
    }
    assert got[1] == ([], []) and got[2] == ([], [])
    assert got[3] == (["one", "two"], [])
    assert got[4][1] == ["a b c", "b c d"]


# --- dedup -----------------------------------------------------------------


def test_exact_dedup_normalization(spark):
    df = spark.createDataFrame(
        [
            (10, "Hello  World"),
            (20, "hello world"),
            (30, "HELLO\tWORLD "),
            (40, "something else"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in dedup.exact_dedup(df).collect()}
    assert got[10].canonical_id == 10 and got[10].is_dup == 0
    assert got[20].canonical_id == 10 and got[20].is_dup == 1
    assert got[30].canonical_id == 10 and got[30].is_dup == 1
    assert got[40].canonical_id == 40 and got[40].is_dup == 0


def test_minhash_recall_vs_exact(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    exact = {
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    approx = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.8).collect()
    }
    assert exact, "corpus should contain planted near-dup pairs"
    # verification stage kills all false positives...
    assert approx <= exact
    # ...and at j>=0.8 with 16 bands of 4 the per-pair miss probability
    # is ~(1-j^4)^16 <= 2e-4; on this corpus we pin full recall.
    assert approx == exact


def test_ngram_jaccard_max_df_drops_hot_shingles(spark):
    # two docs identical except their (unique) tails; the shared head
    # shingle is in every doc, so max_df=2 keeps it and max_df=1 kills
    # every posting -> no pairs.
    df = spark.createDataFrame(
        [(1, "a b c x y z"), (2, "a b c q r s")],
        "doc_id long, text string",
    )
    assert dedup.ngram_jaccard_pairs(df, threshold=0.1).count() == 1
    assert (
        dedup.ngram_jaccard_pairs(df, threshold=0.1, max_df=1).count() == 0
    )


def test_neardup_components_crafted(spark):
    """Min-label propagation over a pair graph: a 4-hop PATH (worst
    case per diameter round), a separate 2-clique, and a shared-min
    triangle all resolve to min-id canonical labels; docs in no pair
    don't appear."""
    pairs = spark.createDataFrame(
        [
            (2, 3), (3, 4), (4, 5), (5, 6),  # path: all -> 2
            (10, 11),                         # clique: both -> 10
            (20, 21), (21, 22), (20, 22),     # triangle: all -> 20
        ],
        "doc_a long, doc_b long",
    )
    got = {
        (r.doc_id, r.canonical_id)
        for r in dedup.neardup_components(pairs).collect()
    }
    assert got == {
        (2, 2), (3, 2), (4, 2), (5, 2), (6, 2),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
    }
    # empty pair list is already at fixpoint
    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    assert dedup.neardup_components(empty).count() == 0
    # distributed path (local finish gated off): diameter larger than
    # max_iter raises instead of mislabeling
    with pytest.raises(RuntimeError, match="fixpoint"):
        dedup.neardup_components(pairs, max_iter=1, local_edge_limit=0)


def test_neardup_components_local_vs_distributed(spark):
    """The r18 size-gated local finish (union-find over the collected
    contracted edges) must be row-identical to the all-distributed
    star-contraction fixpoint, including on the shapes that stress
    min-label propagation (long path, shared-min triangle, isolated
    self-pair)."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(2, 34)]     # 32-hop path -> 2
        + [(50, 51), (51, 52), (50, 52)]       # triangle -> 50
        + [(70, 70)]                           # self-pair: own star
        + [(90, 95), (95, 91), (91, 99)],      # zigzag -> 90
        "doc_a long, doc_b long",
    )
    local = {
        (r.doc_id, r.canonical_id)
        for r in dedup.neardup_components(
            pairs, local_edge_limit=10_000_000
        ).collect()
    }
    distributed = {
        (r.doc_id, r.canonical_id)
        for r in dedup.neardup_components(
            pairs, local_edge_limit=0
        ).collect()
    }
    assert local == distributed
    assert (70, 70) in local

    # hybrid: an 8-clique holds 28 distinct edges but contracts to 7
    # star edges after one round — a gate of 10 forces round 1 to run
    # DISTRIBUTED (28 > 10) and the contracted survivors to finish
    # locally, exercising the fall-through
    clique = spark.createDataFrame(
        [(a, b) for a in range(1, 9) for b in range(a + 1, 9)],
        "doc_a long, doc_b long",
    )
    hybrid = {
        (r.doc_id, r.canonical_id)
        for r in dedup.neardup_components(
            clique, local_edge_limit=10
        ).collect()
    }
    assert hybrid == {(i, 1) for i in range(1, 9)}


def test_neardup_components_long_chain(spark):
    """r10 verdict #3: star-contraction converges in O(log^2 n) rounds
    regardless of diameter — a 64-hop path (which the old min-label
    propagation could not finish inside 20 rounds) resolves with the
    default max_iter."""
    n = 65
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    got = {
        (r.doc_id, r.canonical_id)
        for r in dedup.neardup_components(pairs).collect()
    }
    assert got == {(i, 0) for i in range(n)}


def test_neardup_components_vs_union_find(spark):
    """Seeded random graph vs a driver-side union-find model."""
    import random

    rng = random.Random(99)
    n = 200
    edges = sorted(
        {
            tuple(sorted(rng.sample(range(n), 2)))
            for _ in range(150)
        }
    )
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    touched = {v for e in edges for v in e}
    want = {(v, find(v)) for v in touched}
    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges], "doc_a long, doc_b long"
    )
    got = {
        (r.doc_id, r.canonical_id)
        for r in dedup.neardup_components(pairs).collect()
    }
    assert got == want


def test_simhash_hamming(spark):
    base = "the quick brown fox jumps over the lazy dog " * 3
    df = spark.createDataFrame(
        [
            (1, base),
            (2, base),  # identical -> hamming 0
            (3, base.replace("lazy", "sleepy")),  # near-dup -> small hamming
            (4, "completely different words about spark shuffles and joins"),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in dedup.simhash_pairs(df, max_hamming=3).collect()
    }
    assert pairs[(1, 2)] == 0
    assert all(h <= 3 for h in pairs.values())
    assert (1, 4) not in pairs and (2, 4) not in pairs


def test_stratified_sample_deterministic(spark):
    """The quota sampler's pick is the fixed (md5(id), id) permutation
    prefix per stratum — verified against a driver-side hashlib model —
    and re-running or appending NEW ids never reorders earlier picks'
    relative order (the no-seed reproducibility contract)."""
    import hashlib

    from datafusion_uba_spark.operators import sampling

    rows = [(i, "en" if i % 3 else "de") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")

    def model(ids, n):
        ordered = sorted(ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
        return ordered[:n]

    got = {
        (r.lang, r.doc_id, r.sample_rank)
        for r in sampling.stratified_sample(df, ["lang"], 5).collect()
    }
    want = set()
    for lang in ("en", "de"):
        ids = [i for i, l in rows if l == lang]
        for rank, i in enumerate(model(ids, 5), start=1):
            want.add((lang, i, rank))
    assert got == want
    # appending new ids can displace picks but not REORDER survivors
    df2 = spark.createDataFrame(
        rows + [(i, "en") for i in range(100, 130)], "doc_id long, lang string"
    )
    got2 = [
        (r.doc_id, r.sample_rank)
        for r in sampling.stratified_sample(df2, ["lang"], 5)
        .where("lang = 'en'")
        .orderBy("sample_rank")
        .collect()
    ]
    first = [d for d, _ in got2 if d < 100]
    base = [d for (l, d, _) in sorted(want, key=lambda t: t[2]) if l == "en"]
    assert first == [d for d in base if d in set(first)]


def test_chunk_documents_crafted(spark):
    """Window boundaries: exact-fit doc -> no empty tail chunk; short
    doc -> one chunk; overlap tokens appear in both neighbors; empty
    and null docs vanish."""
    from datafusion_uba_spark.operators.text import chunk_documents

    toks10 = " ".join(f"t{i}" for i in range(10))
    toks4 = " ".join(f"s{i}" for i in range(4))
    df = spark.createDataFrame(
        [(1, toks10), (2, toks4), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    rows = sorted(
        (r.doc_id, r.chunk_id, r.n_tokens, r.chunk_text)
        for r in chunk_documents(df, chunk_tokens=4, overlap=1).collect()
    )
    # doc1: stride 3, coverage ends at start 6 (covers t6..t9) — no
    # redundant 4th window; doc2 fits one window exactly
    assert rows == [
        (1, 0, 4, "t0 t1 t2 t3"),
        (1, 1, 4, "t3 t4 t5 t6"),
        (1, 2, 4, "t6 t7 t8 t9"),
        (2, 0, 4, "s0 s1 s2 s3"),
    ]
    # exact fit: 4 tokens, chunk 4, overlap 0 -> exactly one chunk
    one = chunk_documents(
        df.where("doc_id = 2"), chunk_tokens=4, overlap=0
    ).collect()
    assert len(one) == 1 and one[0].n_tokens == 4
    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, chunk_tokens=4, overlap=4)


def test_boilerplate_stats_crafted(spark):
    """A shared 8-token footer across two docs is counted as shared
    grams in both; a unique doc scores 0; short docs are excluded."""
    from datafusion_uba_spark.operators.text import boilerplate_stats

    footer = "this content is provided as is without any warranty"  # 9 toks
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta " + footer),
            (2, "epsilon zeta " + footer),
            (3, "one unique doc with eight tokens or more here now"),
            (4, "too short"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in boilerplate_stats(df).collect()}
    assert 4 not in rows  # < 8 tokens
    # the 9-token footer contributes 2 shared 8-grams to each doc
    assert rows[1].n_shared == 2 and rows[2].n_shared == 2
    assert rows[3].n_shared == 0 and rows[3].shared_bp == 0
    # doc1: 4+9=13 tokens -> 6 distinct 8-grams; doc2: 11 -> 4
    assert rows[1].n_grams == 6
    assert rows[2].n_grams == 4  # 11 tokens -> 4 grams
    assert rows[2].shared_bp == 5000  # 2/4


def test_redact_pii_crafted(spark):
    """Emails, URLs, and long digit runs are replaced with typed
    tokens; counts report the ORIGINAL text; clean text keeps
    non-PII content; null text stays null."""
    from datafusion_uba_spark.operators.text import redact_pii

    df = spark.createDataFrame(
        [
            (1, "contact bob.smith+x@corp.example.org for info"),
            (2, "see https://ex.com/a?id=9 and http://b.io/page"),
            (3, "call +1 (555) 123-4567 or 12345678 now"),
            (4, "year 2024 and room 101 stay untouched"),
            (5, None),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in redact_pii(df).collect()}
    assert rows[1].clean_text == "contact <EMAIL> for info"
    assert (rows[1].n_email, rows[1].n_url, rows[1].n_longnum) == (1, 0, 0)
    assert rows[2].clean_text == "see <URL> and <URL>"
    assert rows[2].n_url == 2
    assert rows[3].clean_text == "call <NUM> or <NUM> now"
    assert rows[3].n_longnum == 2
    assert rows[4].clean_text == "year 2024 and room 101 stay untouched"
    assert (rows[4].n_email, rows[4].n_url, rows[4].n_longnum) == (0, 0, 0)
    assert rows[5].clean_text is None and rows[5].n_email is None


def test_vocab_topk_crafted(spark):
    """Normalization (case/whitespace), occurrence vs document counts,
    deterministic count-tie ordering, and empty/null docs contributing
    nothing."""
    df = spark.createDataFrame(
        [(1, "a b a"), (2, "b c"), (3, ""), (4, None), (5, "  B   a ")],
        "doc_id long, text string",
    )
    rows = [tuple(r) for r in text_ops.vocab_topk(df, k=2).collect()]
    # a: 3 occurrences in 2 docs; b: 3 in 3; tie broken token-asc
    assert rows == [("a", 3, 2), ("b", 3, 3)]
    all_rows = [tuple(r) for r in text_ops.vocab_topk(df, k=10).collect()]
    assert all_rows == [("a", 3, 2), ("b", 3, 3), ("c", 1, 1)]


# --- similarity ------------------------------------------------------------


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def test_cosine_topk_self_first(spark, emb):
    q = emb.where("vec_id < 3")
    top = similarity.cosine_topk(emb, q, k=5).collect()
    by_query = {}
    for r in top:
        by_query.setdefault(r.query_id, []).append(r)
    for qid, rows in by_query.items():
        rows.sort(key=lambda r: r.rank)
        assert rows[0].vec_id == qid  # self-similarity = 1.0 ranks first
        assert rows[0].cosine_u in (999999, 1000000)
        cos = [r.cosine_u for r in rows]
        assert cos == sorted(cos, reverse=True)


def test_ann_recall_at_10(spark, emb):
    q = emb.where("vec_id < 8")
    bf = {
        (r.query_id, r.vec_id)
        for r in similarity.cosine_topk(emb, q, k=10).collect()
    }
    ann = {
        (r.query_id, r.vec_id)
        for r in similarity.ann_topk_lsh(emb, q, k=10).collect()
    }
    recall = len(bf & ann) / len(bf)
    # deterministic (seeded planes, fixed data): exactly 0.900 on the
    # sf0.001 corpus with the default 16-pool / 5-bit x 16-table /
    # probe-1 config — the recall/candidate frontier for this
    # near-orthogonal corpus (see the ann_topk_lsh docstring sweep);
    # gate at the advertised 0.9
    assert recall >= 0.9, f"ANN recall@10 {recall} < 0.9"


def test_ivf_recall_at_10(spark, emb):
    q = emb.where("vec_id < 8")
    bf = {
        (r.query_id, r.vec_id)
        for r in similarity.cosine_topk(emb, q, k=10).collect()
    }
    ivf = {
        (r.query_id, r.vec_id)
        for r in similarity.ivf_topk(emb, q, k=10).collect()
    }
    recall = len(bf & ivf) / len(bf)
    # deterministic (seeded centroids, fixed data): 0.775 on the
    # sf0.001 corpus with C=16/nprobe=8 at a ~0.5 candidate fraction —
    # random-direction centroids on a near-orthogonal corpus are the
    # documented worst case (see the ivf_topk docstring); gate below
    # the measured value with a little slack
    assert recall >= 0.7, f"IVF recall@10 {recall} < 0.7"


def test_ann_topk_auto_dispatch(spark, emb):
    """ann_topk_auto below the flat threshold must BE the brute-force
    result (exact equality); above it, the LSH result — the dispatch is
    a plan choice, never a third semantics."""
    q = emb.where("vec_id < 3")
    flat = {tuple(r) for r in similarity.cosine_topk(emb, q, k=5).collect()}
    lsh = {tuple(r) for r in similarity.ann_topk_lsh(emb, q, k=5).collect()}
    auto_small_df = similarity.ann_topk_auto(emb, q, k=5)
    auto_forced_df = similarity.ann_topk_auto(emb, q, k=5, flat_threshold=0)
    # the dispatch is visible in the plan: only the LSH pipeline carries
    # the bucket-probe structs
    assert "__tc" not in auto_small_df._jdf.queryExecution().analyzed().toString()
    assert "__tc" in auto_forced_df._jdf.queryExecution().analyzed().toString()
    auto_small = {tuple(r) for r in auto_small_df.collect()}
    auto_forced = {tuple(r) for r in auto_forced_df.collect()}
    assert auto_small == flat and len(flat) > 0
    assert auto_forced == lsh


def test_ivf_bucketed_index_no_data_exchange(spark, emb):
    """ivf_build_index persists the cell assignment bucketed by __cell;
    probing the stored index must (a) reproduce the live ivf_topk
    results exactly and (b) plan the probe equi-join with NO data-side
    Exchange when probes aren't broadcast — bucketing already satisfies
    the join's hash-partitioning requirement, so the only
    __cell-keyed Exchange in the plan is the tiny probe side. This is
    the write-once/probe-shuffle-free layout a 100 TB corpus would use
    (r3 verdict item #4)."""
    q = emb.where("vec_id < 8")
    n_cells = similarity.ivf_build_index(emb, "ivf_idx", n_cells=16)
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        from_idx = similarity.ivf_topk_from_index(
            spark, "ivf_idx", q, n_cells=n_cells, k=10, broadcast_probes=False
        )
        got = {(r.query_id, r.rank, r.vec_id, r.cosine_u) for r in from_idx.collect()}
        # AdaptiveSparkPlan.toString renders the final plan followed by
        # the initial plan — audit only the final one
        plan = (
            from_idx._jdf.queryExecution()
            .executedPlan()
            .toString()
            .split("== Initial Plan ==")[0]
        )
        import re

        assert "Bucketed: true" in plan, plan
        cell_exchanges = re.findall(r"Exchange hashpartitioning\(__cell", plan)
        assert len(cell_exchanges) == 1, (
            f"expected only the probe-side __cell exchange, got "
            f"{len(cell_exchanges)}:\n{plan}"
        )
        want = {
            (r.query_id, r.rank, r.vec_id, r.cosine_u)
            for r in similarity.ivf_topk(emb, q, k=10, n_cells=16).collect()
        }
        assert got == want and len(got) > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        similarity.drop_ivf_index(spark, "ivf_idx")


def test_ivf_index_metadata_guards(spark, emb):
    """The persisted index carries its geometry (dim/n_cells/centroids)
    in a companion metadata table; probing with contradicting parameters
    raises instead of silently returning low-recall results, and
    probing with NO parameters reads the stored geometry (round-6
    advisor finding)."""
    q = emb.where("vec_id < 3")
    n_cells = similarity.ivf_build_index(emb, "ivf_meta_idx", n_cells=16)
    try:
        want = {
            tuple(r)
            for r in similarity.ivf_topk_from_index(
                spark, "ivf_meta_idx", q, n_cells=n_cells, k=5
            ).collect()
        }
        # geometry comes from metadata when omitted
        got = {
            tuple(r)
            for r in similarity.ivf_topk_from_index(
                spark, "ivf_meta_idx", q, k=5
            ).collect()
        }
        assert got == want and len(got) > 0
        with pytest.raises(ValueError, match="n_cells=16"):
            similarity.ivf_topk_from_index(
                spark, "ivf_meta_idx", q, n_cells=8, k=5
            )
        with pytest.raises(ValueError, match="dim=64"):
            similarity.ivf_topk_from_index(
                spark, "ivf_meta_idx", q, dim=32, k=5
            )
    finally:
        similarity.drop_ivf_index(spark, "ivf_meta_idx")
    # a foreign table without metadata still needs explicit n_cells
    emb.limit(10).createOrReplaceTempView("not_an_index")
    with pytest.raises(ValueError, match="legacy"):
        similarity.ivf_topk_from_index(spark, "not_an_index", q)


def test_topk_per_key_matches_naive(spark):
    df = spark.createDataFrame(
        [(k, i, float((i * 37 + k * 11) % 100)) for k in range(3) for i in range(50)],
        "k int, i int, score double",
    )
    got = similarity.topk_per_key(
        df, "k", [F.col("score").desc(), F.col("i").asc()], 5, salt_col="i"
    ).collect()
    rows = df.collect()
    for k in range(3):
        naive = sorted(
            [r for r in rows if r.k == k], key=lambda r: (-r.score, r.i)
        )[:5]
        mine = sorted([r for r in got if r.k == k], key=lambda r: r.rank)
        assert [(r.i) for r in mine] == [(r.i) for r in naive]


# --- multimodal ------------------------------------------------------------


def test_multimodal_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [(0, "alpha beta"), (1, "gamma"), (2, "delta epsilon zeta")],
        "doc_id long, text string",
    )
    mm = multimodal.attach_payload(df)
    # parquet round-trip keeps binary + struct columns intact
    path = str(tmp_path / "mm.parquet")
    mm.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    assert dict(back.dtypes)["payload"] == "binary"
    stats = {r.doc_id: r for r in multimodal.payload_stats(back).collect()}
    assert stats[0].n_bytes == len(b"alpha beta")
    assert stats[1].modality == "audio"  # 1 % 3 == 1
    assert stats[2].n_pixels == stats[2].width * stats[2].height


def test_winnow_guarantee_and_edges(spark):
    """The winnowing guarantee: documents sharing a substring of
    length >= w + k - 1 (= 11 chars with defaults k=8, w=4) share at
    least one fingerprint; disjoint-alphabet documents share none.
    Plus short-text edges (len < k -> NULL digest; k <= len < k+w-1
    -> all-grams fallback)."""
    shared = "the same exact sentence appears in both documents"
    rows = [
        (1, f"unique prefix one {shared} unique suffix alpha"),
        (2, f"completely other beginning {shared} different tail"),
        (3, "zzz qqq vvv www uuu mmm nnn ooo ppp rrr sss ttt"),
        (4, "tiny"),         # < k chars -> no grams
        (5, "ninechars"),    # k <= len < k + w - 1 -> all-grams branch
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in text_ops.winnow_fingerprints(df).collect()}
    assert out[4].n_kgrams == 0 and out[4].winnow_digest is None
    assert out[5].n_kgrams == 2 and out[5].n_fingerprints >= 1

    # fingerprint SETS via the operator's internals: rerun keeping fps
    from datafusion_uba_spark.operators.text import (
        WINNOW_K as K, WINNOW_W as W, normalize_text,
    )
    s0 = df.selectExpr("doc_id", "text").select(
        "doc_id", F.substring(normalize_text("text"), 1, 256).alias("p")
    )
    fps = {
        r.doc_id: set(r.fps or [])
        for r in s0.selectExpr(
            "doc_id",
            f"CASE WHEN length(p) >= {K} THEN "
            f"array_distinct(transform(sequence(1, length(p) - {K} - {W} + 2), "
            f"j -> array_min(transform(sequence(j, j + {W} - 1), "
            f"i -> md5(substring(p, i, {K})))))) END AS fps",
        ).collect()
    }
    assert fps[1] & fps[2], "shared 11+ char substring must share a print"
    assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])


def test_contamination_stats_crafted(spark):
    """A corpus doc sharing an 8-gram with the benchmark is flagged
    with the right hit count; an overlap-free doc is clean; a short
    (gram-less) doc still appears, trivially clean; hits against ANY
    benchmark doc count."""
    from datafusion_uba_spark.operators.text import contamination_stats

    leak = "the quick brown fox jumps over the lazy dog"  # 9 toks -> 2 grams
    bench = spark.createDataFrame(
        [(100, "benchmark question says " + leak), (101, "unrelated eval")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, leak + " extra tail words here"),  # shares both leak grams
            (2, "totally different content with eight plus tokens in it now"),
            (3, "too short"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in contamination_stats(corpus, bench).collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1].contaminated and rows[1].n_hit == 2
    # doc1: 13 tokens -> 6 distinct 8-grams
    assert rows[1].n_grams == 6
    assert not rows[2].contaminated and rows[2].n_hit == 0
    assert rows[2].n_grams > 0
    assert rows[3].n_grams == 0 and rows[3].n_hit == 0
    assert not rows[3].contaminated


def test_tfidf_topk_crafted(spark):
    """Rarer tokens outrank common ones at equal tf; higher tf wins at
    equal df; ties order by token; empty docs yield no rows; rank is
    a dense 1..k prefix."""
    from datafusion_uba_spark.operators.text import tfidf_topk

    df = spark.createDataFrame(
        [
            # 'common' appears in all 3 docs; 'rare*' only here
            (1, "common rare1 rare1 rare2"),
            (2, "common common solo"),
            (3, "common"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    out = tfidf_topk(df, k=2)
    rows = out.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for v in by_doc.values():
        v.sort(key=lambda r: r.rank)
    assert 4 not in by_doc  # empty doc -> no tokens
    # doc1: rare1 tf=2 df=1 -> 2e6; rare2 tf=1 df=1 -> 1e6; common tf=1 df=3
    d1 = by_doc[1]
    assert [(r.token, r.tf, r.df, r.score_u) for r in d1] == [
        ("rare1", 2, 1, 2_000_000),
        ("rare2", 1, 1, 1_000_000),
    ]
    assert [r.rank for r in d1] == [1, 2]
    # doc2: solo tf=1 df=1 -> 1e6 beats common tf=2 df=3 -> 666666
    d2 = by_doc[2]
    assert [(r.token, r.score_u) for r in d2] == [
        ("solo", 1_000_000),
        ("common", 666_666),
    ]
    # doc3: only 'common' exists -> a single row, rank 1
    assert [(r.token, r.rank) for r in by_doc[3]] == [("common", 1)]


def test_hll_approx_distinct_error_and_rollup(spark):
    """The HLL estimate lands within 2% of exact at lgk=12 on a 20k-id
    set; sketching at fine grain then union-merging to coarse grain
    agrees with sketching coarse directly (the mergeable-partials
    contract that makes the sketch the 100 TB path); bad args raise."""
    import pytest as _pytest

    from datafusion_uba_spark.operators import sketches

    df = spark.range(60_000).select(
        (F.col("id") % 3).cast("int").alias("g"),
        (F.col("id") % 20_000).alias("uid"),
        (F.col("id") % 6).cast("int").alias("fine"),
    )
    # exact: every g sees all 20k uids
    out = {
        r.g: r.approx_distinct
        for r in sketches.approx_distinct(df, ["g"], "uid").collect()
    }
    assert set(out) == {0, 1, 2}
    for g, est in out.items():
        assert abs(est - 20_000) / 20_000 < 0.02, (g, est)

    # rollup: fine=(g, fine) merged up to g must track the direct
    # estimate closely (same-lgk sketches union near-losslessly)
    rolled = {
        r.g: r.approx_distinct
        for r in sketches.approx_distinct_rollup(
            df, ["g", "fine"], ["g"], "uid"
        ).collect()
    }
    for g in out:
        assert abs(rolled[g] - out[g]) / out[g] < 0.01, (g, rolled[g], out[g])

    with _pytest.raises(ValueError, match="lgk"):
        sketches.approx_distinct(df, ["g"], "uid", lgk=30)
    with _pytest.raises(ValueError, match="coarse_cols"):
        sketches.approx_distinct_rollup(df, ["fine"], ["g"], "uid")


def test_minhash_dedup_against_index_reuse_and_pairs_consistency(
    spark, sf_dir, tmp_path
):
    """Incremental near-dup contracts: (a) probing a PERSISTED
    minhash_index (written to and read back from parquet, as a daily
    pipeline would) returns exactly the same matches as signing the
    corpus on the fly; (b) the cross-split matches agree with the
    within-batch pair finder run over the full corpus — the increment
    operator finds precisely the odd-even pairs minhash_lsh_pairs
    finds, no more, no fewer; (c) bad banding raises."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    inc = docs.where(F.col("doc_id") % 2 == 1)
    kw = dict(num_perm=32, bands=8, threshold=0.8)

    direct = dedup.minhash_dedup_against(inc, corpus, **kw)
    got_direct = {
        (r.doc_id, r.dup_of, r.jaccard_bp) for r in direct.collect()
    }

    idx_path = str(tmp_path / "mh_index")
    dedup.minhash_index(corpus, num_perm=32, bands=8).write.parquet(idx_path)
    via_idx = dedup.minhash_dedup_against(
        inc, corpus, corpus_index=spark.read.parquet(idx_path), **kw
    )
    assert {
        (r.doc_id, r.dup_of, r.jaccard_bp) for r in via_idx.collect()
    } == got_direct

    pairs = dedup.minhash_lsh_pairs(docs, num_perm=32, bands=8, threshold=0.8)
    cross = {
        (r.doc_a, r.doc_b, r.jaccard_bp)
        for r in pairs.collect()
        if r.doc_a % 2 != r.doc_b % 2
    }
    as_pairs = {
        (min(i, c), max(i, c), j) for (i, c, j) in got_direct
    }
    assert as_pairs == cross
    assert got_direct, "fixture has no cross-split near-dups"

    with pytest.raises(ValueError, match="divide"):
        dedup.minhash_dedup_against(inc, corpus, num_perm=32, bands=7)
    with pytest.raises(ValueError, match="divide"):
        dedup.minhash_index(corpus, num_perm=32, bands=7)


def test_count_min_never_underestimates_and_merges(spark, sf_dir):
    """Count-min contract, both hash families: (a) estimate >= exact
    for EVERY key (CMS collisions only inflate — the one-sided
    guarantee the heavy_hitters_cms row relies on), with the average
    overestimate bounded by the eps*N bound's scale; (b) cell tables
    built on disjoint corpus slices merge by summing cells into
    exactly the full-corpus sketch (the partial-rollup contract shared
    with the HLL sketches); (c) bad args raise."""
    from datafusion_uba_spark.operators import sketches

    ev = load_table(spark, sf_dir, "events")
    n_total = ev.count()
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_n"))
    w, d = 512, 4
    for fam in ("xxhash64", "md5"):
        sk = sketches.count_min_build(ev, "user_id", w=w, d=d, hash_family=fam)
        est = sketches.count_min_estimate(
            sk, exact.select("user_id"), "user_id", w=w, d=d, hash_family=fam
        )
        rows = exact.join(est, "user_id").collect()
        assert len(rows) == exact.count()
        assert all(r.cms_count >= r.exact_n for r in rows), fam
        # mean overestimate is ~N/w per colliding row; allow 4x slack
        over = sum(r.cms_count - r.exact_n for r in rows) / len(rows)
        assert over <= 4 * n_total / w, (fam, over, n_total / w)

    # mergeability: sum of half-sketches == full sketch, cell by cell
    a = ev.where(F.col("event_id") % 2 == 0)
    b = ev.where(F.col("event_id") % 2 == 1)
    merged = (
        sketches.count_min_build(a, "user_id", w=w, d=d)
        .unionAll(sketches.count_min_build(b, "user_id", w=w, d=d))
        .groupBy("depth", "bucket")
        .agg(F.sum("cell_count").alias("cell_count"))
    )
    full = sketches.count_min_build(ev, "user_id", w=w, d=d)
    assert (
        merged.exceptAll(full).count() == 0
        and full.exceptAll(merged).count() == 0
    )

    with pytest.raises(ValueError, match="hash_family"):
        sketches.count_min_build(ev, "user_id", hash_family="sha9")
    with pytest.raises(ValueError, match="hash_family"):
        sketches.count_min_estimate(full, exact, "user_id", hash_family="sha9")
    with pytest.raises(ValueError, match="w >= 1"):
        sketches.count_min_build(ev, "user_id", w=0)


def test_dau_hll_tracks_exact(spark, sf_dir):
    """Registry-twin parity: the HLL DAU row tracks the exact DAU row
    within 5% on every day of the fixture."""
    from datafusion_uba_spark.queries_uba import (
        q_daily_active_users,
        q_daily_active_users_hll,
    )

    exact = {r.day: r.dau for r in q_daily_active_users(spark, sf_dir).collect()}
    approx = {
        r.day: r.dau_approx
        for r in q_daily_active_users_hll(spark, sf_dir).collect()
    }
    assert set(exact) == set(approx)
    for day, dau in exact.items():
        assert abs(approx[day] - dau) / max(dau, 1) < 0.05, (day, approx[day], dau)


def test_pack_token_stream_crafted(spark):
    """With one shard the packed stream is a plain running layout:
    offsets are cumulative in id order, a doc straddling a capacity
    boundary spans two windows, empty docs are excluded, and
    precomputed token counts short-circuit tokenization."""
    from datafusion_uba_spark.operators.packing import pack_token_stream

    df = spark.createDataFrame(
        [(1, 6), (2, 3), (3, 5), (4, 0)], "doc_id long, n long"
    )
    out = {
        r.doc_id: r
        for r in pack_token_stream(
            df, capacity=8, n_shards=1, tokens_col="n"
        ).collect()
    }
    assert 4 not in out  # zero-token doc dropped
    assert (out[1].start_offset, out[1].first_window, out[1].last_window) == (0, 0, 0)
    # doc2 occupies tokens [6, 9): straddles the window boundary at 8
    assert (out[2].start_offset, out[2].first_window, out[2].last_window) == (6, 0, 1)
    assert (out[3].start_offset, out[3].first_window, out[3].last_window) == (9, 1, 1)
    # text-derived counts agree with explicit ones
    dt = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "g h i"), (3, "j k l m n"), (4, "")],
        "doc_id long, text string",
    )
    out2 = {
        r.doc_id: r
        for r in pack_token_stream(dt, capacity=8, n_shards=1).collect()
    }
    assert {k: (v.start_offset, v.last_window) for k, v in out2.items()} == {
        k: (v.start_offset, v.last_window) for k, v in out.items()
    }

    import pytest as _pytest

    with _pytest.raises(ValueError, match="capacity"):
        pack_token_stream(df, capacity=0, tokens_col="n")


def test_assign_split_deterministic_and_stable(spark):
    """Split labels are a pure function of the id: identical across
    calls, unchanged when the corpus grows (append stability), and
    the 90/5/5 shares land near nominal on 10k ids."""
    from datafusion_uba_spark.operators.packing import assign_split

    ids = spark.range(10_000).withColumnRenamed("id", "doc_id")
    a = {r.doc_id: r.split for r in assign_split(ids, val_pct=5, test_pct=5).collect()}
    shares = {s: sum(1 for v in a.values() if v == s) / len(a) for s in set(a.values())}
    assert abs(shares["train"] - 0.90) < 0.02
    assert abs(shares["val"] - 0.05) < 0.01
    assert abs(shares["test"] - 0.05) < 0.01
    # append stability: the first 1k ids keep their labels inside a larger corpus
    sub = {
        r.doc_id: r.split
        for r in assign_split(
            spark.range(1_000).withColumnRenamed("id", "doc_id"),
            val_pct=5,
            test_pct=5,
        ).collect()
    }
    assert all(a[k] == v for k, v in sub.items())

    import pytest as _pytest

    with _pytest.raises(ValueError, match="val_pct"):
        assign_split(ids, val_pct=60, test_pct=50)


def test_dedup_against_crafted(spark):
    """A batch doc whose normalized content exists in the corpus is
    dropped (even across whitespace/case differences); a batch-internal
    duplicate pair admits only its min-id copy; genuinely new docs
    survive."""
    corpus = spark.createDataFrame(
        [(1, "Existing   Document one"), (2, "another old doc")],
        "doc_id long, text string",
    )
    inc = spark.createDataFrame(
        [
            (10, "existing document one"),  # dup of corpus doc 1 after norm
            (11, "brand new content"),
            (12, "brand  NEW content"),  # batch-internal dup of 11
            (13, "also new"),
        ],
        "doc_id long, text string",
    )
    out = dedup.dedup_against(inc, corpus)
    ids = sorted(r.doc_id for r in out.collect())
    assert ids == [11, 13]


def test_dedup_against_bucketed_corpus(spark):
    """The daily-ingest layout: with the corpus fingerprint projection
    persisted BUCKETED on fingerprint, the incremental dedup anti-join
    plans with the corpus side exchange-free (Bucketed: true, and the
    only fingerprint Exchange is the small increment side) and the
    same results as the recompute path."""
    import re

    from datafusion_uba_spark.operators.text import content_fingerprint
    from datafusion_uba_spark.sources import write_bucketed

    corpus = spark.createDataFrame(
        [(i, f"corpus doc number {i}") for i in range(50)],
        "doc_id long, text string",
    )
    inc = spark.createDataFrame(
        [(100, "corpus doc number 7"), (101, "fresh content one"),
         (102, "fresh content two")],
        "doc_id long, text string",
    )
    write_bucketed(
        corpus.select(content_fingerprint("text").alias("fingerprint")).distinct(),
        "corpus_fp_bucketed",
        "fingerprint",
        4,
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = dedup.dedup_against(
            inc, spark.table("corpus_fp_bucketed"), corpus_fingerprints=True
        )
        assert sorted(r.doc_id for r in out.collect()) == [101, 102]
        plan = (
            out._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0]
        )
        assert "Bucketed: true" in plan, plan
        fp_exchanges = re.findall(r"Exchange hashpartitioning\(fingerprint", plan)
        assert len(fp_exchanges) == 1, (
            f"expected only the increment-side exchange, got "
            f"{len(fp_exchanges)}:\n{plan}"
        )
        # recompute path agrees
        want = sorted(
            r.doc_id for r in dedup.dedup_against(inc, corpus).collect()
        )
        assert sorted(r.doc_id for r in out.collect()) == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_approx_percentile_tracks_exact_quantiles(spark, sf_dir):
    """Closes the loop length_quantiles' docstring promises: the scale
    path (approx_percentile, t-digest-style sketch) is validated
    against the exact percentile aggregate on the same column — p50/p90
    within 5% relative, p99 within 10% (tail accuracy is what the
    accuracy parameter buys; 10000 is Spark's default)."""
    from datafusion_uba_spark.queries_llm import (
        q_length_quantiles,
        q_length_quantiles_approx,
    )

    exact = {r.lang: r for r in q_length_quantiles(spark, sf_dir).collect()}
    approx = {
        r.lang: r
        for r in q_length_quantiles_approx(spark, sf_dir).collect()
    }
    assert set(exact) == set(approx)
    for lang, e in exact.items():
        a = approx[lang]
        for fld, tol in (("p50", 0.05), ("p90", 0.05), ("p99", 0.10)):
            ev, av = float(getattr(e, fld)), float(getattr(a, fld))
            assert abs(av - ev) / max(ev, 1.0) < tol, (lang, fld, av, ev)


def test_stickiness_hll_tracks_exact(spark, sf_dir):
    """The HLL stickiness twin's error bound vs the exact anchor:
    dau/wau within 2% relative per day (lgk=12; at fixture
    cardinalities the sketch is in sparse mode and near-exact), and
    the day set identical."""
    from datafusion_uba_spark.queries_uba import (
        q_stickiness_wau,
        q_stickiness_wau_hll,
    )

    exact = {r.day: r for r in q_stickiness_wau(spark, sf_dir).collect()}
    approx = {
        r.day: r for r in q_stickiness_wau_hll(spark, sf_dir).collect()
    }
    assert set(exact) == set(approx)
    for day, e in exact.items():
        a = approx[day]
        for fld in ("dau", "wau"):
            ev, av = int(getattr(e, fld)), int(getattr(a, fld))
            assert abs(av - ev) / max(ev, 1) < 0.02, (day, fld, av, ev)


def test_fuzzy_prefix_pairs_golden(spark):
    """Crafted pins for the blocking + levenshtein contract: a typo
    pair is found (same first token), an edit in the FIRST token is
    still found via the last-token pass, an over-budget edit is
    rejected, and a pair differing in both blocking tokens is missed
    BY DESIGN (the documented blocking recall contract)."""
    from datafusion_uba_spark.operators import dedup

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps high today"),
            (2, "the quikc brown fox jumps high today"),   # typo: dist 2
            (3, "teh quick brown fox jumps high today"),   # first-token edit
            (4, "the quick brown fox leaps over everything now"),  # too far
            (5, "aaa completely different text here zzz"),
            (6, "bbb completely different text here yyy"),  # both toks differ
            (7, "the quick brown fox jumps high today"),   # exact dup of 1
            (8, "the quick brown fox jumps high today"),   # exact dup of 1
        ],
        "doc_id long, text string",
    )
    got = {
        (r["id1"], r["id2"]): r["edit_dist"]
        for r in dedup.fuzzy_prefix_pairs(docs, max_dist=3).collect()
    }
    assert got.get((1, 2)) == 2          # same tok1 block
    assert got.get((1, 3)) == 2          # found via last-token pass
    assert (2, 3) not in got             # dist 4 (both edits): over budget
    assert (1, 4) not in got             # dist > 3 rejected
    assert (5, 6) not in got             # both blocking tokens differ: missed
    # exact-equal collapse: dups link to the min-id REPRESENTATIVE at
    # dist 0 (linear, never a clique), and only the representative
    # carries the cross-prefix pairs
    assert got.get((1, 7)) == 0 and got.get((1, 8)) == 0
    assert (7, 8) not in got
    assert (2, 7) not in got and (3, 7) not in got


def test_repetition_stats_crafted(spark):
    """r11 Gopher-style repetition signals: hand-computed fractions on
    crafted docs — a clean doc, a doc dominated by one repeated
    token, a doc with a repeated bigram, and gates for short docs."""
    from datafusion_uba_spark.operators import text as text_ops

    docs = spark.createDataFrame(
        [
            # 4 distinct tokens, 3 distinct bigrams: zero repetition
            (1, "alpha beta gamma delta"),
            # "spam" x5: tokens 5 total / 1 distinct -> dup 8000 bp,
            # top 10000 bp; bigrams 4/1 -> dup 7500, top 10000
            (2, "spam spam spam spam spam"),
            # "a b a b a": tokens 5 total/2 distinct -> dup 6000,
            # top("a" x3) 6000; bigrams [a b, b a, a b, b a] 4/2 ->
            # dup 5000, top 5000
            (3, "a b a b a"),
            (4, "solo"),       # 1 token: gated out
            (5, ""),           # empty: gated out
            (6, None),         # null: gated out
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (
            r["n_tokens"], r["dup_token_bp"], r["top_token_bp"],
            r["n_bigrams"], r["dup_bigram_bp"], r["top_bigram_bp"],
        )
        for r in text_ops.repetition_stats(docs).collect()
    }
    assert set(got) == {1, 2, 3}
    assert got[1] == (4, 0, 2500, 3, 0, 3333)
    assert got[2] == (5, 8000, 10000, 4, 7500, 10000)
    assert got[3] == (5, 6000, 6000, 4, 5000, 5000)


def test_temperature_quota_sample_crafted(spark):
    """r11 temperature mixture: exact integer quota math on a skewed
    corpus — weights floor(sqrt(n)), floor-rationed so quotas never
    oversubscribe; small sources up-weighted vs their raw share;
    picks reproducible and append-stable under the (md5, id)
    permutation."""
    from datafusion_uba_spark.operators import sampling

    rows = [(i, "big") for i in range(100)] + [
        (100 + i, "small") for i in range(4)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    # weights: sqrt(100)=10, sqrt(4)=2 -> quotas of 24: 20 and 4
    got = sampling.temperature_quota_sample(docs, "source", 24)
    per = {
        r["source"]: (r["quota"])
        for r in got.select("source", "quota").distinct().collect()
    }
    assert per == {"big": 20, "small": 4}
    counts = {
        r["source"]: r["n"]
        for r in got.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    # small got 4/104 of the corpus but 4/24 of the mix (up-weighted)
    assert counts == {"big": 20, "small": 4}
    # determinism + append stability: adding rows to an UNSAMPLED
    # region of the permutation can shift ranks, but the same input
    # always yields the same picks
    again = sampling.temperature_quota_sample(docs, "source", 24)
    assert sorted(r["doc_id"] for r in got.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )
    import pytest as _pt
    with _pt.raises(ValueError):
        sampling.temperature_quota_sample(docs, "source", 0)


def test_trigram_typicality_crafted(spark):
    """r11 corpus-LM filter: typical text must outscore gibberish on
    the corpus' own trigram table, scores are exact integer ppb, and
    short docs (< 3 chars after normalization) are gated out."""
    from datafusion_uba_spark.operators import text as text_ops

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the cat sat on the hat"),
            (3, "zqxj wvkp qzzt"),   # gibberish: rare trigrams
            (4, "ab"),               # too short: gated
            (5, ""),                 # empty: gated
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: (r["n_trigrams"], r["typicality_ppb"])
        for r in text_ops.trigram_typicality(docs).collect()
    }
    assert set(rows) == {1, 2, 3}
    # both prose docs share most trigrams -> far above the gibberish
    assert rows[1][1] > 2 * rows[3][1]
    assert rows[2][1] > 2 * rows[3][1]
    # n_trigrams = len - 2 of the normalized text
    assert rows[1][0] == len("the cat sat on the mat") - 2

    # exact replay of the closed form on a tiny corpus: "aaaa" alone
    # has trigrams [aaa, aaa] -> ppb(aaa) = 1e9, typicality 1e9
    one = spark.createDataFrame([(1, "aaaa")], "doc_id long, text string")
    r = text_ops.trigram_typicality(one).collect()[0]
    assert (r["n_trigrams"], r["typicality_ppb"]) == (2, 1_000_000_000)


def test_image_ahash_pairs_crafted(spark):
    """r11 perceptual-hash dedup: a lightly-noised copy of an image
    must land within a few Hamming bits of the original and be found
    by the banded pair join; a structurally different image must not.
    Also pins Hamming symmetry in the int64 halves and the band-range
    guard."""
    import numpy as np
    import pytest as _pt

    from datafusion_uba_spark.operators import imagecodec, multimodal

    rng_free = np.arange(48 * 64 * 3, dtype=np.int64)
    base = ((rng_free * 37) % 256).reshape(48, 64, 3).astype("uint8")
    noisy = base.copy()
    noisy[5:8, 5:8, :] = 255            # small local perturbation
    gradient = np.tile(
        np.linspace(0, 255, 64, dtype=np.uint8)[None, :, None], (48, 1, 3)
    )
    payloads = [
        (1, bytearray(imagecodec.encode_bmp(base))),
        (2, bytearray(imagecodec.encode_ppm(noisy))),
        (3, bytearray(imagecodec.encode_bmp(gradient))),
    ]
    df = spark.createDataFrame(payloads, "doc_id long, payload binary")
    hashes = multimodal.image_ahash(df)
    rows = {r["doc_id"]: r for r in hashes.collect()}
    # hex is the canonical packing of the halves
    for r in rows.values():
        assert r["ahash_hex"] == f"{r['ahash_hi']:08x}{r['ahash_lo']:08x}"
    pairs = {
        (r["id1"], r["id2"]): r["hamming"]
        for r in multimodal.ahash_pairs(hashes, max_hamming=6).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] <= 6
    assert (1, 3) not in pairs and (2, 3) not in pairs
    with _pt.raises(ValueError):
        multimodal.ahash_pairs(hashes, max_hamming=16)


def test_containment_pairs_crafted(spark):
    """r11 directional containment: a short doc quoted inside a long
    one is found inner->outer but NOT outer->inner (Jaccard would
    miss it entirely at this threshold); identical docs contain each
    other both ways; the df-cap documented-lossy guard drops pairs
    supported only by hot shingles."""
    from datafusion_uba_spark.operators import dedup

    quote = "the quick brown fox jumps over the lazy dog tonight"
    long_doc = (
        "intro words here now "
        + quote
        + " and a very long tail of unrelated filler content keeps "
          "going with many extra tokens that dilute the union badly"
    )
    docs = spark.createDataFrame(
        [(1, quote), (2, long_doc), (3, quote), (4, "completely different "
          "text about spark catalyst optimizer internals and shuffles")],
        "doc_id long, text string",
    )
    got = {
        (r["doc_inner"], r["doc_outer"]): r["containment_bp"]
        for r in dedup.containment_pairs(docs, threshold=0.8).collect()
    }
    assert got[(1, 2)] >= 8000          # quote contained in long doc
    assert (2, 1) not in got            # long doc NOT contained in quote
    assert got[(1, 3)] == 10000 and got[(3, 1)] == 10000  # exact dup: both
    assert not any(4 in pair for pair in got)
    # Jaccard at the same threshold misses the quote-inside pair
    jac = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    assert (1, 2) not in jac


def test_simhash_dedup_against_index_and_guards(spark):
    """r11 incremental SimHash: probing a PRE-BUILT chunk index gives
    the same pairs as passing the corpus (and the index carries no
    text); a near-dup increment doc is matched, a distant one is not;
    exactly-one-of corpus/index is enforced."""
    import pytest as _pt

    from datafusion_uba_spark.operators import dedup

    # long docs: SimHash majority votes need many shared shingles for
    # a small edit to stay within a small Hamming budget
    base = " ".join(f"token{i} word{i} item{i}" for i in range(30))
    corpus = spark.createDataFrame(
        [(0, base), (2, "completely unrelated catalyst shuffle text "
                        "with many different words entirely")],
        "doc_id long, text string",
    )
    inc = spark.createDataFrame(
        [(1, base.replace("word7", "changed")), (3, "nothing alike at "
          "all zebra quantum plasma xylophone")],
        "doc_id long, text string",
    )
    direct = {
        (r["doc_id"], r["dup_of"]): r["hamming"]
        for r in dedup.simhash_dedup_against(
            inc, corpus, max_hamming=10
        ).collect()
    }
    assert (1, 0) in direct and (3, 0) not in direct and (3, 2) not in direct

    idx = dedup.simhash_index(corpus, max_hamming=10)
    assert "text" not in idx.columns  # signature-only corpus state
    via_index = {
        (r["doc_id"], r["dup_of"]): r["hamming"]
        for r in dedup.simhash_dedup_against(
            inc, corpus_index=idx, max_hamming=10
        ).collect()
    }
    assert via_index == direct

    with _pt.raises(ValueError, match="exactly one"):
        dedup.simhash_dedup_against(inc, corpus, corpus_index=idx)
    with _pt.raises(ValueError, match="exactly one"):
        dedup.simhash_dedup_against(inc)


def test_recall_at_k_crafted(spark):
    """r11 eval harness: hand-computed recall — full overlap, half
    overlap, zero-approx-rows query reported as 0, k guard."""
    import pytest as _pt

    from datafusion_uba_spark.operators.similarity import recall_at_k

    exact = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (2, 20, 1), (2, 21, 2),
         (3, 30, 1), (3, 31, 2)],
        "query_id long, vec_id long, rank int",
    )
    approx = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2),    # q1: 2/2
         (2, 20, 1), (2, 99, 2)],   # q2: 1/2; q3: no rows -> 0
        "query_id long, vec_id long, rank int",
    )
    got = {
        r["query_id"]: (r["hits"], r["recall_bp"])
        for r in recall_at_k(approx, exact, k=2).collect()
    }
    assert got == {1: (2, 10000), 2: (1, 5000), 3: (0, 0)}
    with _pt.raises(ValueError):
        recall_at_k(approx, exact, k=0)


# --- exact-integer k-means (operators/kmeans.py) ---------------------------


def test_kmeans_matches_python_model(spark):
    """lloyd_rounds vs a literal Python replay of the contract: grid
    quantization, smallest-id seeds, exact integer distances,
    round(S/n) grid re-quantization, ties to lowest cid."""
    import random

    from datafusion_uba_spark.operators.kmeans import lloyd_rounds

    rng = random.Random(7)
    dim, n, k, rounds, scale = 5, 40, 3, 3, 1000
    vecs = {
        i: [rng.uniform(-1, 1) for _ in range(dim)] for i in range(n)
    }
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()],
        "vec_id long, embedding array<double>",
    )
    got = {
        r.vec_id: (r.cluster, r.dist2)
        for r in lloyd_rounds(df, k=k, rounds=rounds, scale=scale).collect()
    }

    q = {
        i: [int(round(x * scale)) for x in v] for i, v in vecs.items()
    }
    cents = {c: q[i] for c, i in enumerate(sorted(q)[:k])}

    def nearest(v):
        best = min(
            (sum((a - b) * (a - b) for a, b in zip(v, cents[c])), c)
            for c in cents
        )
        return best[1], best[0]

    assign = {}
    for rnd in range(rounds):
        if rnd > 0:
            new = {}
            for c in set(cl for cl, _ in assign.values()):
                members = [q[i] for i, (cl, _) in assign.items() if cl == c]
                new[c] = [
                    int(round(sum(col) / len(members)))
                    for col in zip(*members)
                ]
            cents = new
        assign = {i: nearest(v) for i, v in q.items()}
    assert got == assign


def test_kmeans_tie_breaks_to_lowest_cid(spark):
    """A vector equidistant from two seeds lands on the lower cid."""
    from datafusion_uba_spark.operators.kmeans import lloyd_rounds

    df = spark.createDataFrame(
        [(0, [0.0]), (1, [2.0]), (2, [1.0])],
        "vec_id long, embedding array<double>",
    )
    got = {
        r.vec_id: r.cluster for r in lloyd_rounds(df, k=2, rounds=1).collect()
    }
    assert got[2] == 0


def test_kmeans_rejects_bad_params(spark):
    import pytest

    from datafusion_uba_spark.operators.kmeans import lloyd_rounds

    df = spark.createDataFrame(
        [(0, [0.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError):
        lloyd_rounds(df, k=0)
    with pytest.raises(ValueError):
        lloyd_rounds(df, rounds=0)


def test_repeated_spans_matches_model(spark):
    """Planted repeated phrase is found with exact counts; docs
    shorter than the window contribute nothing; the min_count gate
    and (n_occ, n_docs, span) ordering hold."""
    from datafusion_uba_spark.operators.dedup import repeated_spans

    phrase = "x y z"
    docs = [
        (1, f"a b {phrase} c"),
        (2, f"d {phrase} e f"),
        (3, f"{phrase} {phrase}"),   # twice in one doc (overlap-free)
        (4, "too short"),
        (5, "p q r s t u"),          # unique spans only
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = [
        (r.span, r.n_occ, r.n_docs)
        for r in repeated_spans(
            df, width=3, min_count=3, top=10
        ).collect()
    ]
    # windows of width 3 containing the phrase: each doc contributes
    # 'x y z' once per occurrence; doc 3 has it at positions 1 and 4,
    # plus bridging windows ('y z x', 'z x y') that occur only once.
    assert ("x y z", 4, 3) == got[0]
    assert all(n >= 3 for _, n, _ in got)
    import pytest as _pt

    with _pt.raises(ValueError):
        repeated_spans(df, width=0)


def test_cross_group_leakage_crafted(spark):
    """Shared span between groups A/B (one-way containment), a span in
    three groups (contributes to all three pairs), and a group with no
    overlap at all."""
    from datafusion_uba_spark.operators.dedup import cross_group_leakage

    common = "w1 w2 w3 w4 w5 w6 w7 w8"
    tri = "t1 t2 t3 t4 t5 t6 t7 t8"
    rows = [
        (1, common + " a_tail_one two three four five six seven", "A"),
        (2, common, "B"),
        (3, tri, "A"),
        (4, tri, "B"),
        (5, tri + " pad", "C"),
        (6, "lonely text with eight different words here ok", "D"),
        (7, "short", "A"),  # < width tokens -> contributes nothing
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        (r.group_a, r.group_b): r.n_shared_spans
        for r in cross_group_leakage(docs, width=8).collect()
    }
    # A-B share `common` and `tri` (2 spans); tri+" pad" adds spans
    # "t1..t8" and "t2..pad" to C, of which only the first is shared
    assert got == {("A", "B"): 2, ("A", "C"): 1, ("B", "C"): 1}


def test_cross_group_leakage_width_guard(spark):
    from datafusion_uba_spark.operators.dedup import cross_group_leakage

    docs = spark.createDataFrame([(1, "x", "A")], "doc_id long, text string, source string")
    import pytest as _pt

    with _pt.raises(ValueError, match="width"):
        cross_group_leakage(docs, width=0)


def test_semantic_pairs_crafted(spark):
    """Two well-separated directions, each with a near-identical twin
    plus one orthogonal-ish outlier: semantic_pairs must (a) cluster
    the twins together and report them as pairs with cosine ~ 1, (b)
    never emit a cross-direction pair, (c) respect the threshold."""
    import math

    def unit(theta):
        v = [0.0] * 64
        v[0], v[1] = math.cos(theta), math.sin(theta)
        return v

    rows = [
        (0, unit(0.00)),      # group X
        (1, unit(0.02)),      # near-dup of 0 (cos ~ 0.9998)
        (2, unit(1.5708)),    # group Y (90 degrees from X)
        (3, unit(1.5908)),    # near-dup of 2
        (4, unit(0.7854)),    # 45 degrees — inside threshold of nobody
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    out = dedup.semantic_pairs(emb, threshold=0.9, k=2, rounds=2).collect()
    got = {(r["id_a"], r["id_b"]) for r in out}
    assert (0, 1) in got
    assert (2, 3) in got
    # no cross-direction pair survives the 0.9 threshold
    for ia, ib in got:
        assert {ia, ib} in ({0, 1}, {2, 3}) or all(
            r["cosine_u"] >= 900000 for r in out
        )
    for r in out:
        assert r["cosine_u"] >= 900000
        assert r["id_a"] < r["id_b"]


def test_semantic_pairs_matches_within_cluster_bruteforce(spark, sf_dir):
    """Inside each cluster, semantic_pairs == brute-force cosine over
    that cluster's members (the blocking only bounds candidates, the
    verify is exact)."""
    import itertools
    import math

    emb = load_table(spark, sf_dir, "embeddings")
    from datafusion_uba_spark.operators.kmeans import lloyd_rounds
    from datafusion_uba_spark.operators.similarity import auto_n_cells

    n = emb.count()
    k = auto_n_cells(n)
    pairs = {
        (r["id_a"], r["id_b"]): r["cosine_u"]
        for r in dedup.semantic_pairs(emb, threshold=0.4).collect()
    }
    assigned = {
        r["vec_id"]: r["cluster"]
        for r in lloyd_rounds(emb, k=k, rounds=2).collect()
    }
    vecs = {
        r["vec_id"]: [round(x * 1_000_000) for x in r["embedding"]]
        for r in emb.collect()
    }
    expect = {}
    by_cluster: dict = {}
    for vid, c in assigned.items():
        by_cluster.setdefault(c, []).append(vid)
    for members in by_cluster.values():
        for ia, ib in itertools.combinations(sorted(members), 2):
            qa, qb = vecs[ia], vecs[ib]
            dot = sum(x * y for x, y in zip(qa, qb))
            na = sum(x * x for x in qa)
            nb = sum(x * x for x in qb)
            cos_u = math.floor(
                float(dot) / math.sqrt(float(na) * float(nb)) * 1_000_000
            )
            if cos_u >= 400000:
                expect[(ia, ib)] = cos_u
    assert pairs == expect


def test_readability_stats_consistent(spark, sf_dir):
    """The two scores must equal their integer closed forms recomputed
    in Python from the returned counts (truncating div, max-1 guards),
    and empty-ish docs must not div-0."""
    from datafusion_uba_spark.queries_llm import q_readability_stats

    rows = q_readability_stats(spark, sf_dir).collect()
    assert rows
    for r in rows:
        w, s, y = r["n_words"], r["n_sentences"], r["n_syllables"]
        assert r["flesch_milli"] == (
            206835 - (1015 * w) // max(s, 1) - (84600 * y) // max(w, 1)
        )
        assert r["fk_grade_milli"] == (
            (390 * w) // max(s, 1) + (11800 * y) // max(w, 1) - 15590
        )
        assert r["words_per_sentence_milli"] == (1000 * w) // max(s, 1)


def test_readability_stats_empty_doc(spark):
    from datafusion_uba_spark.operators import text as text_ops
    from datafusion_uba_spark.queries_llm import q_readability_stats  # noqa: F401
    import pyspark.sql.functions as FF

    # drive the same expressions on a crafted frame via the operator
    # path: empty and punctuation-only docs produce zero counts and
    # the guarded scores, no division error
    docs = spark.createDataFrame(
        [(1, ""), (2, "..."), (3, "aa bb. cc?")],
        "doc_id long, text string",
    )
    s0 = docs.select("doc_id", text_ops.normalize_text("text").alias("__norm"))
    out = s0.select(
        "doc_id",
        FF.regexp_count(FF.col("__norm"), FF.lit(r"[^ ]+")).alias("w"),
        FF.regexp_count(FF.col("__norm"), FF.lit(r"[.!?]+")).alias("s"),
    ).collect()
    got = {r["doc_id"]: (r["w"], r["s"]) for r in out}
    assert got[1] == (0, 0)
    assert got[2] == (1, 1)
    assert got[3] == (3, 2)


def test_ngram_novelty_crafted(spark, tmp_path):
    """First doc owns all its shingles (novelty 10000 bp); an exact
    copy later owns none (0 bp); a half-overlapping doc gets the
    fraction; a too-short doc reports the vacuous 0-of-0 row."""
    from datafusion_uba_spark.queries_llm import q_ngram_novelty

    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),        # shingles: abc bcd cde -> all novel
            (2, "a b c d e"),        # exact copy -> 0 novel
            (3, "c d e f g"),        # cde (owned by 1), def, efg -> 2/3
            (4, "x y"),              # < 3 tokens -> no shingles
        ],
        "doc_id long, text string",
    )
    sf = str(tmp_path / "novelty_sf")
    import os

    os.makedirs(sf, exist_ok=True)
    docs.write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    out = {
        r["doc_id"]: (r["n_shingles"], r["n_novel"], r["novelty_bp"])
        for r in q_ngram_novelty(spark, sf).collect()
    }
    assert out[1] == (3, 3, 10000)
    assert out[2] == (3, 0, 0)
    assert out[3] == (3, 2, 6666)
    assert out[4] == (0, 0, 0)


def test_boilerplate_stats_fast_path_matches_join_shape(spark, sf_dir):
    """The r19 min-owner fast path (min_df <= 2: one gram aggregate +
    owner-count, no occurrence join-back) must be row-identical to the
    original df-aggregate + join-back shape on real corpus data."""
    from pyspark.sql import functions as F

    from datafusion_uba_spark.operators.text import (
        boilerplate_stats,
        normalize_text,
        shingles_from_tokens,
        tokens_from_norm,
    )
    from datafusion_uba_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    n, min_df = 8, 2
    # the pre-r19 join-back shape, inline (the operator's min_df > 2
    # branch keeps this code path alive for the general case)
    s0 = docs.select(
        F.col("doc_id").alias("__id"), normalize_text("text").alias("__norm")
    )
    s1 = s0.select(
        "__id", tokens_from_norm(F.col("__norm")).alias("__toks")
    ).where(F.size("__toks") >= n)
    sh = s1.select(
        "__id", shingles_from_tokens(F.col("__toks"), n).alias("__sh")
    )
    inv = sh.select("__id", F.explode_outer("__sh").alias("__g")).where(
        F.col("__g").isNotNull()
    )
    gdf = inv.groupBy("__g").agg(F.count(F.lit(1)).alias("__df"))
    want = sorted(
        map(
            tuple,
            inv.join(gdf, "__g")
            .groupBy("__id")
            .agg(
                F.count(F.lit(1)).alias("n_grams"),
                F.sum((F.col("__df") >= min_df).cast("int")).alias(
                    "n_shared"
                ),
            )
            .select(
                F.col("__id"),
                "n_grams",
                F.col("n_shared").cast("long"),
                F.floor(F.col("n_shared") * 10000 / F.col("n_grams")).cast(
                    "long"
                ),
            )
            .collect(),
        )
    )
    got = sorted(map(tuple, boilerplate_stats(docs).collect()))
    assert got == want


def test_ngram_novelty_matches_window_shape(spark, sf_dir):
    """The r19 owner-count shape must be row-identical to the window
    min-owner shape on real corpus data (including zero-shingle docs)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from datafusion_uba_spark.operators.text import (
        normalize_text,
        shingles_from_tokens,
        tokens_from_norm,
    )
    from datafusion_uba_spark.queries_llm import q_ngram_novelty
    from datafusion_uba_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id",
        F.explode(
            shingles_from_tokens(tokens_from_norm(normalize_text("text")))
        ).alias("shingle"),
    )
    w_sh = Window.partitionBy("shingle")
    scored = (
        sh.withColumn("owner", F.min("doc_id").over(w_sh))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                (F.col("doc_id") == F.col("owner")).cast("long")
            ).alias("n_novel"),
        )
    )
    want = sorted(
        map(
            tuple,
            docs.select("doc_id")
            .join(scored, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("n_shingles", F.lit(0).cast("long")).alias(
                    "n_shingles"
                ),
                F.coalesce("n_novel", F.lit(0).cast("long")).alias(
                    "n_novel"
                ),
            )
            .selectExpr(
                "doc_id",
                "n_shingles",
                "n_novel",
                "(10000 * n_novel) div greatest(n_shingles, 1)",
            )
            .collect(),
        )
    )
    got = sorted(map(tuple, q_ngram_novelty(spark, sf_dir).collect()))
    assert got == want


def test_ivf_index_upsert_equals_rebuild(spark, emb):
    """FAISS-add semantics: build on half the corpus, upsert the other
    half, probe — results must equal an index built on the FULL corpus
    with the SAME centroids (assignment depends only on (vector,
    centroids), so append composes exactly)."""
    import json

    old = emb.where("vec_id % 2 = 0")
    new = emb.where("vec_id % 2 = 1")
    q = emb.where("vec_id < 8")
    try:
        n_cells = similarity.ivf_build_index(old, "ivf_up_idx", n_cells=16)
        cents = json.loads(
            spark.table("ivf_up_idx__ivf_meta").collect()[0]["centroids_json"]
        )
        appended = similarity.ivf_index_upsert(new, "ivf_up_idx")
        assert appended == new.count() and appended > 0
        got = {
            tuple(r)
            for r in similarity.ivf_topk_from_index(
                spark, "ivf_up_idx", q, k=10
            ).collect()
        }
        similarity.ivf_build_index(
            emb, "ivf_full_idx", n_cells=n_cells, centroids=cents
        )
        want = {
            tuple(r)
            for r in similarity.ivf_topk_from_index(
                spark, "ivf_full_idx", q, k=10
            ).collect()
        }
        assert got == want and len(got) > 0
        # the stored table now holds the whole corpus, still bucketed
        assert spark.table("ivf_up_idx").count() == emb.count()
    finally:
        similarity.drop_ivf_index(spark, "ivf_up_idx")
        similarity.drop_ivf_index(spark, "ivf_full_idx")


def test_ivf_index_upsert_guards(spark, emb):
    """No metadata table -> ValueError (legacy indexes must rebuild);
    empty batch -> 0 appended, index untouched."""
    import pytest

    try:
        similarity.ivf_build_index(emb, "ivf_up_g", n_cells=16)
        n_before = spark.table("ivf_up_g").count()
        assert similarity.ivf_index_upsert(emb.limit(0), "ivf_up_g") == 0
        assert spark.table("ivf_up_g").count() == n_before
        spark.sql("DROP TABLE IF EXISTS ivf_up_g__ivf_meta")
        with pytest.raises(ValueError, match="no metadata table"):
            similarity.ivf_index_upsert(emb.limit(2), "ivf_up_g")
    finally:
        similarity.drop_ivf_index(spark, "ivf_up_g")


def test_audio_energy_windows_model(spark):
    """Windowed energy must equal the closed-form generator replayed
    in numpy for a handful of docs: window framing, channel folding,
    tail-window size, and peak all pinned."""
    import numpy as np

    from datafusion_uba_spark.operators.multimodal import (
        AUDIO_ENERGY_WIN,
        _synth_audio_samples,
        audio_energy_roundtrip,
    )

    docs = spark.createDataFrame(
        [(i,) for i in (0, 1, 7, 400)], "doc_id long"
    )
    got = {
        (r["doc_id"], r["win_idx"]): (
            r["n_values"],
            r["energy"],
            r["peak_abs"],
        )
        for r in audio_energy_roundtrip(docs).collect()
    }
    want = {}
    for did in (0, 1, 7, 400):
        wide = _synth_audio_samples(did).astype(np.int64)
        for w0 in range(0, wide.shape[0], AUDIO_ENERGY_WIN):
            seg = wide[w0 : w0 + AUDIO_ENERGY_WIN]
            want[(did, w0 // AUDIO_ENERGY_WIN)] = (
                int(seg.size),
                int((seg * seg).sum()),
                int(np.abs(seg).max()),
            )
    assert got == want and len(got) > 4


def test_video_motion_model(spark):
    """Frame-delta sums must equal the synth generator's deltas; the
    first frame emits no row; a doc's row count is n_frames - 1."""
    import numpy as np

    from datafusion_uba_spark.operators.multimodal import (
        _synth_video_frames,
        video_motion_roundtrip,
    )

    docs = spark.createDataFrame([(3,), (10,)], "doc_id long")
    got = {
        (r["doc_id"], r["frame_idx"]): (r["n_frames"], r["motion_abs"])
        for r in video_motion_roundtrip(docs).collect()
    }
    want = {}
    for did in (3, 10):
        frames = _synth_video_frames(did)
        for f in range(1, len(frames)):
            a = frames[f].astype(np.int64)
            b = frames[f - 1].astype(np.int64)
            want[(did, f)] = (len(frames), int(np.abs(a - b).sum()))
    assert got == want
    for did in (3, 10):
        n = len(_synth_video_frames(did))
        assert sum(1 for k in got if k[0] == did) == n - 1


def test_pps_systematic_properties(spark):
    """Total picks == floor(total_weight/step) per stratum boundary
    walk (systematic design invariant), and a doc heavier than the
    step carries multiplicity."""
    from datafusion_uba_spark.operators.sampling import pps_systematic

    docs = spark.createDataFrame(
        [(i, "s1", 100) for i in range(1, 41)]
        + [(99, "s2", 950), (100, "s2", 40)],
        "doc_id long, source string, n_chars long",
    )
    out = pps_systematic(docs, "n_chars", 300, "source", "doc_id")
    rows = out.collect()
    picks_by_stratum: dict = {}
    for r in rows:
        picks_by_stratum[r["source"]] = (
            picks_by_stratum.get(r["source"], 0) + r["picks"]
        )
        assert r["picks"] >= 1
    # s1: 4000 total weight / 300 -> 13 boundary crossings
    assert picks_by_stratum["s1"] == 13
    # s2: 990 / 300 -> 3; the 950-char doc crosses >= 2 boundaries
    assert picks_by_stratum["s2"] == 3
    heavy = [r for r in rows if r["doc_id"] == 99]
    assert heavy and heavy[0]["picks"] >= 2


def test_semantic_index_upsert_equals_rebuild(spark, emb):
    """The SemDeDup index's FAISS-add contract: build on half the
    corpus, upsert the other half — the member table must equal a
    full build of the combined corpus with the SAME stored centroids
    (assignment depends only on (vector, centroids))."""
    import json

    from datafusion_uba_spark.operators import dedup

    old = emb.where("vec_id % 2 = 0")
    new = emb.where("vec_id % 2 = 1")
    try:
        k = dedup.semantic_index_build(old, "sem_up_idx", k=16)
        cents = json.loads(
            spark.table("sem_up_idx__sem_meta").collect()[0][
                "centroids_json"
            ]
        )
        appended = dedup.semantic_index_upsert(new, "sem_up_idx")
        assert appended == new.count() and appended > 0
        dedup.semantic_index_build(
            emb, "sem_full_idx", k=k, centroids=cents
        )
        def rows(t):
            return {
                (r["cluster"], r["vec_id"], tuple(r["vec_q"]), r["vec_n"])
                for r in spark.table(t).collect()
            }

        got, want = rows("sem_up_idx"), rows("sem_full_idx")
        assert got == want and len(got) == emb.count()
        # guards: empty batch is a no-op; missing meta raises
        assert dedup.semantic_index_upsert(new.limit(0), "sem_up_idx") == 0
    finally:
        dedup.drop_semantic_index(spark, "sem_up_idx")
        dedup.drop_semantic_index(spark, "sem_full_idx")


def test_semantic_pairs_from_index_equals_inline(spark, emb):
    """The persisted probe (semantic_index_build +
    semantic_pairs_from_index) must return exactly the pairs the
    inline semantic_pairs_against computes — same fitted centroids,
    same cluster blocking, same exact cosine."""
    from datafusion_uba_spark.operators import dedup

    corpus = emb.where("vec_id % 4 != 0")
    inc = emb.where("vec_id % 4 = 0")
    try:
        dedup.semantic_index_build(corpus, "sem_probe_idx", k=16)
        got = {
            tuple(r)
            for r in dedup.semantic_pairs_from_index(
                spark, "sem_probe_idx", inc, threshold=0.4
            ).collect()
        }
        want = {
            tuple(r)
            for r in dedup.semantic_pairs_against(
                inc, corpus, threshold=0.4, k=16
            ).collect()
        }
        assert got == want and len(got) > 0
    finally:
        dedup.drop_semantic_index(spark, "sem_probe_idx")


def test_token_length_histogram_bucket_edges(spark, tmp_path):
    """The integer floor(log2) bucketing pinned at the exact powers
    of two (the float-log2 off-by-one the docstring warns about):
    n=1 -> bucket 0, n=2,3 -> 1, n=4 -> 2, n=8 -> 3; empty -> -1.

    Authored in BPE-count terms (the histogram rides the merge-table
    tokenizer since r13): every word below is a single character, and
    the guard assertion proves each one survives the greedy merge walk
    as exactly ONE symbol under fixtures/bpe_merges.txt, so token
    count == word count by construction."""
    import os

    from datafusion_uba_spark.operators.bpe import encode_word, load_merges
    from datafusion_uba_spark.queries_llm import q_token_length_histogram

    ranks = {p: i for i, p in enumerate(load_merges())}
    for w in "abcdefgh":
        assert len(encode_word(w, ranks)) == 1

    docs = spark.createDataFrame(
        [
            (1, "a", "s1"),
            (2, "a b", "s1"),
            (3, "a b c", "s1"),
            (4, "a b c d", "s1"),
            (5, "a b c d e f g h", "s2"),
            (6, "", "s2"),
        ],
        "doc_id long, text string, source string",
    )
    sf = str(tmp_path / "hist_sf")
    os.makedirs(sf, exist_ok=True)
    docs.write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    out = {
        (r["source"], r["bucket"]): r
        for r in q_token_length_histogram(spark, sf).collect()
    }
    assert out[("s1", 0)]["n_docs"] == 1          # n=1
    assert out[("s1", 1)]["n_docs"] == 2          # n=2,3
    assert out[("s1", 1)]["tokens_total"] == 5
    assert out[("s1", 2)]["n_docs"] == 1          # n=4
    assert out[("s2", 3)]["n_docs"] == 1          # n=8
    assert out[("s2", -1)]["n_docs"] == 1         # empty
    assert out[("s1", 2)]["bucket_lo"] == 4
    assert out[("s2", -1)]["bucket_lo"] == 0


def test_dedup_rate_by_source_golden(spark, tmp_path):
    """Duplicates charge their OWN source: s2's copy of an s1 doc
    counts as an s2 dup (canonical = lowest doc_id, in s1)."""
    import os

    from datafusion_uba_spark.queries_llm import q_dedup_rate_by_source

    docs = spark.createDataFrame(
        [
            (1, "same text here", "s1"),
            (2, "same text here", "s2"),   # dup of 1, charged to s2
            (3, "unique text a", "s1"),
            (4, "unique text b", "s2"),
        ],
        "doc_id long, text string, source string",
    )
    sf = str(tmp_path / "rate_sf")
    os.makedirs(sf, exist_ok=True)
    docs.write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    out = {
        r["source"]: r for r in q_dedup_rate_by_source(spark, sf).collect()
    }
    assert out["s1"]["n_dups"] == 0 and out["s1"]["n_docs"] == 2
    assert out["s2"]["n_dups"] == 1 and out["s2"]["n_docs"] == 2
    assert out["s2"]["dup_bp"] == 5000
    assert out["s2"]["dup_chars"] == len("same text here")


def test_ann_topk_filtered_honors_predicate(spark, sf_dir):
    """Every returned neighbor must satisfy the metadata predicate,
    and a query whose true nearest neighbor is non-English must NOT
    return it (pre-filter, not post-filter)."""
    from datafusion_uba_spark.queries_llm import q_ann_topk_filtered

    docs = load_table(spark, sf_dir, "documents")
    en = {r["doc_id"] for r in docs.where("lang = 'en'").collect()}
    out = q_ann_topk_filtered(spark, sf_dir).collect()
    assert out
    assert all(r["vec_id"] in en for r in out)
    # per query: ranks are dense 1..k' and cosines non-increasing
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
        cos = [r["cosine_u"] for r in rows]
        assert cos == sorted(cos, reverse=True)


def test_embedding_drift_alignment_bounds(spark, sf_dir):
    """Alignments live on the micro grid in [-1e6, 1e6]; a corpus of
    one source is perfectly aligned with the global centroid."""
    from datafusion_uba_spark.queries_llm import (
        q_embedding_drift_by_source,
    )

    out = q_embedding_drift_by_source(spark, sf_dir).collect()
    assert len(out) >= 2
    for r in out:
        assert -1_000_000 <= r["align_global_u"] <= 1_000_000
        assert r["n_vecs"] >= 1


def test_semantic_empty_corpus_guards(spark, emb):
    """Empty inputs fail loudly or return empty, never NULL-cluster
    garbage: building on an empty corpus raises; probing against an
    empty corpus inline returns an empty, correctly-typed frame."""
    import pytest

    from datafusion_uba_spark.operators import dedup

    empty = emb.limit(0)
    with pytest.raises(ValueError, match="corpus is empty"):
        dedup.semantic_index_build(empty, "sem_never_built")
    out = dedup.semantic_pairs_against(emb.limit(5), empty, k=4)
    assert out.columns == ["cluster", "id_a", "id_b", "cosine_u"]
    assert out.count() == 0


def test_semantic_index_build_rejects_k_centroid_mismatch(spark, emb):
    """Passing both k and explicit centroids with k != len(centroids)
    must raise instead of persisting wrong geometry into the meta row
    (r12 advisor): the stored k seeds the default bucket count, so a
    silent mismatch corrupts every later partition-pruned probe."""
    import pytest

    from datafusion_uba_spark.operators import dedup

    cents = [(0, [0] * 8), (1, [1000] * 8)]
    with pytest.raises(ValueError, match="does not match"):
        dedup.semantic_index_build(
            emb, "sem_geom_mismatch", k=5, centroids=cents
        )
    assert not spark.catalog.tableExists("sem_geom_mismatch")


def test_split_leakage_check_golden(spark, tmp_path):
    """Crafted corpus with KNOWN leakage: two identical docs whose md5
    id-buckets land them in train and test must show up as one leaked
    fingerprint (2 docs) in train_test only; the clean pairs report
    zero but still appear (fixed 3-row schema)."""
    import hashlib
    import os

    from datafusion_uba_spark.queries_llm import q_split_leakage_check

    def bucket(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:4], 16)

    # find ids whose buckets land in train (<58984) and test (>=62260)
    train_ids = [i for i in range(1, 4000) if bucket(i) < 58984]
    test_ids = [i for i in range(1, 4000) if bucket(i) >= 62260]
    rows = [
        (train_ids[0], "leaked content shared verbatim", "s"),
        (test_ids[0], "leaked content shared verbatim", "s"),
        (train_ids[1], "clean train only text", "s"),
        (test_ids[1], "clean test only text", "s"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    sf = str(tmp_path / "leak_sf")
    os.makedirs(sf, exist_ok=True)
    docs.write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    out = {
        r["split_pair"]: (r["n_fingerprints"], r["n_docs"])
        for r in q_split_leakage_check(spark, sf).collect()
    }
    assert out == {
        "train_test": (1, 2),
        "train_val": (0, 0),
        "val_test": (0, 0),
    }


# --- real merge-table BPE ---------------------------------------------------


def test_bpe_merges_fixture_is_regenerable():
    """The checked-in merge table must be exactly what
    tools/gen_bpe_merges.py produces — pins fixture determinism and
    catches hand-edits that would desync the Spark and DuckDB twins."""
    import importlib.util
    import os

    from datafusion_uba_spark.operators import bpe

    spec = importlib.util.spec_from_file_location(
        "gen_bpe_merges",
        os.path.join(
            os.path.dirname(__file__), "..", "tools", "gen_bpe_merges.py"
        ),
    )
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    assert bpe.load_merges() == gen.train(gen.SEED, gen.N_MERGES)
    assert len(bpe.load_merges()) >= 100


def test_bpe_encode_word_semantics():
    """The greedy walk's pinned corners: lowest rank wins over
    leftmost position, within-pass merges are leftmost-first
    non-overlapping ('aaa' + (a,a) -> [aa, a]), merged symbols
    cascade, and unknown characters survive as singletons."""
    from datafusion_uba_spark.operators.bpe import encode_word

    ranks = {("a", "a"): 0}
    assert encode_word("aaa", ranks) == ["aa", "a"]
    assert encode_word("aaaa", ranks) == ["aa", "aa"]
    # rank priority: (b,c) outranks (a,b) even though (a,b) is first
    ranks = {("a", "b"): 1, ("b", "c"): 0}
    assert encode_word("abc", ranks) == ["a", "bc"]
    # cascade: after (t,h) -> th, (th,e) applies
    ranks = {("t", "h"): 0, ("th", "e"): 1}
    assert encode_word("the", ranks) == ["the"]
    assert encode_word("xyz", ranks) == ["x", "y", "z"]
    assert encode_word("a", ranks) == ["a"]


def test_bpe_token_counts_crafted(spark):
    """Doc-level counts over a crafted frame, hand-computed against
    the real fixture: repeated words count once through the Python
    boundary (Zipf factorization) but multiply per occurrence; empty
    and NULL docs count 0; digits and punctuation split off."""
    from datafusion_uba_spark.operators import bpe

    ranks = {p: i for i, p in enumerate(bpe.load_merges())}

    def n(word):
        return len(bpe.encode_word(word, ranks))

    df = spark.createDataFrame(
        [
            (1, "the customer joins the table"),
            (2, "the the the"),
            (3, ""),
            (4, None),
            (5, "x42!"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in bpe.bpe_token_counts(df).collect()
    }
    want = {
        1: 2 * n("the") + n("customer") + n("joins") + n("table"),
        2: 3 * n("the"),
        3: 0,
        4: 0,
        5: n("x") + n("42") + n("!"),  # '42' is ONE digit-run pre-token
    }
    assert got == want
    # the walk genuinely merges: 'the' is one token with this fixture
    assert n("the") == 1 and n("customer") >= 2


# --- bit-set prescreen ------------------------------------------------------


def test_fingerprint_bitset_layout(spark):
    """Pin the physical layout _bitset_probe_expr depends on: the
    bitmap_construct_agg binary stores position p at byte p DIV 8,
    LSB-first within the byte. Probing every position of a known
    pattern through the expression must reproduce the set exactly."""
    from datafusion_uba_spark.operators.dedup import _bitset_probe_expr

    positions = [0, 1, 7, 8, 9, 255, 32766, 32767]
    bm = spark.createDataFrame(
        [(p,) for p in positions], "pos int"
    ).agg(F.bitmap_construct_agg("pos").alias("bits"))
    probe = spark.range(0, 32768).select(
        F.col("id").cast("int").alias("p")
    ).crossJoin(bm)
    got = {
        r["p"]
        for r in probe.where(
            _bitset_probe_expr("bits", "p") == 1
        ).collect()
    }
    assert got == set(positions)


def test_dedup_against_prescreened_equals_exact(spark, sf_dir):
    """The prescreened plan must return EXACTLY dedup_against's answer
    — including under forced slot collisions: bits_log2=8 gives 256
    slots for hundreds of fingerprints, so false maybes are
    guaranteed and only the confirm join can save the result."""
    from datafusion_uba_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.where("doc_id % 4 != 0")
    inc = docs.where("doc_id % 4 = 0")
    want = sorted(
        tuple(r) for r in dedup.dedup_against(inc, corpus).collect()
    )
    assert want, "expected some genuinely new docs"
    for bits in (8, 26):
        got = sorted(
            tuple(r)
            for r in dedup.dedup_against_prescreened(
                inc, corpus, bits_log2=bits
            ).collect()
        )
        assert got == want, f"bits_log2={bits}"


def test_dedup_prescreened_definite_path_skips_corpus(spark):
    """A batch whose fingerprints all miss the bitset must dedup
    correctly with the corpus side of the confirm join empty — and a
    batch of pure corpus copies must all be dropped (every copy is a
    set bit AND a confirmed duplicate)."""
    from datafusion_uba_spark.operators import dedup

    corpus = spark.createDataFrame(
        [(i, f"corpus doc number {i}") for i in range(50)],
        "doc_id long, text string",
    )
    novel = spark.createDataFrame(
        [(1000 + i, f"fresh document {i}") for i in range(10)],
        "doc_id long, text string",
    )
    copies = corpus.select(
        (F.col("doc_id") + 2000).alias("doc_id"), "text"
    )
    got_new = dedup.dedup_against_prescreened(novel, corpus).collect()
    assert {r["doc_id"] for r in got_new} == set(range(1000, 1010))
    assert dedup.dedup_against_prescreened(copies, corpus).count() == 0


def test_curriculum_order_golden(spark, tmp_path):
    """Hand-built 3-shard fixture pinning the curriculum CONTRACT
    (r13 verdict item 4 — the oracle row proves engine parity, this
    pins intent): descending mean-quality order, shard-ascending
    tie-break on an EXACT quality tie (shards 0 and 1 carry identical
    texts), dense ranks 1..3, cum_tokens as the running token budget
    in curriculum order, and truncating per-shard mean (qsum DIV n)."""
    import os

    from datafusion_uba_spark.operators.text import text_stats
    from datafusion_uba_spark.queries_llm import q_curriculum_order

    clean = (
        "the query engine reads the table and the planner picks "
        "a broadcast join when one side is small and the other is big"
    )
    junk = "0101 9999 @@@@ !!!! #### 3333 $$$$ 7777 %%%% 1111"
    rows = [
        (0, junk, "s"),            # shard 0
        (1, junk, "s"),            # shard 1 — exact quality tie with 0
        (2, clean, "s"),           # shard 2 ...
        (34, clean + " twice", "s"),  # ... two docs (34 % 32 == 2)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    sf = str(tmp_path / "curr_sf")
    os.makedirs(sf, exist_ok=True)
    docs.write.mode("overwrite").parquet(f"{sf}/documents.parquet")

    # expected per-shard aggregates derived from text_stats (itself
    # golden-pinned elsewhere); the ordering/tie/cumsum math is done
    # HERE by hand, independent of the operator's window code
    st = {
        r["doc_id"]: r for r in text_stats(docs).collect()
    }
    shards = {}
    for did, r in st.items():
        s = did % 32
        nd, tt, qs = shards.get(s, (0, 0, 0))
        shards[s] = (nd + 1, tt + r["n_tokens"], qs + r["quality_u"])
    exp = [
        {
            "shard": s,
            "n_docs": nd,
            "tokens_total": tt,
            "quality_avg_u": qs // nd,
        }
        for s, (nd, tt, qs) in shards.items()
    ]
    # the fixture must actually exercise what it claims: a strict
    # winner and an exact tie
    qmap = {e["shard"]: e["quality_avg_u"] for e in exp}
    assert qmap[0] == qmap[1], "tie fixture broke"
    assert qmap[2] > qmap[0], "clean text must out-score junk"
    exp.sort(key=lambda e: (-e["quality_avg_u"], e["shard"]))
    cum = 0
    for i, e in enumerate(exp):
        cum += e["tokens_total"]
        e["rank"], e["cum_tokens"] = i + 1, cum

    got = [r.asDict() for r in q_curriculum_order(spark, sf).collect()]
    assert got == exp
    # pins the tie-break concretely: shard 2 first, then 0 before 1
    assert [r["shard"] for r in got] == [2, 0, 1]


def test_bpe_scale_trainer_matches_reference_trainer():
    """tools/bench_bpe_scale.train_indexed (inverted-index + lazy heap)
    must produce the IDENTICAL merge sequence as the naive full-recount
    trainer in tools/gen_bpe_merges.py under the same (count DESC, pair
    ASC) selection rule — otherwise its scale measurements would be of
    a different tokenizer."""
    import importlib.util
    import os
    import re
    from collections import Counter

    def load(name):
        spec = importlib.util.spec_from_file_location(
            name,
            os.path.join(os.path.dirname(__file__), "..", "tools", f"{name}.py"),
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod

    gen = load("gen_bpe_merges")
    scale = load("bench_bpe_scale")

    norm = re.sub(r"\s+", " ", gen.SEED.lower()).strip()
    vocab = dict(Counter(gen.TOKEN_RE.findall(norm)))
    want = gen.train(gen.SEED, 80)
    got = scale.train_indexed(vocab, 80)
    assert got == want


def _hw_milli(tok: str, salt: str = "w") -> int:
    """Python twin of text.hash_weight_milli (60-bit md5 prefix)."""
    import hashlib

    h = int(hashlib.md5(f"{salt}:{tok}".encode()).hexdigest()[:15], 16)
    return h % 2001 - 1000


def test_quality_classifier_golden(spark):
    """Crafted golden for text.quality_classifier_scores: exact logit
    sums vs a Python md5 twin, repeated-token occurrence counting,
    normalization before tokenizing, and the empty-doc contract
    (n_tokens=0, logit 0, keep=False, still one output row)."""
    rows = [
        (1, "a b a"),          # repeated token counts twice
        (2, "  Z  \t z "),     # normalizes to "z z"
        (3, ""),               # empty: scores 0, keep False
        (4, "solo"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in text_ops.quality_classifier_scores(docs).collect()
    }
    assert set(out) == {1, 2, 3, 4}

    exp_logit = {
        1: 2 * _hw_milli("a") + _hw_milli("b"),
        2: 2 * _hw_milli("z"),
        3: 0,
        4: _hw_milli("solo"),
    }
    exp_n = {1: 3, 2: 2, 3: 0, 4: 1}
    import math

    for d in (1, 2, 3, 4):
        r = out[d]
        assert r["n_tokens"] == exp_n[d], d
        assert r["logit_milli"] == exp_logit[d], d
        exp_score = (
            math.floor(exp_logit[d] * 1000.0 / exp_n[d]) if exp_n[d] else 0
        )
        assert r["score_micro"] == exp_score, d
        assert r["keep"] == (exp_logit[d] > 0), d


def test_dsir_importance_golden(spark):
    """Crafted golden for text.dsir_importance: replays the whole
    bucket→ppb→delta→per-doc pipeline in plain Python (md5 16-bit
    buckets, floored ppb, summed deltas) and pins the raw-pool output
    contract — every raw doc appears (token-less raw doc scores 0 /
    selected=False), target docs do NOT appear, occurrence (not
    distinct-token) weighting."""
    import hashlib
    import math

    rows = [
        (100, "x x y"),   # target seed doc
        (1, "x"),         # raw: shares the target's dominant token
        (2, "q"),         # raw: token unseen in target
        (3, ""),          # raw: token-less
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in text_ops.dsir_importance(
            docs, F.col("doc_id") == 100
        ).collect()
    }
    assert set(out) == {1, 2, 3}  # raw pool only; target excluded

    def bucket(tok: str) -> int:
        return int(hashlib.md5(f"f:{tok}".encode()).hexdigest()[:4], 16)

    occ = {100: ["x", "x", "y"], 1: ["x"], 2: ["q"], 3: []}
    t_cnt: dict[int, int] = {}
    r_cnt: dict[int, int] = {}
    for d, toks in occ.items():
        for t in toks:
            b = bucket(t)
            if d == 100:
                t_cnt[b] = t_cnt.get(b, 0) + 1
            else:
                r_cnt[b] = r_cnt.get(b, 0) + 1
    t_tot = sum(t_cnt.values())
    r_tot = sum(r_cnt.values())

    def delta(b: int) -> int:
        pt = (
            math.floor(t_cnt.get(b, 0) * 1000000000.0 / t_tot)
            if t_tot
            else 0
        )
        pr = (
            math.floor(r_cnt.get(b, 0) * 1000000000.0 / r_tot)
            if r_tot
            else 0
        )
        return pt - pr

    for d in (1, 2, 3):
        toks = occ[d]
        imp = sum(delta(bucket(t)) for t in toks)
        r = out[d]
        assert r["n_tokens"] == len(toks), d
        assert r["imp_sum_ppb"] == imp, d
        exp_mean = math.floor(imp * 1.0 / len(toks)) if toks else 0
        assert r["imp_mean_ppb"] == exp_mean, d
        assert r["selected"] == (imp > 0), d
    # doc 1 carries the target's dominant token: must be selected
    assert out[1]["selected"] is True
    # doc 2's token never appears in the target: negative delta
    assert out[2]["selected"] is False


def test_hard_negative_topk_golden(spark):
    """Crafted golden for similarity.hard_negative_topk: negatives
    never share the anchor's label (self is auto-excluded by label),
    ranking is cosine-desc with vec_id tiebreak, margin_u is the
    best-same-label-positive minus the negative in micro-units, and an
    anchor whose label is unique gets NULL margins."""
    rows = [
        (0, [1.0, 0.0], 0),   # anchor A
        (1, [1.0, 0.0], 0),   # B: A's positive, cos 1.0
        (2, [0.6, 0.8], 1),   # C: neg, cos 0.6 vs A
        (3, [0.0, 1.0], 1),   # D: neg, cos 0.0 vs A
        (4, [1.0, 0.0], 2),   # E: neg for A (cos 1.0); unique-label anchor
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    queries = emb.where(F.col("vec_id").isin(0, 4))
    out = similarity.hard_negative_topk(emb, queries, k=3, dim=2).collect()
    by_anchor: dict = {}
    for r in out:
        by_anchor.setdefault(r["query_id"], []).append(r)
    for v in by_anchor.values():
        v.sort(key=lambda r: r["rank"])

    a0 = by_anchor[0]
    assert [(r["vec_id"], r["neg_label"], r["cosine_u"]) for r in a0] == [
        (4, 2, 1_000_000),
        (2, 1, 600_000),
        (3, 1, 0),
    ]
    # margin vs positive B (cos 1.0)
    assert [r["margin_u"] for r in a0] == [0, 400_000, 1_000_000]

    a4 = by_anchor[4]
    # cosine ties broken by vec_id ascending; label-2 anchor: all others
    # are negatives, and no positive exists -> NULL margins
    assert [(r["vec_id"], r["cosine_u"]) for r in a4] == [
        (0, 1_000_000),
        (1, 1_000_000),
        (2, 600_000),
    ]
    assert all(r["margin_u"] is None for r in a4)
    assert set(by_anchor) == {0, 4}


def test_corpus_snapshot_diff_golden(spark, tmp_path):
    """Crafted golden for corpus_snapshot_diff: one doc per status
    plus the in-neither case, and the source-attribution rule (a
    removed doc's source comes from snapshot A)."""
    import os

    from datafusion_uba_spark.queries_llm import q_corpus_snapshot_diff

    rows = [
        (0, "zero", "sA"),    # 0 % 23 == 0 and 0 % 29 == 0: in neither
        (1, "one", "sB"),     # in both, text unchanged -> unchanged
        (5, "five", "sB"),    # in both, % 5 == 0 -> changed
        (23, "tw3", "sC"),    # not in A (23 % 23), in B -> added
        (29, "tw9", "sD"),    # in A, not in B (29 % 29) -> removed
        (2, None, "sE"),      # NULL text in BOTH: presence flags must
                              # classify it unchanged, never added
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    sf = str(tmp_path / "snapdiff_sf")
    os.makedirs(sf, exist_ok=True)
    docs.write.mode("overwrite").parquet(f"{sf}/documents.parquet")

    got = {
        (r["source"], r["status"]): r["n_docs"]
        for r in q_corpus_snapshot_diff(spark, sf).collect()
    }
    assert got == {
        ("sB", "unchanged"): 1,
        ("sB", "changed"): 1,
        ("sC", "added"): 1,
        ("sD", "removed"): 1,
        ("sE", "unchanged"): 1,
    }


def test_embedding_norm_audit_malformed_vectors(spark, tmp_path):
    """The audit must SURVIVE the data it flags: NaN components,
    wrong-dim vectors, and zero vectors all land in their counters
    instead of crashing the ANSI quant/dot path; an all-malformed
    label yields NULL norm stats (guarded div-by-zero)."""
    import os

    from datafusion_uba_spark.queries_llm import q_embedding_norm_audit

    unit = [1.0] + [0.0] * 63
    zero = [0.0] * 64
    nan_vec = [float("nan")] + [0.0] * 63
    short = [1.0, 2.0]
    rows = [
        (0, unit, 0),
        (1, zero, 0),
        (2, nan_vec, 0),
        (3, short, 1),   # label 1 is ALL-malformed
        (4, None, 1),    # NULL vector: malformed, lands in n_bad_dim
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    sf = str(tmp_path / "normaudit_sf")
    os.makedirs(sf, exist_ok=True)
    emb.write.mode("overwrite").parquet(f"{sf}/embeddings.parquet")

    got = {r["label"]: r for r in q_embedding_norm_audit(spark, sf).collect()}
    l0 = got[0]
    assert l0["n_vecs"] == 3
    assert l0["n_bad_dim"] == 0
    assert l0["n_nonfinite"] == 1
    assert l0["n_zero_norm"] == 1
    # unit vector quantizes to 1e6 -> n2 = 1e12; zero vector -> 0;
    # NaN vector excluded from norm stats
    assert l0["min_n2_u"] == 0
    assert l0["max_n2_u"] == 1_000_000_000_000
    assert l0["avg_n2_u"] == 500_000_000_000
    l1 = got[1]
    assert l1["n_vecs"] == 2
    assert l1["n_bad_dim"] == 2  # short AND the NULL vector
    assert l1["n_nonfinite"] == 0
    assert l1["n_zero_norm"] == 0
    assert l1["min_n2_u"] is None
    assert l1["max_n2_u"] is None
    assert l1["avg_n2_u"] is None


def test_dedup_threshold_sweep_golden(spark, tmp_path):
    """Crafted golden for dedup_threshold_sweep: an exact-duplicate
    pair (J=1.0) and an engineered J=0.75 pair pin the per-threshold
    pair/doc counts, the basis-point cutoff exactness (0.75 included
    AT 7500, excluded at 8000), and that every threshold row
    appears."""
    import os

    from datafusion_uba_spark.queries_llm import q_dedup_threshold_sweep

    rows = [
        (1, "a b c d e f", "s"),
        (2, "a b c d e f", "s"),      # J(1,2) = 1.0
        (3, "p q r s t u", "s"),      # shingles pqr qrs rst stu
        (4, "p q r s t", "s"),        # subset: inter 3 / union 4 -> J = 0.75
        (5, "lone wolf document here", "s"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    sf = str(tmp_path / "sweep_sf")
    os.makedirs(sf, exist_ok=True)
    docs.write.mode("overwrite").parquet(f"{sf}/documents.parquet")

    got = {
        r["threshold_bp"]: (r["n_pairs"], r["n_docs_flagged"])
        for r in q_dedup_threshold_sweep(spark, sf).collect()
    }
    assert got == {
        7000: (2, 4),
        7500: (2, 4),   # J=0.75 floors to exactly 7500 -> included
        8000: (1, 2),
        8500: (1, 2),
        9000: (1, 2),
    }


def test_packing_contamination_golden(spark, tmp_path):
    """Crafted golden for packing_contamination: single-symbol docs
    (1 BPE token each) with distinct sources, expected shard grouping
    replayed through the md5-bucket twin — every populated shard packs
    into one window, and a window is multi-doc/mixed-source iff the
    shard drew more than one doc."""
    import hashlib
    import os

    from datafusion_uba_spark.queries_llm import q_packing_contamination

    def shard_of(doc_id: int) -> int:
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:4], 16) % 8

    rows = [(i, "a", f"src{i}") for i in range(10)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    sf = str(tmp_path / "packcont_sf")
    os.makedirs(sf, exist_ok=True)
    docs.write.mode("overwrite").parquet(f"{sf}/documents.parquet")

    per_shard: dict = {}
    for i, _, _ in rows:
        per_shard[shard_of(i)] = per_shard.get(shard_of(i), 0) + 1

    got = {r["shard"]: r for r in q_packing_contamination(spark, sf).collect()}
    assert set(got) == set(per_shard)
    for sh, n in per_shard.items():
        r = got[sh]
        # 1 token per doc, capacity 256 -> always exactly one window
        assert r["n_windows"] == 1, sh
        assert r["n_multi_doc"] == (1 if n > 1 else 0), sh
        # every doc has a distinct source -> mixed iff multi-doc
        assert r["n_mixed_source"] == (1 if n > 1 else 0), sh
        assert r["mixed_bp"] == (10000 if n > 1 else 0), sh


def test_embedding_coverage_audit_golden(spark, tmp_path):
    """Crafted golden for embedding_coverage_audit: a doc without an
    embedding lands in its SOURCE's violations, an embedding without a
    doc lands in the global orphan row, and clean sources report
    zero violations with exact totals."""
    import os

    from datafusion_uba_spark.queries_llm import q_embedding_coverage_audit

    docs = spark.createDataFrame(
        [(1, "a", "s1"), (2, "b", "s1"), (3, "c", "s2")],
        "doc_id long, text string, source string",
    )
    emb = spark.createDataFrame(
        [(1, [1.0] * 64, 0), (3, [2.0] * 64, 1), (99, [3.0] * 64, 2)],
        "vec_id long, embedding array<float>, label int",
    )
    sf = str(tmp_path / "cov_sf")
    os.makedirs(sf, exist_ok=True)
    docs.write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    emb.write.mode("overwrite").parquet(f"{sf}/embeddings.parquet")

    got = {
        r["check_name"]: (r["violations"], r["total"])
        for r in q_embedding_coverage_audit(spark, sf).collect()
    }
    assert got == {
        "docs_missing_embedding:s1": (1, 2),  # doc 2 has no vector
        "docs_missing_embedding:s2": (0, 1),
        "embeddings_without_doc": (1, 3),     # vec 99 has no doc
    }


def test_md5_prefix_int_contract(spark):
    """The ONE home of the portable md5-prefix family: value equals
    the Python/hashlib twin (and therefore DuckDB's ('0x'||substr)
    parse), n_hex bounds are enforced, and 15 hex chars stay within
    a signed 64-bit long."""
    import hashlib

    import pytest as _pytest

    from datafusion_uba_spark.operators.hashing import md5_prefix_int

    df = spark.createDataFrame([("alpha",), ("",)], "s string")
    got = {
        r["s"]: (r["h4"], r["h15"])
        for r in df.select(
            "s",
            md5_prefix_int(F.col("s"), 4).alias("h4"),
            md5_prefix_int(F.col("s"), 15).alias("h15"),
        ).collect()
    }
    for s in ("alpha", ""):
        hx = hashlib.md5(s.encode()).hexdigest()
        assert got[s] == (int(hx[:4], 16), int(hx[:15], 16)), s
        assert 0 <= got[s][1] < (1 << 60)
    for bad in (0, 16, -1):
        with _pytest.raises(ValueError):
            md5_prefix_int(F.col("s"), bad)


def test_dedup_canonical_pick_golden(spark, tmp_path):
    """Hand-built fixture pinning the survivor-selection CONTRACT (the
    oracle row proves engine parity; this pins intent): per near-dup
    cluster, keep the LONGEST member; on an exact length tie keep the
    lowest doc_id; cluster_id is the component's min label; unpaired
    docs never appear; n_dropped = n_members - 1."""
    import os

    from datafusion_uba_spark.queries_llm import q_dedup_canonical_pick

    base = (
        "the query engine reads the table and the planner picks a "
        "broadcast join when one side is small and the other side is "
        "big so the scan prunes row groups and the aggregate combines "
        "map side before the final exchange runs"
    )
    other = (
        "customers arrive daily and the sessions build funnels while "
        "retention cohorts track the weekly purchase behavior across "
        "every nation region segment and the windowed counts roll up "
        "into the dashboard tiles that analysts read each morning"
    )
    rows = [
        (1, base, "en", "s", 0),
        (2, base + " plus two extra trailing words here", "en", "s", 0),
        (3, base, "en", "s", 0),            # exact dup of 1
        (10, other, "en", "t", 0),          # tie pair with 11
        (11, other, "en", "t", 0),
        (20, "completely different short text", "en", "u", 0),  # unpaired
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf = str(tmp_path / "canon_sf")
    os.makedirs(sf, exist_ok=True)
    docs.write.mode("overwrite").parquet(f"{sf}/documents.parquet")

    got = {
        (r.cluster_id, r.kept_doc_id, r.kept_len, r.n_members, r.n_dropped)
        for r in q_dedup_canonical_pick(spark, sf).collect()
    }
    lens = {r[0]: len(r[1]) for r in rows}
    assert got == {
        # longest wins: doc 2 (base + suffix) over exact dups 1 and 3
        (1, 2, lens[2], 3, 2),
        # exact length tie: lowest doc_id (10) wins
        (10, 10, lens[10], 2, 1),
    }, got


def test_dedup_canonical_pick_accepts_precomputed_components(spark, sf_dir):
    """r15 verdict #3: a pipeline that already materialized the
    clustering (the dedup_clusters composition) must be able to hand
    it to the pick instead of paying pairs + star-contraction twice —
    and the result must be IDENTICAL to the self-contained row."""
    from datafusion_uba_spark.operators import dedup
    from datafusion_uba_spark.queries_llm import _docs, q_dedup_canonical_pick

    docs = _docs(spark, sf_dir)
    comp = dedup.neardup_components(
        dedup.ngram_jaccard_pairs(docs, threshold=0.8)
    ).localCheckpoint()  # materialized, as a real pipeline would hold it

    inline = {tuple(r) for r in q_dedup_canonical_pick(spark, sf_dir).collect()}
    reused = {
        tuple(r)
        for r in q_dedup_canonical_pick(spark, sf_dir, components=comp).collect()
    }
    assert inline == reused
    assert inline  # non-vacuous: sf0.001 documents do contain near-dups
