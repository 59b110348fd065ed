"""Text-analysis operators for LLM training-data pipelines.

Column-level building blocks (normalize / tokenize / shingle) plus
document-level operators: language ID, quality scoring, token counting,
and content fingerprinting. Everything is built from Catalyst built-in
expressions — no Python UDFs — so the whole pipeline stays inside
whole-stage codegen and scales as a narrow map stage (zero shuffles for
per-document outputs; the only shuffles in this module's consumers are
the explicit joins/aggregations in dedup.py).

Design constraint for oracle parity: every expression here has an exact
DuckDB-SQL equivalent (md5/sha256 hex digests match across engines;
regexes are restricted to constructs Java regex and RE2 interpret
identically; float math is per-row scalar IEEE arithmetic, never an
aggregate over floats).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def normalize_text(text: Column | str) -> Column:
    """Lowercase + collapse runs of whitespace + trim."""
    return F.trim(F.regexp_replace(F.lower(_col(text)), r"\s+", " "))


def normalize_text_sql(text_expr: str) -> str:
    """DuckDB expression computing exactly normalize_text(text_expr)."""
    return f"trim(regexp_replace(lower({text_expr}), '\\s+', ' ', 'g'))"


def tokens_sql(text_expr: str) -> str:
    """DuckDB whitespace split of normalize_text_sql(text_expr) — the
    oracle twin of ``tokens`` for non-empty documents (an empty
    document splits to [''] here, to [] in ``tokens``)."""
    return f"string_split({normalize_text_sql(text_expr)}, ' ')"


def tokens_from_norm(norm: Column | str) -> Column:
    """Whitespace tokens of an ALREADY-normalized text column.

    The staged building block: callers materialize ``normalize_text``
    as its own projection first, so the (expensive) regexp chain is
    computed exactly once per row instead of being re-inlined into
    every consumer expression. Empty documents produce an empty array,
    not [''].
    """
    n = _col(norm)
    return F.when(n == "", F.array().cast("array<string>")).otherwise(
        F.split(n, " ")
    )


def tokens(text: Column | str) -> Column:
    """Whitespace tokens of the normalized text (array<string>).

    Single-expression convenience form (inlines the normalize chain);
    for per-document pipelines over many features use the staged
    ``tokens_from_norm`` so the chain is shared — see text_stats.
    """
    return tokens_from_norm(normalize_text(text))


def shingles_from_tokens(toks: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a token-array column.

    Documents with fewer than ``n`` tokens produce an empty array.
    """
    t = _col(toks)
    sh = F.transform(
        F.sequence(F.lit(1), F.size(t) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(t, i, n)),
    )
    return F.when(F.size(t) >= n, F.array_distinct(sh)).otherwise(
        F.array().cast("array<string>")
    )


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles (array<string>), from raw text."""
    return shingles_from_tokens(tokens(text), n)


# --- language identification ---------------------------------------------

# Tiny per-language stopword lists for the n-gram/stopword heuristic.
# The point is a deterministic, engine-portable classifier, not SOTA
# lang-id; accuracy on real sentences is covered by unit tests.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "a", "that", "it", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "una", "los", "es"),
    "de": ("der", "die", "das", "und", "ist", "ein", "eine", "nicht", "mit", "zu"),
    "fr": ("le", "la", "les", "et", "est", "une", "dans", "que", "pour", "du"),
}
# Deterministic priority order on score ties (also the CASE order the
# DuckDB oracle uses).
LANG_PRIORITY: tuple[str, ...] = ("en", "es", "de", "fr", "zh")

_CJK_RE = f"[{chr(0x4E00)}-{chr(0x9FFF)}]"


def lang_scores_from_tokens(toks: Column | str) -> dict[str, Column]:
    """Per-language integer evidence scores from a token-array column.

    Latin languages: number of tokens that are stopwords of that
    language (with multiplicity). zh: number of tokens containing CJK
    codepoints.
    """
    t = _col(toks)
    scores: dict[str, Column] = {}
    for lang, words in LANG_STOPWORDS.items():
        wl = F.array(*[F.lit(w) for w in words])
        scores[lang] = F.size(F.filter(t, lambda x: F.array_contains(wl, x)))
    scores["zh"] = F.size(F.filter(t, lambda x: x.rlike(_CJK_RE)))
    return scores


def lang_scores(text: Column | str) -> dict[str, Column]:
    """Per-language scores from raw text (inlines the tokenize chain)."""
    return lang_scores_from_tokens(tokens(text))


def lang_argmax(scores: dict[str, Column]) -> Column:
    """argmax of per-language score columns, ties broken by
    LANG_PRIORITY order; 'und' when every score is 0.

    Feed this COLUMNS (one projection layer below), not raw score
    expressions: the argmax references every score ~|langs| times, so
    inlining the tokenize chain here is what blew the round-2 plan out
    of whole-stage codegen (~30 copies of split/filter per row,
    interpreted-mode eval — VERDICT.md r2 'What's wrong #1')."""
    ordered = [(lang, scores[lang]) for lang in LANG_PRIORITY]
    pred = None
    for lang, s in ordered:
        cond = (s > 0) & reduce(
            lambda a, b: a & b, [s >= o for _, o in ordered]
        )
        pred = F.when(cond, lang) if pred is None else pred.when(cond, lang)
    return pred.otherwise("und")


def language_id(text: Column | str) -> Column:
    """Predicted language code as ONE expression (for ad-hoc use on
    small data; text_stats uses the staged form)."""
    return lang_argmax(lang_scores(text))


def language_id_oracle_sql(text_expr: str) -> str:
    """DuckDB expression computing exactly language_id(text_expr)."""
    toks = tokens_sql(text_expr)
    score = {}
    for lang, words in LANG_STOPWORDS.items():
        wl = "[" + ", ".join(f"'{w}'" for w in words) + "]"
        score[lang] = (
            f"len(list_filter({toks}, t -> list_contains({wl}, t)))"
        )
    score["zh"] = (
        f"len(list_filter({toks}, t -> regexp_matches(t, '{_CJK_RE}')))"
    )
    branches = []
    for lang in LANG_PRIORITY:
        ge = " AND ".join(
            f"{score[lang]} >= {score[o]}" for o in LANG_PRIORITY if o != lang
        )
        branches.append(f"WHEN {score[lang]} > 0 AND {ge} THEN '{lang}'")
    return "CASE " + " ".join(branches) + " ELSE 'und' END"


# --- token counting --------------------------------------------------------

# BPE-ish pre-tokenizer classes: letter runs, digit runs, single
# non-alnum-non-space marks. Same interpretation in Java regex and RE2.
BPE_TOKEN_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def token_count(text: Column | str) -> Column:
    """Whitespace token count (0 for empty docs)."""
    return F.size(tokens(text))


def bpe_token_count(text: Column | str) -> Column:
    """Count of BPE-ish pre-tokenizer matches over normalized text."""
    return F.regexp_count(normalize_text(text), F.lit(BPE_TOKEN_RE))


# --- quality scoring -------------------------------------------------------


def _bp(num: Column, den: Column) -> Column:
    """Exact basis-point ratio: floor(num * 10000 / den) as bigint.

    Why integers: ``round(double, n)`` is NOT portable across engines
    (Spark rounds the shortest decimal repr via BigDecimal HALF_UP,
    DuckDB multiplies in binary), so hashed ratio outputs use exact
    integer arithmetic — floor of an IEEE division of exactly-
    representable ints is bit-identical everywhere.
    """
    return F.floor((num * 10000) / F.greatest(den, F.lit(1))).cast("long")


def quality_features(text: Column | str) -> dict[str, Column]:
    """Deterministic per-document quality features.

    Ratios are integer basis points (0..10000), never floats — see _bp.
    """
    t = _col(text)
    norm = normalize_text(t)
    toks = tokens(t)
    n_tok = F.size(toks)
    n_chars = F.length(norm)
    n_alpha = F.length(F.regexp_replace(norm, "[^a-z]", ""))
    n_digit = F.length(F.regexp_replace(norm, "[^0-9]", ""))
    n_punct = F.length(F.regexp_replace(norm, "[a-z0-9 ]", ""))
    en_sw = F.array(*[F.lit(w) for w in LANG_STOPWORDS["en"]])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(en_sw, x)))
    return {
        "n_tokens": n_tok,
        "n_chars": n_chars,
        "alpha_bp": _bp(n_alpha, n_chars),
        "digit_bp": _bp(n_digit, n_chars),
        "punct_bp": _bp(n_punct, n_chars),
        "stopword_bp": _bp(n_stop, n_tok),
        "avg_token_len_centi": F.floor(
            (n_alpha * 100) / F.greatest(n_tok, F.lit(1))
        ).cast("long"),
        "uniq_token_bp": _bp(F.size(F.array_distinct(toks)), n_tok),
    }


def quality_score(text: Column | str) -> Column:
    """Composite quality score in integer micro-units (0..1_000_000).

    A linear blend with fixed weights: rewards alphabetic content,
    some stopword signal, and lexical diversity; penalizes digit/punct
    noise and degenerate length. Pure integer arithmetic over the
    basis-point features, so the value is exact in any engine; divide
    by 1e6 for the [0, 1] reading.
    """
    f = quality_features(text)
    s = (
        35 * f["alpha_bp"]
        + 25 * f["uniq_token_bp"]
        + 20 * F.least(4 * f["stopword_bp"], F.lit(10000))
        + 20
        * F.least(
            F.floor((f["n_tokens"] * 10000) / F.lit(64)).cast("long"),
            F.lit(10000),
        )
        - 30 * f["digit_bp"]
        - 30 * f["punct_bp"]
    )
    # explicit null guard: Spark's least/greatest SKIP nulls, so a null
    # text would otherwise clamp to a PERFECT 1_000_000 score
    return (
        F.when(
            s.isNotNull(),
            F.greatest(F.least(s, F.lit(1_000_000)), F.lit(0)),
        )
        .cast("long")
    )


# --- fingerprinting --------------------------------------------------------


def content_fingerprint(text: Column | str) -> Column:
    """sha256 hex of the normalized text — exact-dedup key."""
    return F.sha2(normalize_text(text), 256)


def minhash_fingerprint(text: Column | str, n: int = 3) -> Column:
    """Winnowing-style content fingerprint: the minimum md5 hex digest
    over word n-gram shingles (md5 is identical in DuckDB, keeping this
    oracle-checkable; the xxhash64 path in dedup.py is the fast one).
    Empty/short docs fall back to the full-content fingerprint."""
    sh = word_shingles(text, n)
    return F.when(
        F.size(sh) > 0, F.array_min(F.transform(sh, lambda s: F.md5(s)))
    ).otherwise(content_fingerprint(text))


WINNOW_K = 8  # character k-gram length
WINNOW_W = 4  # winnowing window (in k-grams)
WINNOW_MAX_CHARS = 256  # fingerprint the normalized prefix only
# winnow_pairs defaults — module constants so the DuckDB oracles in
# queries_llm interpolate the SAME values the operator uses (a changed
# default here silently desynchronizing the oracle was an ADVICE item)
WINNOW_MIN_SHARED = 5  # min shared fingerprints to emit a pair
WINNOW_MAX_DF = 20  # drop fingerprints appearing in more docs (boilerplate)


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    max_chars: int = WINNOW_MAX_CHARS,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    MOSS algorithm): hash every character ``k``-gram of the normalized
    text, slide a ``w``-gram window over the hash sequence, keep each
    window's MINIMUM hash, dedup. Guarantee: two documents sharing any
    substring of length >= w + k - 1 (inside the fingerprinted prefix)
    share at least one fingerprint — the standard robust sketch for
    plagiarism/near-dup detection.

    Engine-portability choice: the "hash" is the md5 HEX STRING and
    window-min is lexicographic min over those strings — md5 and
    string ordering are identical in DuckDB, so the whole pipeline
    (including the approximation) replays exactly in the oracle, where
    an xxhash64 integer pipeline could not. ``max_chars`` bounds the
    per-doc work to O(max_chars) digests (the standard
    prefix-fingerprint trade; raise it for long-document corpora).

    Output: (id, n_kgrams, n_fingerprints, winnow_digest) where
    winnow_digest = md5 of the sorted, concatenated fingerprint set
    (NULL when the text is shorter than k) — a stable set identity two
    engines can hash-compare.

    Plan: staged narrow projections (norm -> grams -> window mins ->
    digest), no shuffle, HOFs over per-row arrays only.
    """
    s0 = df.select(
        F.col(id_col),
        F.substring(normalize_text(text_col), 1, max_chars).alias("__p"),
    )
    # NB sequence(1, 0) counts DOWN in Spark ([1, 0]), so the short-text
    # case needs an explicit empty-array branch, not a 0 upper bound
    s1 = s0.selectExpr(
        id_col,
        f"CASE WHEN length(__p) >= {k} THEN "
        f"transform(sequence(1, length(__p) - {k} + 1), "
        f"i -> md5(substring(__p, i, {k}))) "
        f"ELSE CAST(array() AS array<string>) END AS __grams",
    )
    s2 = s1.selectExpr(
        id_col,
        "size(__grams) AS n_kgrams",
        f"CASE WHEN size(__grams) >= {w} THEN "
        f"array_sort(array_distinct(transform("
        f"sequence(1, size(__grams) - {w} + 1), "
        f"j -> array_min(slice(__grams, j, {w}))))) "
        f"WHEN size(__grams) > 0 THEN array_sort(array_distinct(__grams)) "
        f"ELSE NULL END AS __fps",
    )
    return s2.selectExpr(
        id_col,
        "n_kgrams",
        "coalesce(size(__fps), 0) AS n_fingerprints",
        "CASE WHEN __fps IS NOT NULL THEN md5(array_join(__fps, '')) END"
        " AS winnow_digest",
    )


def winnow_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    max_chars: int = WINNOW_MAX_CHARS,
    min_shared: int = 5,
    max_df: int | None = 20,
) -> DataFrame:
    """Near-duplicate candidate pairs by shared winnowing fingerprints
    (how MOSS actually uses the sketch): explode each doc's fingerprint
    set, equi-join on the fingerprint, count shared prints per pair.

    ``min_shared`` filters incidental overlap; ``max_df`` drops
    fingerprints appearing in more than that many docs before the join
    (boilerplate/template substrings are the hot keys here — same df^2
    hazard as the n-gram inverted index, same guard; None disables).
    Defaults are tuned on the template-heavy synthetic corpus, where
    loose settings (max_df=100, min_shared=2) flag 70% of ALL pairs as
    related through shared boilerplate 8-grams; (20, 5) keeps the 185
    substantial-overlap pairs at sf0.1. Output: (doc_a, doc_b,
    shared_fps) with doc_a < doc_b.
    """
    s0 = df.select(
        F.col(id_col).alias("__id"),
        F.substring(normalize_text(text_col), 1, max_chars).alias("__p"),
    )
    s1 = s0.selectExpr(
        "__id",
        f"CASE WHEN length(__p) >= {k} THEN "
        f"transform(sequence(1, length(__p) - {k} + 1), "
        f"i -> md5(substring(__p, i, {k}))) "
        f"ELSE CAST(array() AS array<string>) END AS __grams",
    )
    s2 = s1.selectExpr(
        "__id",
        f"CASE WHEN size(__grams) >= {w} THEN "
        f"array_distinct(transform(sequence(1, size(__grams) - {w} + 1), "
        f"j -> array_min(slice(__grams, j, {w})))) "
        f"WHEN size(__grams) > 0 THEN array_distinct(__grams) "
        f"ELSE CAST(array() AS array<string>) END AS __fps",
    )
    # explode_outer + null guard: same InferFiltersFromGenerate dodge
    # as dedup.ngram_jaccard_pairs (the inferred size>0 filter would
    # drag the md5 chain into a pre-shuffle interpreted scan Filter).
    # The pin: posting has three consumers (the dfreq aggregate and
    # both sides of the fingerprint self-join) — unpinned, each one
    # re-runs the O(max_chars) md5 k-gram + window-min chain per doc
    # (4 documents scans in the executed plan); the barrier computes
    # the chain once and the consumers read the skinny (id, fp) frame.
    posting = (
        s2.select("__id", F.explode_outer("__fps").alias("__fp"))
        .where(F.col("__fp").isNotNull())
        .localCheckpoint(eager=False)
    )
    if max_df is not None:
        dfreq = posting.groupBy("__fp").agg(F.count(F.lit(1)).alias("__df"))
        posting = posting.join(
            dfreq.where(F.col("__df") <= max_df), "__fp"
        ).select("__id", "__fp")
    a = posting.alias("a")
    b = posting.alias("b")
    return (
        a.join(
            b,
            (F.col("a.__fp") == F.col("b.__fp"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .groupBy(
            F.col("a.__id").alias("doc_a"), F.col("b.__id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .where(F.col("shared_fps") >= min_shared)
    )


def text_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document text-analysis summary: one flat row per doc.

    STAGED plan (the round-2 fix): each dependency level is its own
    projection — norm → toks → token/char counts → ratios/argmax — so
    every expensive expression (regexp chain, split, array filters) is
    computed once per row and each Project stays small enough for
    whole-stage codegen. Catalyst's CollapseProject deliberately does
    NOT re-inline these: every intermediate column is non-cheap and
    referenced more than once downstream. The round-2 single-expression
    form re-derived norm/toks ~30x per row and fell out of codegen into
    interpreted row-at-a-time eval (261 s / 5k docs); the staged form
    is the same math with shared subexpressions.

    Zero shuffles: still a pure narrow map stage. Values are identical
    to the round-2 expressions, so the DuckDB oracle is unchanged.
    """
    # L0: normalize once (the one regexp_replace chain)
    s0 = df.select(F.col(id_col), normalize_text(text_col).alias("__norm"))
    # L1: tokens + char-class counts, all from __norm
    s1 = s0.select(
        id_col,
        "__norm",
        tokens_from_norm(F.col("__norm")).alias("__toks"),
        F.length("__norm").alias("__n_chars"),
        F.length(F.regexp_replace("__norm", "[^a-z]", "")).alias("__n_alpha"),
        F.length(F.regexp_replace("__norm", "[^0-9]", "")).alias("__n_digit"),
        F.length(F.regexp_replace("__norm", "[a-z0-9 ]", "")).alias("__n_punct"),
        F.regexp_count(F.col("__norm"), F.lit(BPE_TOKEN_RE)).alias("__n_bpe"),
    )
    # L2: token-derived counts, per-language scores, shingles
    scores = lang_scores_from_tokens(F.col("__toks"))
    s2 = s1.select(
        id_col,
        "__norm",
        "__n_chars",
        "__n_alpha",
        "__n_digit",
        "__n_punct",
        "__n_bpe",
        F.size("__toks").alias("__n_tok"),
        F.size(F.array_distinct("__toks")).alias("__n_uniq"),
        shingles_from_tokens(F.col("__toks")).alias("__sh"),
        *[scores[lang].alias(f"__sc_{lang}") for lang in LANG_PRIORITY],
    )
    # L3: basis-point ratios + fingerprints (cheap arithmetic on counts;
    # __sc_en doubles as the en-stopword count of quality_features)
    s3 = s2.select(
        id_col,
        F.col("__n_tok").alias("n_tokens"),
        F.col("__n_bpe").alias("n_bpe_tokens"),
        F.col("__n_chars").alias("n_chars_norm"),
        _bp(F.col("__n_alpha"), F.col("__n_chars")).alias("alpha_bp"),
        _bp(F.col("__n_digit"), F.col("__n_chars")).alias("__digit_bp"),
        _bp(F.col("__n_punct"), F.col("__n_chars")).alias("__punct_bp"),
        _bp(F.col("__sc_en"), F.col("__n_tok")).alias("stopword_bp"),
        _bp(F.col("__n_uniq"), F.col("__n_tok")).alias("uniq_token_bp"),
        F.floor((F.col("__n_alpha") * 100) / F.greatest(F.col("__n_tok"), F.lit(1)))
        .cast("long")
        .alias("avg_token_len_centi"),
        lang_argmax(
            {lang: F.col(f"__sc_{lang}") for lang in LANG_PRIORITY}
        ).alias("lang_pred"),
        F.sha2(F.col("__norm"), 256).alias("fingerprint"),
        F.when(
            F.size("__sh") > 0,
            F.array_min(F.transform(F.col("__sh"), lambda s: F.md5(s))),
        )
        .otherwise(F.sha2(F.col("__norm"), 256))
        .alias("shingle_fp"),
    )
    # L4: composite score from the bp columns (same blend as quality_score)
    score = (
        35 * F.col("alpha_bp")
        + 25 * F.col("uniq_token_bp")
        + 20 * F.least(4 * F.col("stopword_bp"), F.lit(10000))
        + 20
        * F.least(
            F.floor((F.col("n_tokens") * 10000) / F.lit(64)).cast("long"),
            F.lit(10000),
        )
        - 30 * F.col("__digit_bp")
        - 30 * F.col("__punct_bp")
    )
    return s3.select(
        id_col,
        "n_tokens",
        "n_bpe_tokens",
        "n_chars_norm",
        "alpha_bp",
        "stopword_bp",
        "uniq_token_bp",
        "avg_token_len_centi",
        # null guard: least/greatest skip nulls — without it a null
        # text scores a perfect 1_000_000 (n_tokens is null iff text is)
        F.when(
            F.col("n_tokens").isNotNull(),
            F.greatest(F.least(score, F.lit(1_000_000)), F.lit(0)),
        )
        .cast("long")
        .alias("quality_u"),
        "lang_pred",
        "fingerprint",
        "shingle_fp",
    )


# --- vocabulary profiling ---------------------------------------------------


def vocab_topk(
    df: DataFrame,
    k: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus vocabulary profile: the ``k`` most frequent normalized
    whitespace tokens with occurrence and document frequencies — the
    inspection query every training-data pipeline runs before choosing
    stopword/df cutoffs (e.g. ngram_jaccard_pairs' ``max_df``) and the
    input to tokenizer-vocabulary sanity checks.

    Plan shape at 100 TB: one narrow explode (token strings only — the
    normalize chain stays post-shuffle, see the explode_outer note in
    dedup.ngram_jaccard_pairs), a partial+final hash aggregate keyed on
    token (count + distinct-doc count), then TakeOrderedAndProject for
    the top k — no full sort shuffle, no collect. Deterministic total
    order: (n_occurrences desc, token asc) breaks count ties.

    Output: (token, n_occurrences, n_docs).
    """
    base = df.select(
        F.col(id_col).alias("__id"),
        normalize_text(text_col).alias("__norm"),
    )
    # explode_OUTER + null guard, not inner explode: the optimizer
    # would infer size(tokens)>0, substituting the normalize chain
    # into a pre-shuffle interpreted scan filter (dedup.py:139 disease)
    toks = base.select(
        "__id", F.explode_outer(tokens_from_norm(F.col("__norm"))).alias("token")
    ).where(F.col("token").isNotNull())
    agg = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.countDistinct("__id").alias("n_docs"),
    )
    return agg.orderBy(
        F.col("n_occurrences").desc(), F.col("token").asc()
    ).limit(k)


# --- PII redaction ----------------------------------------------------------

# Patterns restricted to the common syntax subset of Java regex (Spark)
# and RE2 (DuckDB): character classes + bounded repetition only — no
# backreferences, no lookaround — so the DuckDB oracle replays them
# verbatim and both engines redact identical spans.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("url", r"https?://[^\s]+", "<URL>"),
    # long digit runs (phones incl. +CC prefix, SSNs, account ids);
    # 7+ chars starting/ending on a digit (or leading +) avoids
    # years/quantities
    ("longnum", r"[+0-9][0-9 ()+.-]{5,}[0-9]", "<NUM>"),
]


def redact_pii(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Scrub the standard PII surface forms (emails, URLs, long digit
    runs) from a text column — the mandatory pre-training hygiene pass.
    Pure ``regexp_replace``/``regexp_count`` projections: JVM-side,
    codegen'd, one scan, no UDF, trivially linear at 100 TB.

    Redaction ORDER matters and is fixed (email → url → longnum): an
    email inside a URL query string is redacted as email first, and the
    longnum pass runs last so it cannot eat digits inside a
    yet-unredacted URL. Counts are computed on the ORIGINAL text, so
    they report what was present, not what survived earlier passes.

    Output: (id, clean_text, n_email, n_url, n_longnum).
    """
    clean = _col(text_col)
    for _, pat, token in PII_PATTERNS:
        clean = F.regexp_replace(clean, pat, token)
    counts = [
        F.regexp_count(_col(text_col), F.lit(pat)).alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
    return df.select(
        F.col(id_col), clean.alias("clean_text"), *counts
    )


# --- cross-document repetition (boilerplate / contamination) ----------------


def boilerplate_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_df: int = 2,
) -> DataFrame:
    """Per-document cross-corpus repetition: what fraction of a doc's
    distinct word ``n``-grams also appear in at least ``min_df`` - 1
    OTHER documents. High values flag boilerplate (headers, templates,
    licenses) and benchmark contamination — the span-level signal that
    document-hash dedup misses (two distinct pages sharing a 300-token
    footer are not doc-duplicates, but the footer is). 8-grams are the
    conventional span unit: long enough that natural re-use is rare,
    short enough to survive small edits.

    Plan shape at 100 TB (r19 rewrite, guide §2.3/§2.4): the old shape
    shuffled the exploded (doc, gram-string) list TWICE — once into the
    document-frequency aggregate and once as the probe side of the
    join-back — ~40 B of gram string per occurrence per exchange
    (measured 17.4 s at 32x, the slowest text row). The join-back is
    unnecessary for ``min_df <= 2``: a gram with df == 1 has exactly
    ONE owner (min == its only doc), so

        n_shared(doc) = n_grams(doc) - #{grams whose df == 1 and whose
                                         sole owner is doc}

    and the whole query becomes ONE gram-keyed aggregate
    (count + min(id), both with map-side partial aggregation — a hot
    boilerplate gram combines per map partition instead of landing on
    one reducer) + one |docs|-bounded owner-keyed count + one doc-keyed
    left join. ``n_grams`` is ``size()`` of the per-doc distinct
    shingle array (map-side, free). No occurrence-level exchange
    survives. For ``min_df > 2`` a rare gram has up to min_df - 1
    owners and the min trick is incomplete, so the original
    aggregate + join-back runs (no registry caller uses it).

    The per-doc shingle-array frame is pinned with a lazy
    ``localCheckpoint`` so the normalize→tokenize→shingle chain (the
    heaviest map work) runs once for its two consumers (the size()
    projection and the explode). Like every batch pin (README "Pins"),
    it is dropped once the frame's references go, and a lost executor
    cannot recompute it.

    Output: (id, n_grams, n_shared, shared_bp) for docs with >= n
    tokens; shared_bp = floor(n_shared * 10000 / n_grams).
    """
    s0 = df.select(
        F.col(id_col).alias("__id"), normalize_text(text_col).alias("__norm")
    )
    s1 = s0.select(
        "__id", tokens_from_norm(F.col("__norm")).alias("__toks")
    ).where(F.size("__toks") >= n)
    sh = s1.select(
        "__id", shingles_from_tokens(F.col("__toks"), n).alias("__sh")
    )
    if min_df > 2:
        # general path: df-aggregate + join-back (the pre-r19 shape)
        inv = sh.select("__id", F.explode_outer("__sh").alias("__g")).where(
            F.col("__g").isNotNull()
        )
        gdf = inv.groupBy("__g").agg(F.count(F.lit(1)).alias("__df"))
        per_doc = (
            inv.join(gdf, "__g")
            .groupBy("__id")
            .agg(
                F.count(F.lit(1)).alias("n_grams"),
                F.sum((F.col("__df") >= min_df).cast("int")).alias(
                    "n_shared"
                ),
            )
        )
        return per_doc.select(
            F.col("__id").alias(id_col),
            "n_grams",
            F.col("n_shared").cast("long").alias("n_shared"),
            F.floor(F.col("n_shared") * 10000 / F.col("n_grams"))
            .cast("long")
            .alias("shared_bp"),
        )
    # localCheckpoint, NOT persist: persist() registers the frame
    # in the CacheManager keyed by its analyzed plan, so a LATER
    # identical construction silently reuses the cached rows even
    # after every reference is gc'd — measured [9.9, 1.3, 0.9] s
    # across three fresh constructions of this query (r19 probe).
    # That poisons any best-of-N measurement of this row (and
    # wastes storage memory for the rest of a 198-query sweep).
    # localCheckpoint blocks are plain RDD blocks the
    # ContextCleaner drops once the frame's refs go away, so every
    # fresh construction recomputes — one materialization per
    # query execution, honest timing, same two-consumer reuse.
    sh = sh.localCheckpoint(eager=False)
    # explode_outer + null guard: same optimizer-substitution dodge as
    # dedup.ngram_jaccard_pairs (inner explode infers a size()>0 filter
    # and inlines the whole shingle chain into a pre-shuffle Filter)
    inv = sh.select("__id", F.explode_outer("__sh").alias("__g")).where(
        F.col("__g").isNotNull()
    )
    # one aggregate over the exploded list: document frequency + sole
    # owner; both partial-aggregate map-side (count/min are
    # decomposable), so the exchange carries one row per distinct gram
    # per map partition, never the occurrence list
    gdf = inv.groupBy("__g").agg(
        F.count(F.lit(1)).alias("__df"), F.min("__id").alias("__owner")
    )
    # min_df <= 1 makes every gram shared (df >= 1 by construction) —
    # the rare set below is empty and n_shared == n_grams, matching
    # the general path's  __df >= min_df  always-true branch
    uniq = (
        gdf.where(F.col("__df") < min_df)
        .groupBy("__owner")
        .agg(F.count(F.lit(1)).alias("__n_unique"))
    )
    base = sh.select("__id", F.size("__sh").cast("long").alias("n_grams"))
    joined = base.join(
        uniq, base["__id"] == uniq["__owner"], "left"
    )
    n_shared = F.col("n_grams") - F.coalesce(
        F.col("__n_unique"), F.lit(0)
    )
    return joined.select(
        F.col("__id").alias(id_col),
        "n_grams",
        n_shared.cast("long").alias("n_shared"),
        F.floor(n_shared * 10000 / F.col("n_grams"))
        .cast("long")
        .alias("shared_bp"),
    )


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document within-document repetition signals — the Gopher
    repetition filters (Rae et al. 2021, "Scaling Language Models",
    A1.1: documents dominated by repeated lines/paragraphs/n-grams are
    low-quality crawl artifacts and removed before training), adapted
    to token n-grams since the corpus' unit of repetition is the word:

    - ``dup_token_bp`` / ``dup_bigram_bp``: fraction of token (bigram)
      occurrences that are repeats of an earlier occurrence, i.e.
      (total - distinct) / total — the duplicate-n-gram fraction.
    - ``top_token_bp`` / ``top_bigram_bp``: fraction claimed by the
      single most frequent token (bigram) — the top-n-gram fraction.

    All fractions are exact integer basis points (floor), so the row
    hashes identically across engines. Docs need >= 2 tokens (a
    bigram must exist for the signals to be defined).

    Plan shape at 100 TB: ONE scan; tokens and bigrams ride a single
    explode as tagged (n, gram) structs, so both granularities share
    one shuffle to the (id, n, gram) count, one re-aggregate to
    (id, n), and a ≤2-rows-per-doc conditional-max pivot back to one
    row — a narrow map + two hash aggregates, never a window over raw
    occurrences."""
    s0 = df.select(
        F.col(id_col).alias("__id"), normalize_text(text_col).alias("__norm")
    )
    s1 = s0.select(
        "__id", tokens_from_norm(F.col("__norm")).alias("__toks")
    ).where(F.size("__toks") >= 2)
    tagged = s1.select(
        "__id",
        F.concat(
            F.transform(
                "__toks", lambda t: F.struct(F.lit(1).alias("n"), t.alias("g"))
            ),
            # every bigram OCCURRENCE (shingles_from_tokens dedupes,
            # which is right for Jaccard but wrong for repetition)
            F.transform(
                F.sequence(F.lit(1), F.size("__toks") - 1),
                lambda i: F.struct(
                    F.lit(2).alias("n"),
                    F.concat_ws(" ", F.slice("__toks", i, 2)).alias("g"),
                ),
            ),
        ).alias("__tagged"),
    )
    # explode_outer + null guard: the module's optimizer-substitution
    # dodge (inner explode infers a size()>0 filter and inlines the
    # whole token chain into a pre-shuffle Filter)
    occ = tagged.select(
        "__id", F.explode_outer("__tagged").alias("__e")
    ).where(F.col("__e").isNotNull())
    per_gram = occ.groupBy(
        "__id", F.col("__e.n").alias("__n"), F.col("__e.g").alias("__g")
    ).agg(F.count(F.lit(1)).alias("__c"))
    per_n = per_gram.groupBy("__id", "__n").agg(
        F.sum("__c").alias("__total"),
        F.count(F.lit(1)).alias("__distinct"),
        F.max("__c").alias("__top"),
    )

    def _pick(n: int, col: str) -> Column:
        return F.max(F.when(F.col("__n") == n, F.col(col)))

    out = per_n.groupBy("__id").agg(
        _pick(1, "__total").alias("__t1"),
        _pick(1, "__distinct").alias("__d1"),
        _pick(1, "__top").alias("__m1"),
        _pick(2, "__total").alias("__t2"),
        _pick(2, "__distinct").alias("__d2"),
        _pick(2, "__top").alias("__m2"),
    )
    return out.select(
        F.col("__id").alias(id_col),
        F.col("__t1").cast("long").alias("n_tokens"),
        F.floor((F.col("__t1") - F.col("__d1")) * 10000 / F.col("__t1"))
        .cast("long")
        .alias("dup_token_bp"),
        F.floor(F.col("__m1") * 10000 / F.col("__t1"))
        .cast("long")
        .alias("top_token_bp"),
        F.col("__t2").cast("long").alias("n_bigrams"),
        F.floor((F.col("__t2") - F.col("__d2")) * 10000 / F.col("__t2"))
        .cast("long")
        .alias("dup_bigram_bp"),
        F.floor(F.col("__m2") * 10000 / F.col("__t2"))
        .cast("long")
        .alias("top_bigram_bp"),
    )


def trigram_typicality(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-LM typicality score — the CCNet-style language-model
    quality filter (Wenzek et al. 2020 score CommonCrawl by KenLM
    perplexity and keep the head of the distribution; GPT-3's quality
    classifier plays the same role): here the LM is the corpus' own
    char-trigram frequency table, so the score needs no external model
    and stays ENGINE-EXACT — every per-trigram probability is floored
    to integer parts-per-billion before summing (floats never cross an
    aggregate), so both engines hash identically.

    Score: typicality_ppb = (sum over the doc's trigram occurrences of
    floor(count(g) * 1e9 / total_corpus_trigrams)) DIV n_doc_trigrams
    — the average corpus frequency of the doc's trigrams. Gibberish,
    wrong-language, and binary-ish text score orders of magnitude
    below typical prose; filter the bottom tail.

    Plan shape at 100 TB: the frequency table is bounded by charset^3
    rows regardless of corpus size — ONE hash aggregate builds it, a
    single-partition window attaches the total (charset^3 rows, never
    the data), and it BROADCASTS into the per-occurrence join, so the
    occurrence stream is never shuffled; one per-doc hash aggregate
    finishes. Two scans of the text (build + score), both pruned to
    (id, text)."""
    s0 = df.select(
        F.col(id_col).alias("__id"), normalize_text(text_col).alias("__norm")
    ).where(F.length("__norm") >= 3)
    occ = s0.select(
        "__id",
        F.explode_outer(
            F.transform(
                F.sequence(F.lit(1), F.length("__norm") - 2),
                lambda i: F.substring(F.col("__norm"), i, 3),
            )
        ).alias("__g"),
    ).where(F.col("__g").isNotNull())
    counts = occ.groupBy("__g").agg(F.count(F.lit(1)).alias("__c"))
    total_w = Window.partitionBy()
    ppb = counts.select(
        "__g",
        F.floor(
            F.col("__c") * F.lit(1_000_000_000) / F.sum("__c").over(total_w)
        )
        .cast("long")
        .alias("__ppb"),
    )
    return (
        occ.join(F.broadcast(ppb), "__g")
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            F.sum("__ppb").alias("__sum_ppb"),
        )
        .select(
            F.col("__id").alias(id_col),
            F.col("n_trigrams").cast("long").alias("n_trigrams"),
            F.expr("__sum_ppb DIV n_trigrams")
            .cast("long")
            .alias("typicality_ppb"),
        )
    )


# --- context-window chunking ------------------------------------------------


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into fixed-size token windows with overlap — the
    context-window packing primitive of every pretraining/RAG pipeline
    (chunk N tokens, stride N - overlap so no boundary sentence is lost
    to both neighbors).

    Chunk starts are 0, stride, 2*stride, ..., ending at the SMALLEST
    multiple of stride whose window reaches the last token — full
    coverage with no fully-redundant tail window (a doc of exactly
    ``chunk_tokens`` tokens yields one chunk, and a doc the sliding
    windows already cover gains no extra chunk whose tokens all
    appeared in its predecessor). All built-ins: tokens → a
    ``sequence()`` of chunk starts → posexplode → ``slice`` +
    ``concat_ws`` — a pure narrow map per document (zero shuffles), so
    at 100 TB it scales with the scan. Deterministic: chunk_id is the
    window index, text reconstruction is whitespace-joined normalized
    tokens.

    Output: (id, chunk_id, n_tokens, chunk_text); empty/null docs
    yield no rows.
    """
    if overlap >= chunk_tokens:
        raise ValueError("chunk_documents: overlap must be < chunk_tokens")
    stride = chunk_tokens - overlap
    s0 = df.select(
        F.col(id_col).alias("__id"), normalize_text(text_col).alias("__norm")
    )
    s1 = s0.select(
        "__id", tokens_from_norm(F.col("__norm")).alias("__toks")
    ).where(F.size("__toks") > 0)
    # last start = ceil((size - chunk) / stride) * stride, floored at 0
    # (integer form; negative for short docs -> greatest picks 0)
    last = (
        F.greatest(
            F.lit(0),
            F.floor(
                (F.size("__toks") - chunk_tokens + stride - 1) / stride
            ).cast("int"),
        )
        * stride
    )
    starts = F.sequence(F.lit(0), last, F.lit(stride))
    ch = s1.select(
        "__id",
        "__toks",
        F.posexplode_outer(starts).alias("chunk_id", "__start"),
    ).where(F.col("__start").isNotNull())
    piece = F.slice(F.col("__toks"), F.col("__start") + 1, chunk_tokens)
    return ch.select(
        F.col("__id").alias(id_col),
        "chunk_id",
        F.size(piece).alias("n_tokens"),
        F.concat_ws(" ", piece).alias("chunk_text"),
    )


# --- benchmark decontamination ---------------------------------------------


def contamination_stats(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination: for every corpus document, how many
    of its distinct word ``n``-grams appear ANYWHERE in a benchmark
    (eval-set) corpus — the standard pre-training hygiene pass that
    drops training documents which would leak test answers (the
    GPT-3/PaLM-style n-gram-overlap decontamination check;
    ``boilerplate_stats`` measures repetition WITHIN the corpus, this
    measures overlap AGAINST an external contaminant set).

    Scale shape: the benchmark side is tiny by construction (eval sets
    are MBs against a 100 TB crawl), so its distinct-gram set is
    broadcast and the corpus side never shuffles for the probe — one
    narrow gram explode, a broadcast left join, and a per-document
    re-aggregate (partial-agg combines map-side; the only shuffle
    carries (doc_id, counts)). Linear in corpus size, zero exchanges
    of corpus text.

    Every corpus document appears in the output (a doc too short to
    have any ``n``-gram is trivially clean): (id, n_grams, n_hit,
    contaminated).
    """
    bg = (
        benchmark.select(normalize_text(text_col).alias("__norm"))
        .select(tokens_from_norm(F.col("__norm")).alias("__toks"))
        .select(F.explode(shingles_from_tokens(F.col("__toks"), n)).alias("__g"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    s0 = corpus.select(
        F.col(id_col).alias("__id"), normalize_text(text_col).alias("__norm")
    )
    s1 = s0.select("__id", tokens_from_norm(F.col("__norm")).alias("__toks"))
    sh = s1.select("__id", shingles_from_tokens(F.col("__toks"), n).alias("__sh"))
    # explode_outer keeps gram-less docs as a single null-gram row, so
    # short documents still get an (all-clean) output row
    inv = sh.select("__id", F.explode_outer("__sh").alias("__g"))
    per = (
        inv.join(F.broadcast(bg), "__g", "left")
        .groupBy("__id")
        .agg(
            F.sum(F.col("__g").isNotNull().cast("int")).alias("n_grams"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_hit"),
        )
    )
    return per.select(
        F.col("__id").alias(id_col),
        F.col("n_grams").cast("long").alias("n_grams"),
        F.col("n_hit").cast("long").alias("n_hit"),
        (F.col("n_hit") > 0).alias("contaminated"),
    )


# --- TF-IDF keyword extraction ---------------------------------------------


def tfidf_topk(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document top-``k`` keywords by TF-IDF — the classic
    content-descriptor features (topic tagging, weak labeling, corpus
    browsing) of a document pipeline.

    Exactness choice: idf enters the RANKING only through the tf/df
    ratio — for a fixed corpus the corpus size N is the same constant
    in every score, so ranking by tf * idf(N/df) with any monotone idf
    equals ranking by tf/df. We therefore score with the exact integer
    ``score_u = (tf * 1_000_000) div df`` (floor division, identical
    in Spark ``div`` and DuckDB ``//``): no doubles, no libm-ulp
    divergence between engines, no N broadcast. The familiar
    log-damped variant would reorder only ACROSS documents, never the
    per-document ranking this returns. Ties break (tf desc, token asc)
    so top-k is a total-order prefix on both engines.

    Plan at 100 TB: tf is one hash aggregate on (doc, token); df is a
    second hash aggregate over tf's (already distinct-per-doc) output;
    the tf-df equi-join shuffles on token where AQE handles stopword
    skew (hash agg with map-side partials + AQE-splittable join, not a
    window over a token-sorted partition — a hot-token window
    partition cannot be split, a skewed join can); the final top-k is
    one row_number window per document. No all-pairs, no driver-side
    vocabulary.

    The one deliberate cost: the tf subtree feeds BOTH the df
    aggregate and the join probe, and column pruning specializes the
    two copies so ReuseExchange cannot dedupe them — the explode +
    partial aggregate runs twice (this is the classic two-job TF-IDF
    shape).

    Output: (id, token, tf, df, score_u, rank), rank in 1..k.
    """
    from pyspark.sql import Window

    s0 = df.select(
        F.col(id_col).alias("__id"), normalize_text(text_col).alias("__norm")
    )
    s1 = s0.select(
        "__id", tokens_from_norm(F.col("__norm")).alias("__toks")
    ).where(F.size("__toks") > 0)
    tok = s1.select("__id", F.explode("__toks").alias("__t"))
    tf = tok.groupBy("__id", "__t").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("__t").agg(F.count(F.lit(1)).alias("df"))
    j = tf.join(dfreq, "__t").withColumn(
        "score_u", F.expr("tf * 1000000L div df")
    )
    w = (
        Window.partitionBy("__id")
        .orderBy(
            F.col("score_u").desc(), F.col("tf").desc(), F.col("__t").asc()
        )
    )
    return (
        j.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("__id").alias(id_col),
            F.col("__t").alias("token"),
            "tf",
            "df",
            "score_u",
            "rank",
        )
    )


def hash_weight_milli(tok: Column | str, salt: str = "w") -> Column:
    """Deterministic per-token linear-model weight in thousandths,
    derived from the portable 60-bit md5-prefix family (the same
    cross-engine hash dedup.py's md5 rows use): uniformly distributed
    in [-1000, +1000]. Stands in for a learned fasttext-style weight
    vector — the INFERENCE plan is identical whether the weight comes
    from a hash or a broadcast model table, and the hash form lets the
    DuckDB oracle replay the exact score."""
    from datafusion_uba_spark.operators.hashing import md5_prefix_int

    h = md5_prefix_int(F.concat(F.lit(salt + ":"), _col(tok)), 15)
    return h % 2001 - 1000


def quality_classifier_scores(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Linear text-quality classifier INFERENCE over the corpus — the
    fasttext-style "is this page educational / high-quality" scoring
    pass every modern pre-training pipeline runs (CCNet, FineWeb-Edu,
    DCLM all gate on a cheap linear scorer before anything expensive).
    Mean-pools a per-token weight into a document logit and thresholds
    at zero.

    Scale shape: ZERO shuffles — the logit is a per-row higher-order
    ``aggregate`` fold over the token array (md5 → [-1000, 1000]
    thousandths per token, summed inside one Project), so the whole
    scoring pass is a narrow map stage that streams unmodified
    (stateless: readStream → same select → writeStream). The first cut
    exploded tokens and re-aggregated by doc_id, shuffling |tokens|
    rows for what a per-row fold computes in place (r14 self-review).
    With a real learned vocabulary the plan gains one broadcast join
    from token to weight; nothing else moves. Exact integer arithmetic
    end-to-end; the mean is the floor of an IEEE division of
    exactly-represented integers (the _bp convention).

    Output: (id, n_tokens, logit_milli, score_micro, keep) — one row
    per input document; token-less documents score 0 / keep=false.
    """
    s0 = docs.select(
        F.col(id_col).alias("__id"), normalize_text(text_col).alias("__norm")
    )
    # NULL text normalizes to NULL → treat as the empty document (same
    # contract the explode_outer form had: n_tokens 0, keep false)
    s1 = s0.select(
        "__id",
        F.coalesce(
            tokens_from_norm(F.col("__norm")),
            F.array().cast("array<string>"),
        ).alias("__toks"),
    )
    per = s1.select(
        "__id",
        F.size("__toks").cast("long").alias("n_tokens"),
        F.aggregate(
            F.col("__toks"),
            F.lit(0).cast("long"),
            lambda acc, t: acc + hash_weight_milli(t),
        ).alias("logit_milli"),
    )
    score = F.when(
        F.col("n_tokens") > 0,
        F.floor(F.col("logit_milli") * 1000.0 / F.col("n_tokens")),
    ).otherwise(F.lit(0).cast("long"))
    return per.select(
        F.col("__id").alias(id_col),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("logit_milli").cast("long").alias("logit_milli"),
        score.cast("long").alias("score_micro"),
        (F.col("logit_milli") > 0).alias("keep"),
    )


def dsir_importance(
    docs: DataFrame,
    is_target: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR-style data selection via hashed-n-gram importance weights
    (Xie et al., "Data Selection for Language Models via Importance
    Resampling", NeurIPS 2023): estimate target-domain vs raw-corpus
    unigram distributions over a FIXED 65,536-bucket hashed feature
    space, then score every raw document by how much more "target-like"
    than "raw-like" its tokens are. This is the deterministic
    integer-arithmetic variant: per-bucket probabilities are floored
    ppb integers and the document score is the SUM of per-occurrence
    (ppb_target - ppb_raw) deltas — a linear discrepancy score rather
    than a log-likelihood ratio, so no transcendental function crosses
    an engine boundary and the DuckDB oracle replays it exactly.

    Scale shape: the feature space is hash-bounded at 2^16 buckets
    regardless of corpus size, so the distribution estimate is one
    explode + one tiny hash-aggregate, and the bucket→delta table
    folds into ONE map-literal row (<= 64k entries, ~1 MB) that
    broadcasts everywhere. Scoring is then a PER-ROW higher-order fold
    (element_at on the broadcast map inside one Project) — no second
    explode, no join, no doc-keyed shuffle at all, and the scoring
    face is stateless-streamable against a precomputed delta map
    (dsir_score_against; the r14 first cut shuffled (doc_id, count,
    sum) per document). The target side is small by construction
    (a curated seed set vs a 100 TB crawl).

    Output: one row per RAW document (the selection pool) —
    (id, n_tokens, imp_sum_ppb, imp_mean_ppb, selected); token-less
    documents score 0 / selected=false.
    """
    base = docs.select(
        F.col(id_col).alias("__id"),
        is_target.alias("__is_t"),
        normalize_text(text_col).alias("__norm"),
    )
    toks = base.select(
        "__id", "__is_t", tokens_from_norm(F.col("__norm")).alias("__toks")
    )
    from datafusion_uba_spark.operators.hashing import md5_prefix_int

    occ = toks.select(
        "__id", "__is_t", F.explode("__toks").alias("__t")
    ).select(
        "__id",
        "__is_t",
        md5_prefix_int(F.concat(F.lit("f:"), F.col("__t")), 4)
        .cast("int")
        .alias("__b"),
    )
    bucket = occ.groupBy("__b").agg(
        F.sum(F.when(F.col("__is_t"), 1).otherwise(0)).alias("t_cnt"),
        F.sum(F.when(F.col("__is_t"), 0).otherwise(1)).alias("r_cnt"),
    )
    tot = bucket.agg(
        F.sum("t_cnt").alias("t_tot"), F.sum("r_cnt").alias("r_tot")
    )
    # bucket is <= 65,536 rows at ANY corpus size; the totals frame is
    # one row — both stay broadcast-sized by construction
    ppb_t = F.when(
        F.col("t_tot") > 0,
        F.floor(F.col("t_cnt") * 1000000000.0 / F.col("t_tot")),
    ).otherwise(F.lit(0).cast("long"))
    ppb_r = F.when(
        F.col("r_tot") > 0,
        F.floor(F.col("r_cnt") * 1000000000.0 / F.col("r_tot")),
    ).otherwise(F.lit(0).cast("long"))
    feat = bucket.crossJoin(F.broadcast(tot)).select(
        "__b", (ppb_t - ppb_r).cast("long").alias("__delta_ppb")
    )
    # fold the <= 2^16-row delta table into ONE map-literal row: the
    # scoring pass becomes a stateless per-row fold over the broadcast
    # map instead of an explode + join + doc-keyed re-aggregate
    feat_map = feat.agg(
        F.map_from_entries(
            F.collect_list(F.struct("__b", "__delta_ppb"))
        ).alias("__fm")
    )
    raw = base.where(~F.col("__is_t")).select(
        "__id",
        F.coalesce(
            tokens_from_norm(F.col("__norm")),
            F.array().cast("array<string>"),
        ).alias("__toks"),
    )
    return dsir_score_against(
        raw.crossJoin(F.broadcast(feat_map)),
        text_tokens_col="__toks",
        id_col="__id",
        map_col="__fm",
    ).withColumnRenamed("__id", id_col)


def dsir_score_against(
    docs_with_map: DataFrame,
    text_tokens_col: str = "__toks",
    id_col: str = "doc_id",
    map_col: str = "__fm",
) -> DataFrame:
    """The stateless DSIR SCORING face: given documents carrying a
    token-array column and the broadcast bucket→delta map column
    (attach it with ``crossJoin(F.broadcast(feat_map))`` — one row,
    <= 2^16 entries), emit the importance score per document as a pure
    per-row fold. No shuffle, no state — the same call works on a
    readStream frame unmodified (the day-N+1 crawl scored against
    yesterday's corpus distributions, the dedup `_against` pattern for
    data selection).

    A token hashing to a bucket absent from the map contributes 0
    (both distributions had zero mass there, so its delta is 0 by the
    same formula), and a NULL token array is the empty document
    (n_tokens 0, score 0, selected=false — the same contract
    dsir_importance gives NULL text), so callers can attach
    ``tokens_from_norm(normalize_text(...))`` directly without a
    private coalesce. Output: (id, n_tokens, imp_sum_ppb,
    imp_mean_ppb, selected).
    """
    from datafusion_uba_spark.operators.hashing import md5_prefix_int

    toks = F.coalesce(
        F.col(text_tokens_col), F.array().cast("array<string>")
    )
    imp = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: acc
        + F.coalesce(
            F.element_at(
                F.col(map_col),
                md5_prefix_int(F.concat(F.lit("f:"), t), 4).cast("int"),
            ),
            F.lit(0).cast("long"),
        ),
    )
    per = docs_with_map.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_tokens"),
        imp.alias("imp_sum_ppb"),
    )
    mean = F.when(
        F.col("n_tokens") > 0,
        F.floor(F.col("imp_sum_ppb") * 1.0 / F.col("n_tokens")),
    ).otherwise(F.lit(0).cast("long"))
    return per.select(
        F.col(id_col),
        F.col("n_tokens"),
        F.col("imp_sum_ppb"),
        mean.cast("long").alias("imp_mean_ppb"),
        (F.col("imp_sum_ppb") > 0).alias("selected"),
    )
