"""Similarity search over embedding columns (array<float>).

Two paths, both pure built-ins (zip_with/aggregate fold for the dot
product — no UDFs):

- **Brute-force cosine top-k**: score every (query, vector) pair and
  keep the top k per query with a two-stage (salted partial → final)
  top-k, so no single reducer ever sees more than ``salt_buckets * k``
  rows per query. The correctness baseline.
- **Random-hyperplane LSH**: sign-bit bucket codes from a literal,
  seed-derived hyperplane set; candidates are vectors sharing a bucket
  with the query in any hash table; then exact cosine on candidates
  only. The 100 TB path: the bucket join is an equi-join on
  (table_id, bucket_code) and the per-table code is computed in one
  narrow map pass.

Determinism contract (what makes these oracle-checkable): embeddings
are quantized to integer micro-units (round(x * 1e6) as bigint) before
any dot product, so inner products are exact integer arithmetic —
order-independent and identical in DuckDB — and the final cosine is a
single per-row IEEE division/sqrt on those exact integers. Floats
never pass through an aggregate.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

QUANT_SCALE = 1_000_000

# auto-sizing targets (see auto_n_planes / auto_n_cells): chosen so the
# sf0.01 driver corpus (500 vectors) resolves to the historical defaults
# (6 planes, 16 cells) — the DuckDB oracles replay the same derivation.
NEARDUP_OCCUPANCY = 8
IVF_CELL_SIZE = 32


def auto_n_planes(
    n_rows: int, floor: int = 6, occupancy: int = NEARDUP_OCCUPANCY
) -> int:
    """Hyperplane count that holds expected LSH bucket occupancy
    (n / 2**planes) at ``occupancy`` as the corpus grows.

    The bucket self-join in embedding_neardup_pairs does occupancy**2
    work per bucket, so a FIXED plane count is quadratic in n (measured:
    exponent 2.11 at 8x data, tools/SCALE_RESULTS.md); growing planes
    with log2(n) holds it linear (exponent 0.78). Both Spark and the
    DuckDB oracle derive geometry through this one function.
    """
    if n_rows <= occupancy:
        return floor
    return max(floor, math.ceil(math.log2(n_rows / occupancy)))


def auto_n_cells(n_rows: int, floor: int = 16) -> int:
    """IVF cell count ~ sqrt(n), rounded down to a power of two — the
    classic IVF balance: total assignment work is n * n_cells dots and
    per-query rescore work is n_probe * n / n_cells, so sqrt(n) cells
    grows both as n^1.5 total / n^0.5 per query instead of letting
    either go quadratic; the candidate FRACTION (n_probe / n_cells)
    shrinks as the corpus grows. 500 rows (the driver's correctness
    corpus) resolves to the floor of 16, matching the pinned oracle."""
    if n_rows <= 1:
        return floor
    return max(floor, 2 ** math.floor(math.log2(math.sqrt(n_rows))))


def quantize(vec: Column | str) -> Column:
    """array<float> → array<bigint> of micro-units (exact both engines)."""
    c = F.col(vec) if isinstance(vec, str) else vec
    return F.transform(
        c, lambda x: F.round(x.cast("double") * QUANT_SCALE).cast("long")
    )


def dot_q(a: Column, b: Column) -> Column:
    """Exact integer dot product of two quantized vectors (HOF fold).

    Works for any runtime length, but higher-order functions evaluate
    their lambda per element OUTSIDE whole-stage codegen — on a hot
    path with a statically known dim, use dot_q_unrolled instead
    (measured ~10x on the round-2 ANN plans)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _tree_sum(terms: list[Column]) -> Column:
    """Balanced-tree sum of Column terms. A left-deep reduce() chain
    of 64 Adds nests the generated Java 64 levels deep and janino
    aborts the whole-stage-codegen compile (falling back to
    interpreted eval — slower than the HOF it replaced); a balanced
    tree is depth log2(n) and compiles fine. Integer addition is
    associative, so values are unchanged."""
    while len(terms) > 1:
        terms = [
            terms[i] + terms[i + 1] if i + 1 < len(terms) else terms[i]
            for i in range(0, len(terms), 2)
        ]
    return terms[0]


def dot_q_unrolled(a: Column, b: Column, dim: int) -> Column:
    """Exact integer dot product UNROLLED to ``dim`` multiply-add
    terms: flat arithmetic that whole-stage codegen compiles into a
    tight loop-free method, vs the interpreted per-element lambda of
    the aggregate/zip_with fold. Values are identical."""
    return _tree_sum([a[i] * b[i] for i in range(dim)])


def dot_q_lit(vec_q: Column, plane: list[int]) -> Column:
    """Exact integer dot of a quantized vector column with a LITERAL
    plane, as a compact HOF fold.

    Deliberately NOT unrolled: hyperplane coding evaluates many of
    these per row (16 pool planes, 48 for neardup's tables), and
    unrolling them all blows the fused whole-stage method past
    janino's 64 KB limit — the compile then fails and the entire
    stage falls back to interpreted eval after ~16 seconds of doomed
    compile retries (measured). A HigherOrderFunction is
    CodegenFallback: it contributes a one-line call to the generated
    code, so the stage still compiles and everything AROUND the dots
    stays codegen'd. Use dot_q_unrolled only where a stage evaluates
    a handful of dots (norms, the per-pair rescore cosine)."""
    arr = F.array(*[F.lit(int(v)).cast("long") for v in plane])
    return dot_q(vec_q, arr)


# --- SQL-string expression builders ----------------------------------------
#
# The Column versions above cost one py4j round-trip per arithmetic node:
# a single 64-term unrolled dot is ~190 driver->JVM calls (~0.25 s), and
# the full LSH plan built that way measured 6.6 s of pure driver-side
# construction per run — 3x the query's own execution. These builders emit
# the SAME arithmetic as one SQL string handed to selectExpr/F.expr: one
# py4j call, parsed JVM-side in milliseconds. Values are identical.


def _tree_sum_sql(terms: list[str]) -> str:
    """Balanced-tree sum as SQL text (same depth-log2 shape as
    _tree_sum, for the same janino-depth reason)."""
    while len(terms) > 1:
        terms = [
            f"({terms[i]} + {terms[i + 1]})" if i + 1 < len(terms) else terms[i]
            for i in range(0, len(terms), 2)
        ]
    return terms[0]


def dot_hof_sql(a: str, b: str) -> str:
    """HOF-fold dot product as SQL text (any runtime length)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        f"CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )


def dot_sql(a: str, b: str, dim: int | None) -> str:
    """Unrolled (codegen) dot product of two array columns as SQL text;
    falls back to the HOF fold when dim is unknown."""
    if not dim:
        return dot_hof_sql(a, b)
    return _tree_sum_sql([f"{a}[{i}] * {b}[{i}]" for i in range(dim)])


def dot_lit_sql(a: str, plane: list[int]) -> str:
    """Dot of an array column with a literal plane as SQL text — a HOF
    fold, NOT unrolled, for the same reason as dot_q_lit: plane-coding
    stages evaluate 16-48 of these per row, and unrolling them makes
    the fused whole-stage method exceed janino's 64 KB limit ("Code
    grows beyond 64 KB"), after which Spark pays a multi-second doomed
    compile and runs the stage interpreted — EVERY run (measured: the
    unrolled variant regressed ann_topk_lsh from ~5 s to 9-21 s). As a
    CodegenFallback the fold is a one-line call in the generated code,
    so the stage still compiles and the bit/code arithmetic around the
    dots stays codegen'd."""
    arr = "array(" + ", ".join(f"{int(v)}L" for v in plane) + ")"
    return dot_hof_sql(a, arr)


def cosine_sql(a: str, b: str, na: str, nb: str, dim: int | None) -> str:
    """Cosine from quantized arrays + precomputed squared norms as SQL
    text (exact integer dot, one IEEE division/sqrt — same contract as
    cosine_q)."""
    return (
        f"(CAST({dot_sql(a, b, dim)} AS DOUBLE) "
        f"/ sqrt(CAST({na} AS DOUBLE) * CAST({nb} AS DOUBLE)))"
    )


_QUANT_SQL = (
    "transform(`{col}`, x -> "
    f"CAST(round(CAST(x AS DOUBLE) * {QUANT_SCALE}) AS BIGINT))"
)


def cosine_q(
    a: Column, b: Column, na: Column, nb: Column, dim: int | None = None
) -> Column:
    """Cosine from quantized vectors given precomputed squared norms.

    norms are exact bigints; the product is computed in double (would
    overflow int64) — a single deterministic IEEE op per row. Pass
    ``dim`` to unroll the dot product into codegen (same values).
    """
    d = dot_q_unrolled(a, b, dim) if dim else dot_q(a, b)
    return d.cast("double") / F.sqrt(na.cast("double") * nb.cast("double"))


def _with_quant(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    prefix: str,
    dim: int | None = None,
) -> DataFrame:
    s0 = df.selectExpr(
        f"`{id_col}` AS {prefix}_id",
        _QUANT_SQL.format(col=vec_col) + f" AS {prefix}_q",
    )
    return s0.selectExpr(
        "*", f"{dot_sql(f'{prefix}_q', f'{prefix}_q', dim)} AS {prefix}_n"
    )


def topk_per_key(
    df: DataFrame,
    key: str,
    order: list[Column],
    k: int,
    salt_col: str | None = None,
    salt_buckets: int = 16,
) -> DataFrame:
    """Deterministic top-k rows per key without a single-reducer sort.

    Stage 1 ranks within (key, salt) partitions — parallel across
    ``salt_buckets`` reducers per key — and keeps k per bucket; stage 2
    ranks the surviving <= salt_buckets*k rows per key. ``order`` must
    be a total order (include a unique tiebreak column).
    """
    if salt_col is not None:
        salt = F.pmod(F.hash(F.col(salt_col)), F.lit(salt_buckets))
        w1 = Window.partitionBy(F.col(key), salt).orderBy(*order)
        df = (
            df.withColumn("__rn1", F.row_number().over(w1))
            .where(F.col("__rn1") <= k)
            .drop("__rn1")
        )
    w2 = Window.partitionBy(key).orderBy(*order)
    return (
        df.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
    )


def cosine_topk(
    data: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = 64,
) -> DataFrame:
    """Brute-force cosine top-k: every query scored against every data
    vector; queries are broadcast (a query set is small by definition —
    the data side is the 100 TB side and is never moved). ``dim``
    (static vector length) unrolls every dot product into codegen;
    pass None for unknown/ragged dims (slower HOF fold, same values).

    Output: (query_id, rank, vec_id, cosine_u) — cosine in integer
    micro-units (floor(cos * 1e6): floor of a bit-identical double is
    portable across engines, round() is not); ranking uses the
    full-precision (deterministic) value with vec_id as tiebreak.
    """
    d = _with_quant(data, vec_col, id_col, "vec", dim)
    q = _with_quant(queries, vec_col, id_col, "query", dim)
    scored = d.join(F.broadcast(q)).selectExpr(
        "query_id",
        "vec_id",
        f"{cosine_sql('query_q', 'vec_q', 'query_n', 'vec_n', dim)} AS __cos",
    )
    top = topk_per_key(
        scored,
        "query_id",
        [F.col("__cos").desc(), F.col("vec_id").asc()],
        k,
        salt_col="vec_id",
    )
    return top.select(
        "query_id",
        "rank",
        "vec_id",
        F.floor(F.col("__cos") * 1_000_000).cast("long").alias("cosine_u"),
    )


FLAT_SEARCH_THRESHOLD = 100_000

# Above this corpus size the full-precision vectors stop being a
# rescannable working set (64-dim float32 is 256 B/vector, so 10^8 rows
# is ~25 GB per full scan — past any executor's cache) and the
# memory-bound PQ index becomes the right plan: the scan-everything
# pass reads ~8-byte codes, full vectors are read only for the k*refine
# re-rank rows. The crossover is a per-deployment memory fact, not a
# measured wall-clock like FLAT_SEARCH_THRESHOLD — override it to match
# the cluster's executor memory.
PQ_MEMORY_THRESHOLD = 100_000_000


def ann_topk_auto(
    data: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    n_rows: int | None = None,
    flat_threshold: int = FLAT_SEARCH_THRESHOLD,
    pq_threshold: int = PQ_MEMORY_THRESHOLD,
    pq_model: dict | None = None,
    pq_codes: DataFrame | None = None,
    pq_refine: int = 32,
    pq_n_probe: int | None = None,
    **lsh_params,
) -> DataFrame:
    """Policy dispatcher for top-k search, three regimes by corpus
    size: flat (brute-force) scan below ``flat_threshold`` rows, LSH
    index between, PQ (compressed-domain ADC + exact re-rank) at or
    above ``pq_threshold`` — the memory-bound regime where even the
    index's exact rescore can no longer afford to touch full vectors
    for every candidate.

    The flat/LSH crossover encodes the measured wall-clock, not a
    guess: below ~10^5 vectors the index's own join/dedup stages cost
    more than the scan they avoid (bench: ann_topk_lsh 3.5 s vs
    ann_topk 1.1 s on the 2k sf0.1 corpus), while on large clustered
    corpora the index admits 6-8% of the score matrix and wins ~2.5x
    (tests/test_ann_clustered.py). The PQ crossover is a memory fact
    (see PQ_MEMORY_THRESHOLD). The same ladder FAISS/Milvus apply when
    picking IndexFlat vs IVF vs IVFPQ.

    ``n_rows`` skips the sizing count() when the caller knows the
    corpus size. In the PQ regime, ``pq_model``/``pq_codes`` reuse a
    persisted train_pq model and pq_encode table (the steady-state
    path); with no model supplied one is trained on the spot with
    n_cells ~ sqrt(n) (the FAISS guideline). Extra keyword args flow
    to ann_topk_lsh (n_pool, bits_per_table, n_tables, seed) for
    clustered-corpus tuning.
    """
    n = n_rows if n_rows is not None else data.count()
    if n >= pq_threshold:
        from datafusion_uba_spark.operators import pq as pq_ops

        if pq_codes is not None and pq_model is None:
            # scoring persisted codes with a freshly trained model
            # would silently index them with mismatched codebooks —
            # the stored-index footgun pq_topk_from_index exists to
            # close; codes and model must travel together
            raise ValueError(
                "ann_topk_auto: pq_codes requires the pq_model that "
                "encoded them (or use pq_topk_from_index, which reads "
                "the model from the index metadata)"
            )
        if pq_model is None:
            # n_cells ~ sqrt(n) (FAISS guideline), CLAMPED at 256: the
            # coarse quantizer ships as literal centroid expressions
            # (n_cells dot columns per row), and past a few hundred
            # cells the generated plan stops being the bottleneck-free
            # path — a corpus big enough to want thousands of cells is
            # exactly the corpus whose model should be TRAINED ONCE and
            # passed in via pq_model/pq_codes, not refit per query.
            n_cells = min(
                256, max(16, 2 ** int(round(math.log2(max(n, 2) ** 0.5))))
            )
            pq_model = pq_ops.train_pq(
                data, vec_col=vec_col, id_col=id_col, dim=dim,
                n_cells=n_cells, n_rows=n,
            )
        return pq_ops.pq_topk(
            data, queries, pq_model, k=k, refine=pq_refine,
            n_probe=pq_n_probe, vec_col=vec_col, id_col=id_col,
            codes=pq_codes,
        )
    if n < flat_threshold:
        return cosine_topk(data, queries, k, vec_col, id_col, dim)
    return ann_topk_lsh(
        data, queries, k, vec_col, id_col, dim, **lsh_params
    )


# --- random-hyperplane LSH -------------------------------------------------


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[int]]:
    """Deterministic quantized hyperplane set (integer micro-units).

    Literal data on purpose: both Spark and the DuckDB oracle consume
    the same constants, and on a cluster they ship inside the plan.
    """
    rng = random.Random(seed)
    return [
        [round(rng.gauss(0.0, 1.0) * QUANT_SCALE) for _ in range(dim)]
        for _ in range(n_planes)
    ]


def bucket_code(vec_q: Column, planes: list[list[int]]) -> Column:
    """LSH bucket code: sign bits of exact integer dots with each plane
    (dots unrolled into codegen — the planes are literals)."""
    code = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        bit = F.when(dot_q_lit(vec_q, p) > 0, F.lit(1)).otherwise(F.lit(0))
        code = code.bitwiseOR(F.shiftleft(bit.cast("long"), i))
    return code


def pool_tables(
    n_pool: int, bits_per_table: int, n_tables: int, seed: int
) -> list[list[int]]:
    """Deterministic bit-subset tables over a shared plane pool:
    table t = ``bits_per_table`` distinct pool-bit indices. One rng
    stream so Spark and the DuckDB oracle replay identical tables."""
    rng = random.Random(seed + 777)
    return [
        rng.sample(range(n_pool), bits_per_table) for _ in range(n_tables)
    ]


def ann_topk_lsh(
    data: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    n_pool: int = 16,
    bits_per_table: int = 5,
    n_tables: int = 16,
    seed: int = 42,
    diagnostics: dict | None = None,
) -> DataFrame:
    """Approximate top-k via shared-pool hyperplane LSH + multiprobe.

    Design (the round-3 rework; round 2's 16 independent 3-plane
    tables computed 48 HOF-fold plane dots per vector and still
    admitted ~88% candidates — strictly worse than brute force):

    - ONE pool of ``n_pool`` hyperplanes; each vector pays n_pool
      unrolled literal dots, once, in a codegen'd projection.
    - ``n_tables`` hash tables are SUBSETS of pool bits
      (``bits_per_table`` each) — deriving a table code is integer
      bit math, not more dot products.
    - Query-side MULTIPROBE: each query probes its exact code plus
      every single-bit flip (bits_per_table + 1 probes per table).
      Probes multiply only the broadcast query side; the data side
      stays at n_tables rows per vector.
    - Candidates = bucket equi-join on (table_id, code); exact cosine
      + salted top-k on candidates only.

    Defaults (16-pool / 5 bits x 16 tables / probe-1) are tuned on the
    synthetic near-orthogonal corpus — top-10 neighbors at cosine
    0.3-0.5 against noise sigma ~0.13, the worst case for any metric
    index. Measured on the real testdata (numpy replay of the exact
    integer pipeline): recall@10 = 0.900 at 500 vectors / 8 queries
    and 0.930 at 2000 vectors / 64 queries, candidate fraction ~0.75.
    A parameter sweep (pool 16-24, bits 4-8, tables 12-24, probe 0-2)
    shows that IS the frontier here: every config with recall >= 0.9
    admits >= 68% candidates, because neighbor/background collision
    probabilities differ only ~3x (cos 0.4 -> p=0.63 vs p=0.5 per
    bit). On such data an index cannot beat brute force — the 25%
    rescore saving is smaller than the index's own join/dedup stages —
    and below ~10^5 vectors flat search is the right plan (same call
    FAISS/Milvus make). The index pays off on clustered real corpora
    (neighbors at cosine 0.85+), where the same shape prunes 10-100x
    harder; raise bits_per_table as neighbor similarity rises. MEASURED
    (tests/test_ann_clustered.py, 50-center sigma=0.05 fixture, 20k x
    64): n_pool=32/bits=12/tables=16 admits 6.4% candidates at
    recall@10 = 0.97 and beats brute force ~2.5x wall-clock.

    Output: (query_id, rank, vec_id, cosine_u) like cosine_topk.
    """
    pool = hyperplanes(dim, n_pool, seed=seed)
    tables = pool_tables(n_pool, bits_per_table, n_tables, seed)
    m = bits_per_table

    def with_codes(df_in: DataFrame, prefix: str) -> DataFrame:
        base = _with_quant(df_in, vec_col, id_col, prefix, dim)
        keep = [f"{prefix}_id", f"{prefix}_q", f"{prefix}_n"]
        # L1: the n_pool plane dots (the only dot products paid here)
        s1 = base.selectExpr(
            "*",
            *[
                f"{dot_lit_sql(f'{prefix}_q', p)} AS __d{i}"
                for i, p in enumerate(pool)
            ],
        )
        # L2: sign bits
        s2 = s1.selectExpr(
            *keep,
            *[f"CAST(__d{i} > 0 AS INT) AS __b{i}" for i in range(n_pool)],
        )
        # L3: per-table codes from bit columns (pure integer math)
        return s2.selectExpr(
            *keep,
            *[
                " + ".join(f"__b{bit} * {1 << j}" for j, bit in enumerate(tab))
                + f" AS __c{t}"
                for t, tab in enumerate(tables)
            ],
        )

    # The coded data side has TWO consumers (the candidate explode and
    # the rescore array join) — the lazy checkpoint materializes the
    # n_pool plane dots once instead of twice (r18 measurement: the two
    # coding stages were the top-2 executor-runtime stages of the row).
    dc = with_codes(data, "vec").localCheckpoint(eager=False)
    qc_df = with_codes(queries, "query")

    # Candidate generation is NARROW on purpose: only (id, table_id,
    # code) flows through the explode → join → dropDuplicates pipeline
    # (16 bytes/row), and the 64-long quantized arrays are joined back
    # afterwards — one extra equi-join, but the dedup shuffle carries
    # kilobytes instead of the vectors (carrying arrays through the
    # 16-way explode measured ~2x the whole query's time at sf0.1).
    data_structs = ", ".join(
        f"named_struct('table_id', {t}, 'code', __c{t})"
        for t in range(n_tables)
    )
    data_rows = dc.selectExpr(
        "vec_id", f"explode(array({data_structs})) AS __tc"
    ).selectExpr("vec_id", "__tc.table_id", "__tc.code")

    probe_structs = ", ".join(
        f"named_struct('table_id', {t}, 'code', __c{t})"
        + "".join(
            f", named_struct('table_id', {t}, 'code', __c{t} ^ {1 << j})"
            for j in range(m)
        )
        for t in range(n_tables)
    )
    query_rows = qc_df.selectExpr(
        "query_id", f"explode(array({probe_structs})) AS __tc"
    ).selectExpr("query_id", "__tc.table_id", "__tc.code")

    pairs = (
        data_rows.join(F.broadcast(query_rows), on=["table_id", "code"])
        .select("query_id", "vec_id")
        .dropDuplicates(["query_id", "vec_id"])
    )
    if diagnostics is not None:
        # pruning audit (tests/test_ann_clustered.py): how much of the
        # n_data x n_queries score matrix the index admits to rescore.
        # Costs an extra action — only on request, never on the hot path.
        diagnostics["n_candidate_pairs"] = pairs.count()
    # Pin the rescore stage's parallelism (the semantic_pairs lesson,
    # r18 measurement here): AQE coalesces the deduped pair stream by
    # BYTES — candidate pairs are 16-byte rows, so the whole fused
    # array-join + dim-term-cosine stage landed on ONE reducer (2.8 s
    # single-core at sf0.1). The explicit user-pinned repartition (AQE
    # never re-coalesces an explicit count) spreads the per-pair
    # cosine work; it shuffles only the skinny pair rows.
    n_parts = int(
        data.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    pairs = pairs.repartition(n_parts, "vec_id")
    cand = pairs.join(
        dc.select("vec_id", "vec_q", "vec_n"), "vec_id"
    ).join(
        F.broadcast(qc_df.select("query_id", "query_q", "query_n")),
        "query_id",
    )
    scored = cand.selectExpr(
        "query_id",
        "vec_id",
        f"{cosine_sql('query_q', 'vec_q', 'query_n', 'vec_n', dim)} AS __cos",
    )
    top = topk_per_key(
        scored,
        "query_id",
        [F.col("__cos").desc(), F.col("vec_id").asc()],
        k,
        salt_col="vec_id",
    )
    return top.select(
        "query_id",
        "rank",
        "vec_id",
        F.floor(F.col("__cos") * 1_000_000).cast("long").alias("cosine_u"),
    )


def ivf_topk(
    data: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    n_cells: int | None = None,
    n_probe: int = 8,
    seed: int = 42,
    n_rows: int | None = None,
    diagnostics: dict | None = None,
    centroids: list[list[int]] | None = None,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) coarse quantizer —
    the second scale-path ANN variant next to ann_topk_lsh.

    ``n_cells`` defaults to auto_n_cells(n) (n from ``n_rows`` or one
    count()): cell count grows with the corpus so expected occupancy —
    and per-probe rescore work — stays ~IVF_CELL_SIZE while the
    candidate FRACTION (n_probe / n_cells) shrinks; pass an explicit
    ``n_cells`` to pin geometry (e.g. for a stable oracle replay).

    - ``n_cells`` literal, seed-derived centroid directions (same
      deterministic generator as the LSH planes, so the DuckDB oracle
      replays them); every data vector is assigned to the cell whose
      centroid gives the LARGEST exact integer dot — ONE narrow map,
      one `cell` int per vector, which at 100 TB is the partitioning/
      clustering key (write the corpus bucketed by cell and a probe
      touches only matching file groups).
    - each query probes its ``n_probe`` best cells; candidates come
      from a broadcast equi-join on cell; exact cosine + salted top-k
      on candidates only (same rescore as cosine_topk).

    Unlike a trained k-means IVF, the centroids here are data-
    independent random directions: recall on THIS near-orthogonal
    synthetic corpus measures 0.775/0.758 (sf0.001/sf0.1, numpy replay
    of the exact integer pipeline) at a ~0.5 candidate fraction — the
    same index-hostility documented in ann_topk_lsh. On clustered real
    corpora cell occupancy follows the clusters and n_probe/n_cells
    prunes 10-100x harder; swap the literal centroids for trained ones
    without touching the plan shape.

    Determinism contract: cell = FIRST index of the max dot
    (array_position; ties at smallest index), probe order =
    (dot desc, index asc) — both exact integer comparisons, replayed
    verbatim by the oracle's window ranking.

    Output: (query_id, rank, vec_id, cosine_u) like cosine_topk.
    """
    if centroids is not None:
        cents = centroids
    else:
        if n_cells is None:
            n = n_rows if n_rows is not None else data.count()
            n_cells = auto_n_cells(n)
        cents = hyperplanes(dim, n_cells, seed=seed)
    dc = _ivf_assign(data, vec_col, id_col, dim, cents)
    return _ivf_probe_rescore(
        dc, queries, k, vec_col, id_col, dim, cents, n_probe, diagnostics
    )


def _ivf_dots(
    df_in: DataFrame,
    vec_col: str,
    id_col: str,
    prefix: str,
    dim: int,
    cents: list[list[int]],
) -> DataFrame:
    base = _with_quant(df_in, vec_col, id_col, prefix, dim)
    return base.selectExpr(
        "*",
        *[
            f"{dot_lit_sql(f'{prefix}_q', c)} AS __d{i}"
            for i, c in enumerate(cents)
        ],
    )


def _darr(n_cells: int) -> str:
    return "array(" + ", ".join(f"__d{i}" for i in range(n_cells)) + ")"


def _ivf_assign(
    data: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    cents: list[list[int]],
) -> DataFrame:
    """(vec_id, vec_q, vec_n, __cell): each vector assigned to its
    best-dot centroid cell — the IVF index layout."""
    darr = _darr(len(cents))
    # coalesce: array_position of a non-null array never returns NULL
    # here, but its static nullability would make the cell equi-join
    # infer isnotnull(__cell) and push the whole dot chain into an
    # interpreted scan filter (same disease as dedup.simhash); the
    # non-nullable coalesce folds that constraint away.
    return _ivf_dots(data, vec_col, id_col, "vec", dim, cents).selectExpr(
        "vec_id",
        "vec_q",
        "vec_n",
        f"CAST(coalesce(array_position({darr}, array_max({darr})), 0) AS INT)"
        " AS __cell",
    )


def _ivf_probe_rescore(
    dc: DataFrame,
    queries: DataFrame,
    k: int,
    vec_col: str,
    id_col: str,
    dim: int,
    cents: list[list[int]],
    n_probe: int,
    diagnostics: dict | None = None,
    broadcast_probes: bool = True,
) -> DataFrame:
    """Probe an assigned corpus (``_ivf_assign`` output, live or read
    back from a bucketed index table) with each query's best n_probe
    cells; exact cosine + salted top-k on candidates only."""
    n_cells = len(cents)
    darr = _darr(n_cells)
    qd = _ivf_dots(queries, vec_col, id_col, "query", dim, cents)
    pr = qd.selectExpr("query_id", f"posexplode({darr}) AS (__i, __dot)")
    w = Window.partitionBy("query_id").orderBy(
        F.col("__dot").desc(), F.col("__i").asc()
    )
    probes = (
        pr.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= n_probe)
        .selectExpr("query_id", "CAST(__i + 1 AS INT) AS __cell")
    )
    if broadcast_probes:
        probes = F.broadcast(probes)
    if diagnostics is not None:
        # same pruning audit as ann_topk_lsh: admitted (query, vector)
        # rescore pairs out of n_data x n_queries
        diagnostics["n_candidate_pairs"] = (
            dc.select("vec_id", "__cell").join(probes, "__cell").count()
        )
    cand = dc.join(probes, "__cell").join(
        F.broadcast(qd.select("query_id", "query_q", "query_n")), "query_id"
    )
    scored = cand.selectExpr(
        "query_id",
        "vec_id",
        f"{cosine_sql('query_q', 'vec_q', 'query_n', 'vec_n', dim)} AS __cos",
    )
    top = topk_per_key(
        scored,
        "query_id",
        [F.col("__cos").desc(), F.col("vec_id").asc()],
        k,
        salt_col="vec_id",
    )
    return top.select(
        "query_id",
        "rank",
        "vec_id",
        F.floor(F.col("__cos") * 1_000_000).cast("long").alias("cosine_u"),
    )


def train_ivf_centroids(
    data: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    n_cells: int = 16,
    seed: int = 42,
    iters: int = 5,
    train_sample: int = 16_384,
    n_rows: int | None = None,
) -> list[list[int]]:
    """K-means(sample) centroid fit for the IVF quantizer — Lloyd
    iterations run DISTRIBUTED over a ``df.sample`` of the corpus using
    the same exact-integer assignment the index itself uses
    (``_ivf_assign``); only n_cells mean rows ever reach the driver per
    iteration, so the sample can be arbitrarily large. This is the
    FAISS ``train()`` analog: random directions are the documented
    worst case on clustered corpora (cells ignore the data's density),
    trained centroids follow it. MEASURED on the 50-center clustered
    fixture (20k x 64, n_cells=16): recall@10 at equal n_probe —
    n_probe=1: 1.000 trained vs 0.631 random (both ~6.7% candidates);
    n_probe=2: 1.000 vs 0.820; n_probe=4: 1.000 vs 0.942. Pinned by
    tests/test_ann_clustered.py::test_trained_centroids_beat_random.

    Returned centroids are unit-normalized then quantized to integer
    micro-units, so argmax-dot assignment == argmax-cosine (equal-norm
    centroids make the vector's own norm a common factor) and the plan
    shape is IDENTICAL to the random-centroid path — literal integer
    arrays unrolled into codegen; nothing else changes.

    Empty cells keep their previous centroid (the classic Lloyd
    degenerate case). Deterministic: seeded init (normalized
    ``hyperplanes``), seeded sample, integer assignment.
    """
    n = n_rows if n_rows is not None else data.count()
    frac = min(1.0, train_sample / max(n, 1))
    sample = (
        (data.sample(False, frac, seed) if frac < 1.0 else data)
        .select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
        )
        .localCheckpoint(eager=False)
    )

    def _unit_quant(vec: list[float]) -> list[int]:
        nrm = math.sqrt(sum(x * x for x in vec)) or 1.0
        return [round(x / nrm * QUANT_SCALE) for x in vec]

    cents = [_unit_quant(p) for p in hyperplanes(dim, n_cells, seed)]
    for _ in range(iters):
        assigned = _ivf_assign(sample, "embedding", "vec_id", dim, cents)
        # element-wise mean per cell: dim avg aggregates, one job;
        # n_cells result rows (tiny) come back to the driver
        means = assigned.groupBy("__cell").agg(
            *[
                F.avg(F.col("vec_q")[i]).alias(f"__m{i}")
                for i in range(dim)
            ]
        )
        by_cell = {
            int(r["__cell"]): [r[f"__m{i}"] for i in range(dim)]
            for r in means.collect()
        }
        cents = [
            _unit_quant(by_cell[c + 1]) if c + 1 in by_cell else cents[c]
            for c in range(n_cells)
        ]
    return cents


_IVF_META_SUFFIX = "__ivf_meta"


def ivf_build_index(
    data: DataFrame,
    table: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    n_cells: int | None = None,
    seed: int = 42,
    n_rows: int | None = None,
    n_buckets: int | None = None,
    centroids: list[list[int]] | None = None,
    train: bool = False,
) -> int:
    """Persist the IVF layout: assign every vector to its cell ONCE and
    write the corpus BUCKETED by ``__cell`` (sources.write_bucketed)
    into catalog table ``table``. Returns the n_cells used.

    The 100 TB shape this buys (pinned by
    tests/test_llm_ops.py::test_ivf_bucketed_index_no_data_exchange):
    cell assignment — n_cells dots per vector, the dominant map cost —
    is paid at WRITE time instead of per query, and the probe join
    against the bucketed table needs no data-side Exchange even when
    the probe set is too large to broadcast: bucketing already
    satisfies the join's hash-partitioning requirement, so only the
    (tiny) probe side shuffles. Default n_buckets = n_cells: one
    bucket file group per cell, making a probe a file-group-local read.

    Centroid choice: ``centroids`` (pre-trained, e.g. from
    train_ivf_centroids) > ``train=True`` (fit k-means on a sample
    here) > seeded random directions. Whatever is used is PERSISTED in
    a one-row companion table ``<table>__ivf_meta`` together with
    dim/seed/n_cells, and ivf_topk_from_index reads and validates it —
    a probe with mismatched geometry raises instead of silently
    returning low-recall results (round-6 advisor finding).
    """
    import json

    from datafusion_uba_spark.sources import write_bucketed

    if n_cells is None:
        n = n_rows if n_rows is not None else data.count()
        n_cells = auto_n_cells(n)
    if centroids is not None:
        cents = centroids
    elif train:
        cents = train_ivf_centroids(
            data, vec_col, id_col, dim, n_cells, seed, n_rows=n_rows
        )
    else:
        cents = hyperplanes(dim, n_cells, seed=seed)
    from datafusion_uba_spark.sources import (
        save_table_recovering_orphan,
        staged_swap_tables,
    )

    spark = data.sparkSession
    # n_buckets is persisted too: upsert must append with the EXACT
    # bucket spec the build used (an explicit n_buckets != n_cells
    # inferred from DESCRIBE output was the r11 advisor finding)
    meta = spark.createDataFrame(
        [(dim, seed, n_cells, n_buckets or n_cells, json.dumps(cents))],
        "dim int, seed int, n_cells int, n_buckets int, "
        "centroids_json string",
    )
    # same staged discipline as pq_build_index (r9 ADVICE): analyze the
    # assignment plan first (catches bad columns/geometry with no job),
    # build under staging names, and swap in only after both writes
    # succeed — a failed build leaves the previous index live
    dc = _ivf_assign(data, vec_col, id_col, dim, cents)
    dc.schema  # cheap plan analysis, no job
    meta_table = table + _IVF_META_SUFFIX
    staged_swap_tables(
        spark,
        [
            (
                table,
                lambda t: write_bucketed(dc, t, "__cell", n_buckets or n_cells),
            ),
            (
                meta_table,
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
    return n_cells


def drop_ivf_index(spark, table: str) -> None:
    """Drop a persisted IVF index and its metadata companion."""
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(f"DROP TABLE IF EXISTS {table}{_IVF_META_SUFFIX}")


def ivf_index_upsert(
    new_data: DataFrame,
    table: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> int:
    """FAISS-``add`` semantics for the persisted IVF index: assign
    ONLY the new vectors against the index's STORED centroids (exact
    geometry from ``<table>__ivf_meta`` — never retrained here) and
    APPEND them to the bucketed cell table.

    The incremental-ingest path the staged-swap rebuild deliberately
    is not: cost is O(|batch| x n_cells) assignment dots plus one
    bucketed append — the existing index files are never read or
    rewritten, so a daily embedding drop folds in at batch cost.
    Probes see the union immediately, and results EQUAL a full build
    of the combined corpus with the same centroids (pinned by
    tests/test_ann_clustered.py::test_ivf_index_upsert_equals_rebuild)
    because cell assignment depends only on (vector, centroids).

    Contracts: append-only — vec_ids must be new (an in-engine id
    check would scan the whole index per batch; id hygiene belongs to
    the ingest pipeline, same as FAISS). Centroid drift is the
    documented trade: cells skew as the corpus outgrows the trained
    distribution, and the retraining/rebuild cadence stays an offline
    decision. Returns the number of rows appended.
    """
    import json

    from datafusion_uba_spark.sources import write_bucketed

    spark = new_data.sparkSession
    meta_table = table + _IVF_META_SUFFIX
    if not spark.catalog.tableExists(meta_table):
        raise ValueError(
            f"ivf_index_upsert: no metadata table {meta_table!r} — "
            "upsert requires an ivf_build_index-built index (legacy "
            "indexes without persisted centroids must be rebuilt)"
        )
    meta_rows = spark.table(meta_table).collect()
    if not meta_rows:
        raise ValueError(
            f"ivf_index_upsert: metadata table {meta_table!r} is empty "
            "(interrupted build?); rebuild with ivf_build_index"
        )
    m = meta_rows[0]
    cents = json.loads(m["centroids_json"])
    dc = _ivf_assign(
        new_data, vec_col, id_col, m["dim"], cents
    ).localCheckpoint(eager=False)
    n_new = dc.count()
    if n_new == 0:
        return 0
    if "n_buckets" in m.__fields__ and m["n_buckets"] is not None:
        # authoritative: the bucket count the build actually wrote
        n_buckets = int(m["n_buckets"])
    else:
        # legacy meta (pre-r12) without the column: fall back to the
        # catalog's own bucket spec, then n_cells
        nb_row = (
            spark.sql(f"DESCRIBE FORMATTED {table}")
            .where("col_name = 'Num Buckets'")
            .collect()
        )
        n_buckets = int(nb_row[0]["data_type"]) if nb_row else m["n_cells"]
    write_bucketed(dc, table, "__cell", n_buckets, mode="append")
    return n_new


def ivf_topk_from_index(
    spark,
    table: str,
    queries: DataFrame,
    n_cells: int | None = None,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
    n_probe: int = 8,
    seed: int = 42,
    broadcast_probes: bool = True,
    diagnostics: dict | None = None,
) -> DataFrame:
    """ivf_topk against a PERSISTED index (ivf_build_index output):
    identical results, no per-query assignment pass.

    Geometry comes from the index's ``<table>__ivf_meta`` companion:
    the EXACT centroids the stored cells were assigned with (random or
    trained), plus dim/n_cells for validation — explicitly passing a
    ``dim``/``n_cells`` that contradicts the metadata raises ValueError
    instead of probing with wrong centroids and silently returning
    low-recall results. For a foreign/legacy table without metadata,
    ``n_cells`` is required and the seeded random centroids are
    regenerated (the pre-metadata contract).
    """
    import json

    meta_table = table + _IVF_META_SUFFIX
    if spark.catalog.tableExists(meta_table):
        meta_rows = spark.table(meta_table).collect()
        if not meta_rows:
            # same contract as the pq probe (r10 review finding): an
            # EMPTY metadata table is a torn build, not a legacy index
            raise ValueError(
                f"ivf_topk_from_index: metadata table {meta_table!r} is "
                "empty (interrupted build?); rebuild with ivf_build_index"
            )
        m = meta_rows[0]
        for name, given, stored in (
            ("n_cells", n_cells, m["n_cells"]),
            ("dim", dim, m["dim"]),
        ):
            if given is not None and given != stored:
                raise ValueError(
                    f"ivf index {table!r} was built with {name}={stored}, "
                    f"got {name}={given}"
                )
        dim = m["dim"]
        cents = json.loads(m["centroids_json"])
    else:
        if n_cells is None:
            raise ValueError(
                f"no metadata table {meta_table!r}: pass n_cells explicitly "
                "for a legacy index"
            )
        dim = 64 if dim is None else dim
        cents = hyperplanes(dim, n_cells, seed=seed)
    return _ivf_probe_rescore(
        spark.table(table),
        queries,
        k,
        vec_col,
        id_col,
        dim,
        cents,
        n_probe,
        diagnostics,
        broadcast_probes,
    )


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    n_planes: int | None = None,
    n_tables: int = 8,
    seed: int = 7,
    n_rows: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via hyperplane LSH.

    Same bucket-join shape as ann_topk_lsh but self-join: pairs
    sharing a bucket in any table, verified with exact quantized
    cosine >= threshold. Output: (id_a, id_b, cosine_u) in integer
    micro-units.

    THE INDEX SIZES ITSELF WITH THE CORPUS: expected bucket occupancy
    is n / 2**n_planes per table, and the self-join does occupancy^2
    work per bucket — with n_planes FIXED the operator is quadratic in
    n (measured by tools/scale_check.py: 8x rows -> 64x pair work,
    exponent 2.1). When ``n_planes`` is None (the default) it is
    derived as auto_n_planes(n) ~= log2(n / occupancy), holding
    occupancy — and the per-bucket join cost — constant as n grows
    (measured exponent 0.78). ``n_rows`` skips the sizing count()
    when the caller already knows the corpus size; pass an explicit
    ``n_planes`` to pin geometry (e.g. for a stable oracle replay).
    On clustered real corpora the true near-dup groups dominate
    buckets and the exact verify step is the irreducible cost.

    Candidate generation is NARROW (the ann_topk_lsh pattern): only
    (vec_id, table_id, code) flows through the explode -> self-join ->
    dropDuplicates pipeline, and the 64-long quantized arrays are
    joined back onto the surviving (id_a, id_b) pairs afterwards — two
    extra equi-joins, but the bucket-join and dedup shuffles carry
    16-byte rows instead of vector payloads (carrying arrays through
    the 8-way explode measured ~2x the whole query's time at sf0.1).
    """
    if n_planes is None:
        n = n_rows if n_rows is not None else df.count()
        n_planes = auto_n_planes(n)
    # shared-pool coding (the ann_topk_lsh shape): each vector pays
    # n_pool literal plane dots ONCE, and the n_tables bucket codes are
    # bit-subset integer math over those sign bits — vs n_tables *
    # n_planes dots for independent per-table planes (the round-3
    # design: 64 HOF-fold dots per vector at 8 auto-sized planes, the
    # dominant cost of the whole query at sf0.1)
    n_pool = max(16, 2 * n_planes)
    pool = hyperplanes(dim, n_pool, seed=seed)
    tables = pool_tables(n_pool, n_planes, n_tables, seed)
    d = _with_quant(df, vec_col, id_col, "vec", dim)
    s1 = d.selectExpr(
        "vec_id",
        *[
            f"{dot_lit_sql('vec_q', p)} AS __d{i}"
            for i, p in enumerate(pool)
        ],
    )
    s1b = s1.selectExpr(
        "vec_id",
        *[f"CAST(__d{i} > 0 AS BIGINT) AS __b{i}" for i in range(n_pool)],
    )
    s2 = s1b.selectExpr(
        "vec_id",
        *[
            " + ".join(
                f"__b{bit} * {1 << j}L" for j, bit in enumerate(tab)
            )
            + f" AS __c{t}"
            for t, tab in enumerate(tables)
        ],
    )
    code_structs = ", ".join(
        f"named_struct('table_id', {t}, 'code', __c{t})"
        for t in range(n_tables)
    )
    dc = s2.selectExpr(
        "vec_id", f"explode(array({code_structs})) AS __c"
    ).selectExpr("vec_id", "__c.table_id", "__c.code")
    a = dc.alias("a")
    b = dc.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.table_id") == F.col("b.table_id"))
            & (F.col("a.code") == F.col("b.code"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    # Pin the verify stage's parallelism (r18, same measurement as
    # ann_topk_lsh): the deduped pair stream is 16-byte rows, so AQE's
    # byte-based coalescing lands the fused array-join + cosine stage
    # on one reducer; the explicit user-pinned repartition (which AQE
    # never re-coalesces) spreads it and shuffles only skinny rows.
    n_parts = int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    pairs = pairs.repartition(n_parts, "id_a")
    cand = pairs.join(
        d.selectExpr("vec_id AS id_a", "vec_q AS qa", "vec_n AS na"), "id_a"
    ).join(
        d.selectExpr("vec_id AS id_b", "vec_q AS qb", "vec_n AS nb"), "id_b"
    )
    cand = cand.selectExpr(
        "id_a",
        "id_b",
        f"CAST(floor({cosine_sql('qa', 'qb', 'na', 'nb', dim)} * 1000000)"
        " AS BIGINT) AS cosine_u",
    )
    return cand.where(F.col("cosine_u") >= int(round(threshold * 1_000_000)))


def label_centroids(
    emb: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label centroid profile in exact integer micro-units — the
    labeled-corpus diagnostic behind IVF seeding, class-balance
    checks, and embedding-drift monitors. Output is FLAT (one row per
    (label, dim)): at 100 TB a flat (label, dim) grid aggregates in
    one hash pass with map-side combine and needs no array
    reassembly; consumers pivot the ≤ |labels| x dim result wherever
    they need vectors.

    Exactness: elements quantize to micro-units BEFORE summing (the
    module's standard: integer sums are order-independent, float sums
    are not), and the centroid is a truncating integer division.

    Output: (label, dim, n_vecs, sum_q, centroid_q)."""
    q = emb.select(
        F.col(label_col).alias("__l"), quantize(vec_col).alias("__q")
    )
    exploded = q.select(
        "__l", F.posexplode("__q").alias("dim", "__v")
    )
    return (
        exploded.groupBy("__l", "dim")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum("__v").alias("sum_q"),
        )
        .select(
            F.col("__l").alias(label_col),
            F.col("dim").cast("long").alias("dim"),
            "n_vecs",
            "sum_q",
            F.expr("sum_q DIV n_vecs").alias("centroid_q"),
        )
    )


def recall_at_k(
    approx: DataFrame,
    exact: DataFrame,
    k: int,
    query_col: str = "query_id",
    id_col: str = "vec_id",
) -> DataFrame:
    """Recall@k of an approximate top-k result against the exact one —
    the evaluation harness as a first-class DataFrame operator, so
    index-quality monitoring runs in the same engine as the index
    (score a daily sample, alert when recall drifts below the floor).

    Per query: hits = |approx ∩ exact| over each side's first k rows,
    recall_bp = floor(hits * 10000 / k). One equi-join on
    (query, id) + one hash aggregate; queries with NO approx rows
    still report (0 hits) via the exact side's distinct query list.

    Output: (query_id, hits, recall_bp)."""
    if k < 1:
        raise ValueError("recall_at_k: k must be >= 1")
    ex = exact.where(F.col("rank") <= k).select(
        F.col(query_col).alias("__qq"), F.col(id_col).alias("__id")
    )
    ap = approx.where(F.col("rank") <= k).select(
        F.col(query_col).alias("__qq"), F.col(id_col).alias("__id")
    )
    hits = (
        ex.join(ap, ["__qq", "__id"])
        .groupBy("__qq")
        .agg(F.count(F.lit(1)).cast("long").alias("hits"))
    )
    qs = ex.select("__qq").distinct()
    return (
        qs.join(hits, "__qq", "left")
        .select(
            F.col("__qq").alias(query_col),
            F.coalesce(F.col("hits"), F.lit(0).cast("long")).alias("hits"),
            F.floor(
                F.coalesce(F.col("hits"), F.lit(0)) * 10000 / F.lit(k)
            )
            .cast("long")
            .alias("recall_bp"),
        )
    )


def hard_negative_topk(
    data: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    dim: int | None = 64,
) -> DataFrame:
    """Hard-negative mining for contrastive / metric-learning training:
    for every anchor (query), the top-k most-similar vectors whose
    label DIFFERS from the anchor's — the items a triplet loss must
    push away hardest — plus the triplet margin against the anchor's
    best same-label positive.

    This is the batch-construction pass embedding-model training
    pipelines run over the corpus (hard negatives dominate easy ones
    for convergence); it differs from ``cosine_topk`` by the label
    exclusion and the positive-margin join, and from
    ``embedding_neardup_pairs`` by being anchored and ranked, not
    thresholded.

    Scale shape: anchors are a small curated set (the broadcast side);
    the corpus side is scanned and scored map-side exactly ONCE — both
    streams ride a single salted two-stage top-k keyed on
    (anchor, is-positive), so the positive max is just that composite
    group's rank-1 row and no branch re-executes the scoring join
    (r14 review: the first cut forked the scored frame into two plans
    and Spark re-ran the broadcast NLJ per branch). Cosines ride the
    exact-integer quantized dot + one IEEE div/sqrt contract, so the
    DuckDB oracle replays values bit-for-bit.

    Output: (query_id, rank, vec_id, neg_label, cosine_u, margin_u);
    margin_u is NULL when the anchor has no same-label positive.
    """
    d0 = data.selectExpr(
        f"`{id_col}` AS vec_id",
        f"`{label_col}` AS vec_label",
        _QUANT_SQL.format(col=vec_col) + " AS vec_q",
    )
    d = d0.selectExpr("*", f"{dot_sql('vec_q', 'vec_q', dim)} AS vec_n")
    q0 = queries.selectExpr(
        f"`{id_col}` AS query_id",
        f"`{label_col}` AS query_label",
        _QUANT_SQL.format(col=vec_col) + " AS query_q",
    )
    q = q0.selectExpr("*", f"{dot_sql('query_q', 'query_q', dim)} AS query_n")
    scored = d.join(F.broadcast(q)).selectExpr(
        "query_id",
        "query_label",
        "vec_id",
        "vec_label",
        f"{cosine_sql('query_q', 'vec_q', 'query_n', 'vec_n', dim)} AS __cos",
    )
    # one candidate stream, grouped by (anchor, positive?) — a NULL
    # label compares to NULL and is excluded from BOTH streams (it can
    # anchor nothing and contradict nothing); self survives only as a
    # non-candidate (same label) and is excluded from the positive max
    cand = (
        scored.withColumn(
            "__is_pos", F.col("vec_label") == F.col("query_label")
        )
        .where(F.col("__is_pos").isNotNull())
        .where(~F.col("__is_pos") | (F.col("vec_id") != F.col("query_id")))
        .withColumn(
            "__grp",
            F.concat_ws(":", F.col("query_id"), F.col("__is_pos")),
        )
    )
    # the ranked survivors feed BOTH output branches; they are tiny
    # (<= |anchors| * 2k rows), so materialize them once — without the
    # barrier each branch would re-execute the scoring join
    ranked = topk_per_key(
        cand,
        "__grp",
        [F.col("__cos").desc(), F.col("vec_id").asc()],
        k,
        salt_col="vec_id",
    ).localCheckpoint(eager=True)
    top = ranked.where(~F.col("__is_pos"))
    pos = ranked.where(F.col("__is_pos") & (F.col("rank") == 1)).select(
        "query_id", F.col("__cos").alias("__pos_cos")
    )
    out = top.join(F.broadcast(pos), "query_id", "left")
    return out.select(
        "query_id",
        "rank",
        "vec_id",
        F.col("vec_label").alias("neg_label"),
        F.floor(F.col("__cos") * 1_000_000).cast("long").alias("cosine_u"),
        F.floor((F.col("__pos_cos") - F.col("__cos")) * 1_000_000)
        .cast("long")
        .alias("margin_u"),
    )
