"""Product quantization (PQ) ANN: compressed residual codes +
asymmetric distance — the memory half of the FAISS IVFPQ design
(Jegou, Douze, Schmid, "Product Quantization for Nearest Neighbor
Search", PAMI 2011; FAISS IndexIVFPQ).

The 100 TB problem this solves is MEMORY, not arithmetic: a 64-dim
float corpus is 256 bytes/vector, so 10^11 vectors are 25 TB of
embeddings that every ANN probe rescans. The PQ index row is one
coarse-cell id plus m small ints (m=8, k=16 here) — a ~30x
reduction — and the full-precision corpus is touched only to re-rank
a candidate handful.

Two-level structure, and the levels matter: a coarse quantizer (the
SAME trained k-means centroids the IVF index uses —
similarity.train_ivf_centroids; pass ``cents`` to share a trained
set, n_cells ~ sqrt(n) per the FAISS guideline) captures WHICH
cluster a vector is in, and the product codebooks quantize the
RESIDUAL vector (x - centroid[cell]). Quantizing residuals instead
of raw vectors buys measurable candidate quality at the same bit
budget: on the 20k x 64 clustered fixture (m=8, k=16, n_cells=64),
recall@10 at refine=16 is ~0.66 residual vs ~0.53 raw (exact values
shift slightly with the session's partition layout through the
seeded per-partition training sample; the gap holds), and residual
crosses 0.9 at refine=32 (measured 0.96; 1.00 at refine=48) —
tests/test_ann_clustered.py, reproduced in CI.

``refine`` is the recall knob, by design: a 32-bit code cannot rank
WITHIN a tight cluster (the between-neighbor cosine gaps sit at the
noise level, below ADC's reconstruction error — rate-distortion, not
a bug), so ADC's job is to rank cluster membership and hand
k*refine candidates to the exact re-rank. Size refine so k*refine
covers the expected neighborhood (~cluster size); the re-rank reads
full vectors for only those rows, which is exactly the 100 TB
contract: the scan-everything pass touches ~8 bytes/vector, the
read-vectors pass touches k*refine rows per query.

Query-time asymmetric distance (ADC): the query stays full-precision;
dot(q, x_hat) = dot(q, centroid[cell]) + sum_i dot(q_sub_i,
book[i][code_i]). Both terms are lookups into per-QUERY tables (the
n_cells cell-dot array and the m*k LUT) computed once and shipped
with the broadcast — scoring a corpus row is m+1 array lookups + adds
instead of dim multiplies, on top of reading ~30x fewer bytes.

Everything is integer-exact on the quantized grid (same micro-unit
quantization and SQL-text builders as the rest of the ANN family),
training is seeded-sample Lloyd with deterministic min-index
tie-breaks, so the model, codes, and ADC scores are reproducible
bit-for-bit. Codes are a persistable (vec_id, cell, codes) table —
write once, probe daily; ``n_probe`` optionally adds IVF-style cell
pruning on top of the memory win.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datafusion_uba_spark.operators.similarity import (
    QUANT_SCALE,
    _with_quant,
    cosine_sql,
    dot_lit_sql,
    topk_per_key,
    train_ivf_centroids,
)

__all__ = [
    "train_pq",
    "pq_encode",
    "pq_topk",
    "pq_build_index",
    "pq_topk_from_index",
    "drop_pq_index",
]

_PQ_META_SUFFIX = "__pq_meta"


def _unit_quant_sql(vec_col: str) -> str:
    """Unit-normalize then quantize to integer micro-units, as SQL
    text. Normalizing BEFORE quantization makes dot == cosine (the
    vector's norm would otherwise make ADC dot-ranking diverge from
    cosine-ranking); zero vectors map to the zero code instead of
    dividing by zero."""
    nrm = (
        f"sqrt(aggregate(transform(`{vec_col}`, x -> "
        f"CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 0D, (a, b) -> a + b))"
    )
    return (
        f"transform(`{vec_col}`, x -> CAST(round(CAST(x AS DOUBLE) "
        f"/ (CASE WHEN {nrm} = 0D THEN 1D ELSE {nrm} END) "
        f"* {QUANT_SCALE}) AS BIGINT))"
    )


def _check_geometry(dim: int, m: int, k: int) -> int:
    if dim % m != 0:
        raise ValueError(f"pq: m={m} must divide dim={dim}")
    if k < 2:
        raise ValueError(f"pq: need k >= 2 centroids per subspace, got {k}")
    return dim // m


def _lit_matrix_sql(rows: list[list[int]]) -> str:
    return (
        "array("
        + ", ".join(
            "array(" + ", ".join(f"{int(v)}L" for v in r) + ")" for r in rows
        )
        + ")"
    )


def _cell_and_residual(
    df: DataFrame, vec_col: str, id_col: str, cents: list[list[int]]
) -> DataFrame:
    """(vec_id, __cell 0-based, __res): best-dot coarse cell (the IVF
    assignment rule — norm-invariant, so raw-vs-unit doesn't matter
    for WHICH cell wins) and the unit-grid residual against that
    cell's centroid. The centroid matrix rides as one literal; the
    subtract is a zip_with over the element_at row — no join, no
    shuffle."""
    base = df.selectExpr(
        f"`{id_col}` AS vec_id", _unit_quant_sql(vec_col) + " AS __uq"
    )
    # best-dot cell via one array_min(transform(...)) fold over a
    # literal (index, centroid) struct array (r18, same rewrite as
    # _codes_expr): struct comparison orders by negated dot then
    # index, so the lexicographic min IS the first-argmax index the
    # old array_position(array_max) layout produced — without
    # widening the row by one named column per centroid.
    ents = []
    for i, c in enumerate(cents):
        arr = "array(" + ", ".join(f"{int(v)}L" for v in c) + ")"
        ents.append(f"named_struct('j', {i}, 'c', {arr})")
    cstructs = "array(" + ", ".join(ents) + ")"
    dot = (
        "aggregate(zip_with(__uq, s.c, (a, b) -> a * b), 0L, "
        "(a, b) -> a + b)"
    )
    cellled = base.selectExpr(
        "vec_id",
        "__uq",
        # coalesce: never NULL in practice, but keeps the expression
        # statically non-nullable (the _ivf_assign optimizer guard)
        f"CAST(coalesce(array_min(transform({cstructs}, "
        f"s -> struct(-{dot} AS nd, s.j AS j))).j, 0) AS INT) AS __cell",
    )
    cmat = _lit_matrix_sql(cents)
    return cellled.selectExpr(
        "vec_id",
        "__cell",
        f"zip_with(__uq, element_at({cmat}, __cell + 1), "
        "(a, b) -> a - b) AS __res",
    )


def _sub_slice(col: str, i: int, dsub: int) -> str:
    return f"slice({col}, {i * dsub + 1}, {dsub})"


def _slice_cols(
    base: DataFrame, res_col: str, m: int, dsub: int
) -> DataFrame:
    """Stage the m subvector slices into named columns (r18): inlining
    the slice into every per-centroid dot re-sliced each subvector k
    times per row (m*k array copies); one projection layer makes it m
    copies, and the argmin fold per subspace reads the named column."""
    return base.selectExpr(
        "*",
        *[
            f"{_sub_slice(res_col, i, dsub)} AS __r{i}"
            for i in range(m)
        ],
    )


def _codes_expr(books: list[list[list[int]]]) -> str:
    """codes array over the staged __r{i} slices: per-subspace L2
    argmin via ONE array_min(transform(...)) fold over a literal
    (norm, index, centroid) struct array, using the surrogate
    ||c||^2 - 2*r.c (the row's own subvector norm is constant within
    a subspace, so it drops out of the argmin).

    Second r18 pass, A/B-measured 1.5x over the previous one-column-
    per-(subspace, centroid) layout: that shape materialized m*k named
    __d{i}_{j} columns into an UnsafeRow per input row before the
    argmin projection; this shape never widens the row — one
    expression per subspace folds the k distances and the argmin in
    place. Tie-break is identical (struct comparison orders by
    distance then index, so the lexicographic min IS the first-min
    index; proven byte-identical on the sf0.1 corpus and pinned by
    the ann suite)."""
    parts = []
    for i, book in enumerate(books):
        ents = []
        for j, c in enumerate(book):
            cn = sum(int(v) * int(v) for v in c)
            arr = "array(" + ", ".join(f"{int(v)}L" for v in c) + ")"
            ents.append(f"named_struct('n', {cn}L, 'j', {j}, 'c', {arr})")
        bs = "array(" + ", ".join(ents) + ")"
        dot = (
            f"aggregate(zip_with(__r{i}, s.c, (a, b) -> a * b), 0L, "
            "(a, b) -> a + b)"
        )
        # coalesce: keeps each code statically non-nullable (the
        # _ivf_assign optimizer guard)
        parts.append(
            f"coalesce(array_min(transform({bs}, "
            f"s -> struct(s.n - 2 * {dot} AS d, s.j AS j))).j, 0)"
        )
    return "array(" + ", ".join(parts) + ")"


def train_pq(
    data: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    n_cells: int = 16,
    m: int = 8,
    k: int = 16,
    seed: int = 42,
    iters: int = 5,
    train_sample: int = 16_384,
    n_rows: int | None = None,
    cents: list[list[int]] | None = None,
) -> dict:
    """Fit the two-level model: trained coarse centroids (the same
    k-means the IVF index uses) plus per-subspace residual codebooks.
    Returns {"cents": [n_cells][dim], "books": [m][k][dsub], "dim",
    "m", "k", "n_cells"} — plain ints, JSON-serializable, so a daily
    pipeline persists it beside the codes table (the stored-index
    metadata discipline of ivf_build_index).

    ``cents`` skips the coarse k-means and uses the given centroid
    matrix — the steady-state path when an IVF index for the same
    corpus already exists (share its centroids so the two indexes
    agree on cells), and the ablation path (a single all-zero
    centroid makes the residual the raw vector, i.e. classical
    non-residual PQ — the measured-worse baseline in the module
    docstring).

    Residual Lloyd runs distributed over a seeded sample: each
    iteration assigns all m codes per row (the same expression
    pq_encode uses), explodes to (subspace, code, component) and
    averages — only m*k mean rows reach the driver per iteration.
    Init is the first k sample residuals per subspace by id order
    (deterministic and data-dependent). Empty cells keep their
    previous centroid.
    """
    dsub = _check_geometry(dim, m, k)
    n = n_rows if n_rows is not None else data.count()
    if cents is None:
        cents = train_ivf_centroids(
            data,
            vec_col=vec_col,
            id_col=id_col,
            dim=dim,
            n_cells=n_cells,
            seed=seed,
            train_sample=train_sample,
            n_rows=n,
        )
    else:
        if not cents or any(len(c) != dim for c in cents):
            raise ValueError(
                f"pq: supplied cents must be a non-empty list of "
                f"{dim}-dim rows"
            )
        n_cells = len(cents)
    frac = min(1.0, train_sample / max(n, 1))
    sample = _cell_and_residual(
        data.sample(False, frac, seed) if frac < 1.0 else data,
        vec_col,
        id_col,
        cents,
    ).localCheckpoint(eager=False)
    seed_rows = sample.orderBy("vec_id").limit(k).collect()
    if len(seed_rows) < k:
        raise ValueError(
            f"pq: need at least k={k} training vectors, got "
            f"{len(seed_rows)}"
        )
    books = [
        [
            [int(v) for v in r["__res"][i * dsub:(i + 1) * dsub]]
            for r in seed_rows
        ]
        for i in range(m)
    ]
    for _ in range(iters):
        assigned = _slice_cols(sample, "__res", m, dsub).selectExpr(
            "__res", f"{_codes_expr(books)} AS __codes"
        )
        exploded = assigned.selectExpr(
            "posexplode(__codes) AS (__sub, __code)", "__res"
        ).selectExpr(
            "__sub",
            "__code",
            *[
                f"element_at(__res, __sub * {dsub} + {t + 1}) AS __c{t}"
                for t in range(dsub)
            ],
        )
        means = exploded.groupBy("__sub", "__code").agg(
            *[F.avg(f"__c{t}").alias(f"__m{t}") for t in range(dsub)]
        )
        got = {
            (int(r["__sub"]), int(r["__code"])): [
                int(round(r[f"__m{t}"])) for t in range(dsub)
            ]
            for r in means.collect()
        }
        books = [
            [got.get((i, j), books[i][j]) for j in range(k)]
            for i in range(m)
        ]
    return {
        "cents": cents,
        "books": books,
        "dim": dim,
        "m": m,
        "k": k,
        "n_cells": n_cells,
    }


def pq_encode(
    data: DataFrame,
    model: dict,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(vec_id, cell, codes): each vector compressed to its coarse
    cell plus m residual centroid indices — the persistable PQ index
    (write it as parquet once; m=8, k=16 is a cell id + 8 small ints
    per vector vs 64 floats, and at 10^11 rows that is the difference
    between an index that fits and one that doesn't). One narrow
    scan, no shuffle."""
    books = model["books"]
    m, k = len(books), len(books[0])
    dsub = _check_geometry(model["dim"], m, k)
    base = _cell_and_residual(data, vec_col, id_col, model["cents"])
    return _slice_cols(base, "__res", m, dsub).selectExpr(
        "vec_id",
        "__cell AS cell",
        f"{_codes_expr(books)} AS codes",
    )


def pq_topk(
    data: DataFrame,
    queries: DataFrame,
    model: dict,
    k: int = 10,
    refine: int = 32,
    n_probe: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    codes: DataFrame | None = None,
) -> DataFrame:
    """ADC top-k with exact re-rank: score every corpus CODE row with
    the query's lookup tables (m+1 element_at + adds per pair — never
    the full vectors), keep the top k*refine per query, then
    exact-cosine re-rank just those candidates against the
    full-precision corpus. Output matches the rest of the ANN family:
    (query_id, rank, vec_id, cosine_u).

    ``codes`` reuses a persisted pq_encode table (the steady-state
    path); it must come from THIS model — the stored-index metadata
    footgun again, which is why train_pq returns its params alongside.
    ``n_probe`` additionally restricts scoring to each query's best
    n_probe coarse cells (IVF pruning on top of the memory win);
    None scores all codes — compressed-domain brute force.
    """
    books, cents, dim = model["books"], model["cents"], model["dim"]
    m, kk = len(books), len(books[0])
    dsub = _check_geometry(dim, m, kk)
    if codes is None:
        codes = pq_encode(data, model, vec_col, id_col)

    # per-query tables: cell dots (n_cells) and the m*k residual LUT —
    # computed once per QUERY row, not per pair
    qbase = queries.selectExpr(
        f"`{id_col}` AS query_id", _unit_quant_sql(vec_col) + " AS __qq"
    )
    lut_rows = []
    for i, book in enumerate(books):
        sub = _sub_slice("__qq", i, dsub)
        lut_rows.append(
            "array(" + ", ".join(dot_lit_sql(sub, c) for c in book) + ")"
        )
    q_tabs = qbase.selectExpr(
        "query_id",
        "array("
        + ", ".join(dot_lit_sql("__qq", c) for c in cents)
        + ") AS __cd",
        "array(" + ", ".join(lut_rows) + ") AS __lut",
    )

    # the designed broadcast scorer shape of the ANN family: every
    # corpus CODE row against every (broadcast) query table — the
    # corpus side is the compressed codes, never the vectors
    pairs = codes.crossJoin(F.broadcast(q_tabs))
    if n_probe is not None:
        # IVF pruning in the compressed domain: admit a code row only
        # if its cell ranks in the query's top n_probe cell dots
        pairs = pairs.where(
            f"""aggregate(__cd, 0,
                 (acc, d) -> acc + CASE WHEN d > element_at(__cd, cell + 1)
                                        THEN 1 ELSE 0 END)
               < {int(n_probe)}"""
        )
    score = F.element_at(F.col("__cd"), F.col("cell") + F.lit(1))
    for i in range(m):
        score = score + F.element_at(
            F.col("__lut")[i], F.col("codes")[i] + F.lit(1)
        )
    adc = pairs.select("query_id", "vec_id", score.alias("__adc"))
    cand = topk_per_key(
        adc,
        "query_id",
        [F.col("__adc").desc(), F.col("vec_id").asc()],
        k * refine,
        salt_col="vec_id",
    ).select("query_id", "vec_id")

    # exact re-rank on the candidate handful only
    dq = _with_quant(data, vec_col, id_col, "vec", dim)
    qq = _with_quant(queries, vec_col, id_col, "query", dim)
    scored = (
        cand.join(dq, "vec_id")
        .join(F.broadcast(qq), "query_id")
        .selectExpr(
            "query_id",
            "vec_id",
            f"{cosine_sql('query_q', 'vec_q', 'query_n', 'vec_n', dim)}"
            " AS __cos",
        )
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


def pq_build_index(
    data: DataFrame,
    table: str,
    model: dict,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_buckets: int | None = None,
) -> None:
    """Persist the PQ index: encode every vector ONCE and write the
    (vec_id, cell, codes) table to the catalog, bucketed by ``cell``
    (one bucket file group per coarse cell, n_buckets defaults to
    n_cells), plus a one-row ``<table>__pq_meta`` companion holding
    the FULL model JSON — the same stored-index metadata discipline as
    ivf_build_index: pq_topk_from_index reads the model back from the
    metadata, so a probe can never run against codes from a different
    model (the silent-low-recall footgun the IVF round-6 advisor
    finding closed).

    This is the steady-state 100 TB shape: the m*k-dot encode cost is
    paid at WRITE time, daily probes scan ~8 bytes/vector of codes,
    and the full-precision corpus is touched only for the re-rank
    join. Write once, probe daily."""
    import json as _json

    from datafusion_uba_spark.sources import (
        save_table_recovering_orphan,
        staged_swap_tables,
        write_bucketed,
    )

    spark = data.sparkSession
    meta = spark.createDataFrame(
        [(
            int(model["dim"]), int(model["m"]), int(model["k"]),
            int(model["n_cells"]), _json.dumps(model),
        )],
        "dim int, m int, k int, n_cells int, model_json string",
    )
    # Validate the build inputs BEFORE anything destructive: forcing
    # analysis of the encode plan catches a bad vec_col/id_col or a
    # malformed model immediately (r9 ADVICE), and the staged swap
    # below keeps the PREVIOUS index live through any later failure
    # (executor loss mid-encode included) — rounds ≤8 ordering dropped
    # the live index first and a failed build stranded
    # metadata-without-codes.
    codes = pq_encode(data, model, vec_col, id_col)
    codes.schema  # cheap plan analysis, no job
    meta_table = table + _PQ_META_SUFFIX
    staged_swap_tables(
        spark,
        [
            (
                table,
                lambda t: write_bucketed(
                    codes, t, "cell", n_buckets or model["n_cells"]
                ),
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


def drop_pq_index(spark, table: str) -> None:
    """Drop a persisted PQ index and its metadata companion."""
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(f"DROP TABLE IF EXISTS {table}{_PQ_META_SUFFIX}")


def pq_topk_from_index(
    spark,
    table: str,
    data: DataFrame,
    queries: DataFrame,
    k: int = 10,
    refine: int = 32,
    n_probe: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """ADC top-k against a pq_build_index table: the model rides in
    the index's metadata companion (never caller-supplied, so codes
    and model cannot diverge), the codes table is the scan side, and
    ``data`` supplies full-precision vectors for the exact re-rank
    only. ``dim`` (optional) cross-checks the caller's expectation
    against the stored geometry and raises on mismatch."""
    import json as _json

    from pyspark.errors import AnalysisException

    # narrow except (r8 ADVICE): only a missing metadata TABLE or an
    # empty metadata table mean "not a pq_build_index index" — any
    # other failure (transient catalog error, executor loss) must
    # surface as itself, not be misreported as a missing index
    try:
        meta_rows = spark.table(table + _PQ_META_SUFFIX).collect()
    except AnalysisException as exc:
        raise ValueError(
            f"pq_topk_from_index: no metadata table for index {table!r} "
            f"(build it with pq_build_index): {exc}"
        ) from None
    if not meta_rows:
        raise ValueError(
            f"pq_topk_from_index: metadata table for index {table!r} is "
            "empty (interrupted build? rebuild with pq_build_index)"
        )
    meta = meta_rows[0]
    if dim is not None and int(meta["dim"]) != int(dim):
        raise ValueError(
            f"pq_topk_from_index: index {table!r} stores dim="
            f"{meta['dim']}, caller expects dim={dim}"
        )
    model = _json.loads(meta["model_json"])
    codes = spark.table(table).select("vec_id", "cell", "codes")
    return pq_topk(
        data, queries, model, k=k, refine=refine, n_probe=n_probe,
        vec_col=vec_col, id_col=id_col, codes=codes,
    )
