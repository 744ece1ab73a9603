"""Scalar (int8-range) embedding quantization + quantized ANN scoring.

North-star extension (no reference analog — the reference stores raw
``list[float]`` vectors, ``/root/reference/src/vectra_py/local_index.py``):
at 100 TB the embedding column dominates scan and shuffle bytes, and the
standard fix is scalar quantization (SQ8): per-dimension affine codes in
0..255, an ~4× byte reduction at float32 (~8× at float64) with recall
loss small enough that SQ8 is the default compressed tier in public ANN
systems (FAISS ``SQ8``, Lucene/Elasticsearch int8 HNSW).

Spark-first design:
- **Params** (per-dim min/max) are ONE aggregate pass — 2·dim partial
  aggs, map-side combined, no shuffle of vectors; the one-row result is
  broadcast back into the scoring plan (``crossJoin(broadcast(...))``),
  so the whole pipeline stays in the declarative plan (no driver
  ``collect`` round-trip baked into the operator).
- **Codes / dequantize / score** are pure HOF projections over the
  vector column — whole-stage codegen, no Python workers, feeding
  ``TakeOrderedAndProject`` for top-k.
- At production scale the params row is computed once at ingest (or on
  a sample) and stored with the index metadata, not recomputed per
  query; the query path is then a single scan of the (4× smaller)
  codes column. Codes are materialized as ``array<smallint>`` here so
  the DuckDB oracle can read them; the documented scale format is a
  packed ``binary(dim)`` column.

All arithmetic is DOUBLE with identical op order in the DuckDB twin
(round → clamp → int cast → dequantize → left-to-right dot), so scores
hash-match after rounding.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vectra_py_spark.functions.vector import (
    cosine_to_query_sql,
    dot,
    l2_norm,
    vector_literal,
)
from vectra_py_spark.session import spread

__all__ = [
    "sq8_params",
    "sq8_quantize",
    "sq8_topk",
    "sq8_topk_sql",
    "pq_codebook",
    "pq_train_codebook",
    "pq_encode",
    "pq_topk",
    "pq_topk_sql",
    "pq_topk_rerank",
    "pq_topk_rerank_sql",
    "ivfpq_topk",
    "ivfpq_topk_sql",
]


def sq8_params(df: DataFrame, vector_col: str = "embedding", dim: int = 64) -> DataFrame:
    """One-row DataFrame of per-dimension quantization params.

    Columns: ``mins array<double>``, ``scales array<double>`` where
    ``scale_d = (max_d − min_d)/255`` (1.0 for constant dims so the
    round-trip is the identity there).
    """
    # posexplode → groupBy(dim): map-side partial agg reduces every
    # input partition to ≤dim rows before the (tiny) shuffle. The
    # alternative — 2·dim one-shot aggregate expressions — is the same
    # scan but a codegen bomb: measured 6 s of plan/compile time at
    # dim=64 vs ~0.5 s for this shape, independent of data size.
    per_dim = (
        spread(df)
        .select(F.posexplode(vector_col).alias("i", "x"))
        .groupBy("i")
        .agg(
            F.min(F.col("x").cast("double")).alias("mn"),
            F.max(F.col("x").cast("double")).alias("mx"),
        )
    )
    return per_dim.agg(
        F.array_sort(F.collect_list(F.struct("i", "mn"))).alias("s_mn"),
        F.array_sort(F.collect_list(F.struct("i", "mx"))).alias("s_mx"),
    ).select(
        F.transform("s_mn", lambda s: s.mn).alias("mins"),
        F.zip_with(
            "s_mn",
            "s_mx",
            lambda a, b: F.when(b.mx == a.mn, F.lit(1.0)).otherwise(
                (b.mx - a.mn) / F.lit(255.0)
            ),
        ).alias("scales"),
    )


def _codes(vector_col: Column, mins: Column, scales: Column) -> Column:
    """``array<smallint>`` codes: round((x−min)/scale) clamped to 0..255."""
    return F.transform(
        vector_col,
        lambda x, i: F.least(
            F.greatest(
                F.round((x.cast("double") - F.element_at(mins, i + 1))
                        / F.element_at(scales, i + 1)),
                F.lit(0.0),
            ),
            F.lit(255.0),
        ).cast("smallint"),
    )


def sq8_quantize(
    df: DataFrame,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> DataFrame:
    """(id, codes) — the compressed table a production index would store."""
    params = sq8_params(df, vector_col, dim)
    return df.crossJoin(F.broadcast(params)).select(
        id_col,
        _codes(F.col(vector_col), F.col("mins"), F.col("scales")).alias("codes"),
    )


def sq8_topk(
    df: DataFrame,
    query: Sequence[float],
    k: int = 10,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    score_dp: int = 6,
) -> DataFrame:
    """Cosine top-k against the *dequantized* vectors (full-precision
    query, SQ8 corpus) — the standard asymmetric-distance setup.

    Single scan → broadcast params → HOF dequantize+score →
    ``TakeOrderedAndProject``. The quantization error is visible in the
    scores by design (that's what the operator demonstrates vs
    ``vector_topk``'s exact scores).
    """
    q = [float(x) for x in query]
    q_norm = sum(x * x for x in q) ** 0.5
    params = sq8_params(df, vector_col, dim=len(q))
    # quantize→dequantize fused into one transform (identical values to
    # materializing codes first; half the element_at lookups/codegen)
    dq = F.transform(
        F.col(vector_col),
        lambda x, i: F.element_at(F.col("mins"), i + 1)
        + F.least(
            F.greatest(
                F.round(
                    (x.cast("double") - F.element_at(F.col("mins"), i + 1))
                    / F.element_at(F.col("scales"), i + 1)
                ),
                F.lit(0.0),
            ),
            F.lit(255.0),
        ).cast("smallint").cast("double")
        * F.element_at(F.col("scales"), i + 1),
    )
    scored = df.crossJoin(F.broadcast(params)).select(
        id_col,
        F.round(
            dot(dq, vector_literal(q)) / (l2_norm(dq) * F.lit(q_norm)),
            score_dp,
        ).alias("score"),
    )
    return scored.orderBy(F.desc("score"), id_col).limit(k)


def sq8_topk_sql(
    query: Sequence[float],
    k: int = 10,
    table: str = "embeddings",
    vector_expr: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
    score_dp: int = 6,
) -> str:
    """DuckDB twin of :func:`sq8_topk` (same op order; per-dim params via
    unnest-by-index GROUP BY instead of 2·dim aggs — same values)."""
    d = dim or len(query)
    q = [float(x) for x in query]
    code = (
        f"CAST(least(greatest(round((CAST({vector_expr}[i] AS DOUBLE) - mins[i])"
        f" / scales[i]), 0.0), 255.0) AS SMALLINT)"
    )
    return f"""
        WITH dims AS (
          SELECT i,
                 min(CAST({vector_expr}[i] AS DOUBLE)) AS mn,
                 max(CAST({vector_expr}[i] AS DOUBLE)) AS mx
          FROM {table}, range(1, {d + 1}) t(i)
          GROUP BY i
        ), params AS (
          SELECT list(mn ORDER BY i) AS mins,
                 list(CASE WHEN mx = mn THEN 1.0
                           ELSE (mx - mn) / 255.0 END ORDER BY i) AS scales
          FROM dims
        ), dq AS (
          SELECT {id_col},
                 [mins[i] + CAST({code} AS DOUBLE) * scales[i]
                  for i in range(1, {d + 1})] AS v
          FROM {table}, params
        )
        SELECT {id_col},
               ROUND({cosine_to_query_sql('v', q)}, {score_dp}) AS score
        FROM dq
        ORDER BY score DESC, {id_col}
        LIMIT {k}
    """


# ---------------------------------------------------------------------------
# Product quantization (PQ) — codes + asymmetric-distance top-k
# ---------------------------------------------------------------------------
PQ_SCALE = 1_000_000  # fixed-point scale: 6 dp, the repo-wide rounding unit


def pq_codebook(
    dim: int = 64, m: int = 8, ks: int = 16, seed: int = 9973
) -> list[list[list[int]]]:
    """Deterministic PQ codebook as FIXED-POINT integers:
    ``codebook[sub][code][j]`` is the j-th component of centroid
    ``code`` in subspace ``sub``, scaled by :data:`PQ_SCALE`.

    Integer codebooks make every distance an exact int64 on BOTH
    engines — no float summation-order or rounding-mode hazards
    anywhere in encode or scoring. Centroids are seeded-LCG unit
    vectors per subspace (the :func:`~vectra_py_spark.operators.
    similarity.seeded_centroids` stand-in argument: production swaps in
    k-means-trained centroids, the plan shape is identical).
    """
    from vectra_py_spark.operators.similarity import seeded_centroids

    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    out = []
    for s in range(m):
        cents = seeded_centroids(dsub, ks, seed=seed + 7919 * s)
        out.append(
            [[_half_away(x * PQ_SCALE) for x in c] for c in cents]
        )
    return out


def _half_away(x: float) -> int:
    """Scalar half-away-from-zero rounding (matches DuckDB/Spark ROUND
    and :func:`_scale_to_int`; Python's builtin ``round`` is
    half-to-even and would encode a query differently from the stored
    vectors on exact .5 fixed-point ties)."""
    import math

    return int(math.copysign(math.floor(abs(x) + 0.5), x))


def _scale_to_int(a):
    """Half-away-from-zero fixed-point scaling (matches DuckDB/Spark
    ROUND; np.rint would be half-to-even)."""
    import numpy as np

    x = a * float(PQ_SCALE)
    return (np.sign(x) * np.floor(np.abs(x) + 0.5)).astype("int64")


def pq_encode(
    df: DataFrame,
    codebook: list[list[list[int]]],
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """Encode each vector as ``m`` one-byte-range codes: per subspace,
    the L2-nearest codebook centroid (ties → lowest code id). Output
    (id, codes array<int>).

    This is the MATERIALIZED artifact at scale: m bytes per vector
    versus 4·dim for float32 — 32× smaller at dim=64/m=8 — so the ANN
    scan reads codes only and the raw vectors stay cold. Encoding is a
    narrow Arrow-batched pass (vectorized numpy distance over exact
    int64 fixed-point values), embarrassingly parallel, no shuffle.
    """
    import numpy as np
    import pandas as pd

    m = len(codebook)
    ks = len(codebook[0])
    dsub = len(codebook[0][0])
    cb = np.asarray(codebook, dtype="int64")  # (m, ks, dsub)
    id_type = df.schema[id_col].dataType.simpleString()

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = _scale_to_int(
                np.asarray(list(pdf[vector_col]), dtype="float64")
            ).reshape(len(pdf), m, dsub)
            codes = np.empty((len(pdf), m), dtype="int32")
            for s in range(m):
                # (n, ks) exact int64 distances; argmin takes the FIRST
                # minimum — the lowest code id, same as the SQL twin's
                # ORDER BY d, code tie-break.
                d = ((X[:, None, s, :] - cb[None, s, :, :]) ** 2).sum(
                    axis=2
                )
                codes[:, s] = d.argmin(axis=1)
            yield pd.DataFrame(
                {"id": pdf[id_col], "codes": list(codes)}
            )

    return spread(df.select(id_col, vector_col)).mapInPandas(
        gen, schema=f"id {id_type}, codes array<int>"
    ).withColumnRenamed("id", id_col)


def pq_topk(
    df: DataFrame,
    query: Sequence[float],
    k: int = 10,
    codebook: list[list[list[int]]] | None = None,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """PQ asymmetric-distance top-k: score = Σ_sub LUT[sub][code] where
    the 128-entry lookup table holds exact int64 distances from the
    query's subvectors to every codebook centroid. Smaller ADC =
    closer. Output (id, adc) — ties break on id.

    Plan: encode (narrow Arrow pass over the vector column — or, at
    steady state, a scan of the materialized 32×-smaller codes table)
    → per-row ADC as a pure Catalyst expression (m ``element_at`` hits
    on literal arrays, whole-stage codegen) → ``TakeOrderedAndProject``.
    The LUT is m·ks ints built driver-side from the query alone —
    nothing is collected from the data.
    """
    cb = codebook or pq_codebook()
    m = len(cb)
    ks = len(cb[0])
    dsub = len(cb[0][0])
    q = [float(x) for x in query]
    if len(q) != m * dsub:
        raise ValueError(f"query dim {len(q)} != {m * dsub}")
    qi = [_half_away(x * PQ_SCALE) for x in q]
    lut = [
        [
            sum(
                (qi[s * dsub + j] - cb[s][c][j]) ** 2 for j in range(dsub)
            )
            for c in range(ks)
        ]
        for s in range(m)
    ]

    encoded = pq_encode(df, cb, id_col=id_col, vector_col=vector_col)
    luts = [F.array(*[F.lit(v) for v in lut[s]]) for s in range(m)]
    adc = luts[0][F.col("codes")[0]]
    for s in range(1, m):
        adc = adc + luts[s][F.col("codes")[s]]
    return (
        encoded.select(id_col, adc.cast("long").alias("adc"))
        .orderBy("adc", id_col)
        .limit(k)
    )


def _pq_sql_tail(
    cb, qi, rel: str, id_col: str, vector_expr: str, k: int
) -> str:
    """The shared encode/LUT/ADC CTE body + final SELECT of the PQ SQL
    twins — ``rel`` is the relation the vectors come from (the raw
    table for pq_topk, the cell-pruned ``survivors`` CTE for ivfpq).
    One place for the fixed-point encode and argmin tie rule, so the
    two ANN twins cannot drift."""
    m = len(cb)
    ks = len(cb[0])
    dsub = len(cb[0][0])
    dim = m * dsub
    cb_rows = ", ".join(
        f"({s}, {c}, {j}, {cb[s][c][j]})"
        for s in range(m)
        for c in range(ks)
        for j in range(dsub)
    )
    lut_rows = ", ".join(
        f"({s}, {c}, "
        + str(
            sum((qi[s * dsub + j] - cb[s][c][j]) ** 2 for j in range(dsub))
        )
        + ")"
        for s in range(m)
        for c in range(ks)
    )
    return f"""cb(sub, code, pos, cv) AS (VALUES {cb_rows}),
        lut(sub, code, qd) AS (VALUES {lut_rows}),
        ve AS (
            SELECT {id_col},
                   CAST((i - 1) // {dsub} AS INT) AS sub,
                   CAST((i - 1) % {dsub} AS INT) AS pos,
                   CAST(ROUND(CAST({vector_expr}[i] AS DOUBLE)
                              * {PQ_SCALE}.0) AS BIGINT) AS xv
            FROM {rel}, range(1, {dim + 1}) t(i)
        ),
        dists AS (
            SELECT {id_col}, sub, code,
                   SUM((xv - cv) * (xv - cv)) AS d
            FROM ve JOIN cb USING (sub, pos)
            GROUP BY {id_col}, sub, code
        ),
        codes AS (
            SELECT {id_col}, sub, code,
                   ROW_NUMBER() OVER (PARTITION BY {id_col}, sub
                                      ORDER BY d, code) AS rn
            FROM dists
        )
        SELECT c.{id_col}, CAST(SUM(l.qd) AS BIGINT) AS adc
        FROM codes c JOIN lut l USING (sub, code)
        WHERE c.rn = 1
        GROUP BY c.{id_col}
        ORDER BY adc, c.{id_col}
        LIMIT {k}
    """


def pq_topk_sql(
    query: Sequence[float],
    k: int = 10,
    codebook: list[list[list[int]]] | None = None,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vector_expr: str = "embedding",
) -> str:
    """DuckDB twin of :func:`pq_topk`: the same integer codebook as a
    VALUES relation, encode = ROW_NUMBER-argmin over exact int64
    distances (ORDER BY d, code = numpy argmin's first-minimum), LUT
    from the same query constants, ADC = SUM of LUT hits."""
    cb = codebook or pq_codebook()
    m = len(cb)
    dsub = len(cb[0][0])
    q = [float(x) for x in query]
    qi = [_half_away(x * PQ_SCALE) for x in q]
    if len(q) != m * dsub:
        raise ValueError(f"query dim {len(q)} != {m * dsub}")
    return f"""
        WITH {_pq_sql_tail(cb, qi, table, id_col, vector_expr, k)}"""


def ivfpq_topk(
    df: DataFrame,
    query: Sequence[float],
    k: int = 10,
    n_cells: int = 8,
    nprobe: int = 2,
    seed: int = 4321,
    codebook: list[list[list[int]]] | None = None,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ composite ANN: probe the ``nprobe`` max-inner-product
    cells (same centroids/ties as :func:`~vectra_py_spark.operators.
    similarity.ivf_topk`), then rank the survivors by exact-int64 PQ
    asymmetric distance. The two standard ANN compressions stacked the
    way FAISS's IVFPQ stacks them: the cell prunes the SCAN, the codes
    shrink the BYTES.

    100 TB design: at ingest the table is written partitioned by cell
    with the m-byte codes column materialized; a query then reads
    ``nprobe/n_cells`` of the partitions (partition pruning — see
    ``ivf_write_index``) × 32-fold fewer bytes (codes, not vectors),
    and the in-query path here is the same plan minus the stored
    artifacts: a zero-shuffle cell projection, a narrow Arrow encode,
    and one ``TakeOrderedAndProject``.
    """
    from vectra_py_spark.operators.similarity import (
        _probe_cells,
        cell_assignment_expr,
        seeded_centroids,
    )

    cents = seeded_centroids(len(query), n_cells, seed)
    cand = df.filter(
        cell_assignment_expr(cents, vector_col).isin(
            _probe_cells(query, cents, nprobe)
        )
    )
    return pq_topk(
        cand, query, k=k, codebook=codebook, id_col=id_col,
        vector_col=vector_col,
    )


def ivfpq_topk_sql(
    query: Sequence[float],
    k: int = 10,
    n_cells: int = 8,
    nprobe: int = 2,
    seed: int = 4321,
    codebook: list[list[list[int]]] | None = None,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vector_expr: str = "embedding",
) -> str:
    """DuckDB twin of :func:`ivfpq_topk`: the ivf_topk cell CTE (same
    centroids, probes, tie rule) feeding the SHARED pq encode/LUT/ADC
    tail (:func:`_pq_sql_tail`) over the cell-pruned survivors."""
    from vectra_py_spark.operators.similarity import (
        _cells_cte_sql,
        _probe_cells,
        seeded_centroids,
    )

    cb = codebook or pq_codebook()
    cents = seeded_centroids(len(query), n_cells, seed)
    probe = ", ".join(str(cid) for cid in _probe_cells(query, cents, nprobe))
    qi = [_half_away(float(x) * PQ_SCALE) for x in query]
    return f"""
        WITH {_cells_cte_sql(cents, table, id_col, vector_expr)},
        survivors AS (
            SELECT t.* FROM {table} t
            JOIN cells ON t.{id_col} = cells.vid
                      AND cells.cell IN ({probe})
        ),
        {_pq_sql_tail(cb, qi, "survivors", id_col, vector_expr, k)}"""


def pq_train_codebook(
    df: DataFrame,
    dim: int = 64,
    m: int = 8,
    ks: int = 16,
    sample_rows: int = 8192,
    iters: int = 10,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> list[list[list[int]]]:
    """Train per-subspace PQ codebooks with Lloyd's algorithm on a
    deterministic sample (smallest ``sample_rows`` ids) — the
    production replacement for the seeded stand-ins, same fixed-point
    integer output so encode/ADC stay exact-int64.

    Deterministic end to end: ordered sample, evenly-spaced init,
    fixed iteration count, ties to the lower code — retraining on the
    same data yields the same codebook. At 100 TB the sample is a few
    thousand rows regardless of corpus size (PQ codebooks saturate
    fast); training cost is a driver-side numpy loop over
    sample×ks×dsub — milliseconds. Distributed encode is unchanged.
    """
    import numpy as np

    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    rows = (
        df.select(id_col, vector_col)
        .orderBy(id_col)
        .limit(sample_rows)
        .collect()
    )
    X = np.asarray([list(r[1]) for r in rows], dtype="float64")
    if X.shape[0] < ks:
        raise ValueError(f"sample {X.shape[0]} smaller than ks {ks}")
    out = []
    for s in range(m):
        Xs = X[:, s * dsub : (s + 1) * dsub]
        # evenly spaced init over the id-ordered sample: deterministic,
        # spread across the data
        idx = np.linspace(0, Xs.shape[0] - 1, ks).astype(int)
        C = Xs[idx].copy()
        for _ in range(iters):
            d2 = ((Xs[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)  # first-min tie → lower code
            for c in range(ks):
                members = Xs[assign == c]
                if len(members):  # empty cell keeps its old centroid
                    C[c] = members.mean(axis=0)
        out.append(
            [[_half_away(x * PQ_SCALE) for x in c] for c in C]
        )
    return out


def pq_topk_rerank(
    df: DataFrame,
    query: Sequence[float],
    k: int = 10,
    oversample: int = 20,
    codebook: list[list[list[int]]] | None = None,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """Two-stage PQ search, the standard IVFPQ serving shape: ADC over
    the compressed codes shortlists ``k·oversample`` candidates, then
    the exact cosine reranks ONLY that shortlist. Output matches
    :func:`~vectra_py_spark.operators.similarity.cosine_topk`:
    (id, score desc, ties on id).

    100 TB design: stage 1 reads the 32×-smaller codes column for the
    whole scan; stage 2 fetches raw vectors for k·oversample rows via
    a semi-join (point reads against the id-bucketed layout) — the
    full-precision column is touched for hundreds of rows, not
    billions. Recall floors measured in BENCH.md: oversample=20 lifts
    the seeded-codebook floor to near-exact.
    """
    from vectra_py_spark.operators.similarity import cosine_topk

    cand = pq_topk(
        df, query, k=k * oversample, codebook=codebook,
        id_col=id_col, vector_col=vector_col,
    ).select(id_col)
    shortlist = df.join(cand, id_col, "left_semi")
    return cosine_topk(shortlist, query, k=k, id_col=id_col,
                       vector_col=vector_col)


def pq_topk_rerank_sql(
    query: Sequence[float],
    k: int = 10,
    oversample: int = 20,
    codebook: list[list[list[int]]] | None = None,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vector_expr: str = "embedding",
    score_dp: int = 6,
) -> str:
    """DuckDB twin of :func:`pq_topk_rerank` (the ADC shortlist CTE
    feeding the exact cosine rerank)."""
    shortlist = pq_topk_sql(
        query, k=k * oversample, codebook=codebook, table=table,
        id_col=id_col, vector_expr=vector_expr,
    )
    q = [float(x) for x in query]
    cos = cosine_to_query_sql(vector_expr, q)
    return f"""
        WITH shortlist AS ({shortlist}),
        cand AS (
            SELECT t.* FROM {table} t
            JOIN shortlist s ON t.{id_col} = s.{id_col}
        )
        SELECT {id_col}, ROUND({cos}, {score_dp}) AS score
        FROM cand
        ORDER BY score DESC, {id_col} ASC
        LIMIT {k}
    """
