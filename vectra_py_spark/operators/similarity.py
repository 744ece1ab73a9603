"""Similarity search over embedding columns: exact brute-force and
LSH-bucketed ANN (SURVEY.md §2.3 V8, BASELINE.json north star).

- :func:`cosine_topk` — exact 1×N search: HOF cosine →
  ``TakeOrderedAndProject`` (the reference's query, distributed).
- :func:`cosine_similarity_join` — exact N×M ≥-threshold pair join.
  Quadratic: the oracle/recall baseline, fine at test scale, NOT the
  100 TB path.
- :func:`lsh_similarity_join` / :func:`lsh_topk` — the scale path:
  random-hyperplane LSH. Seeded hyperplanes are generated driver-side
  (pure-integer LCG → portable doubles); one signature kernel packs the
  sign bits into per-table bucket keys for both the pair join (equi-join
  per bucket, AQE-managed, exact-cosine verify) and the top-k (a
  semi-join on the query's keys). Same algorithm is emitted as DuckDB
  SQL from the same literals, so even the *approximate* operators are
  oracle-checkable — identical candidates, identical results.
- :func:`ivf_topk` — IVF-style pruned top-k: k-means-lite centroids
  (seeded deterministic sample), probe the nearest ``nprobe`` cells.

Every approximate top-k is a candidate source finished by
:func:`cosine_topk`: LSH bucket keys, IVF cells
(:func:`cell_assignment_expr`), or an IVF layout's cell partitions.

100 TB notes: brute pair join is O(N²) — never ship; LSH bucket join
shuffles on (bucket) with AQE skew splitting; signatures are one narrow
projection. For repeated top-k serving, pre-bucket + Parquet
partitioning by bucket prefix gives partition pruning per query.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vectra_py_spark.functions.vector import (
    cosine_to_query,
    cosine_to_query_sql,
    dot,
    vector_literal,
)
from vectra_py_spark.operators.bands import band_pairs
from vectra_py_spark.session import spread

__all__ = [
    "cosine_topk",
    "resolve_similarity_strategy",
    "kmeans_centroids",
    "cosine_topk_sql",
    "cosine_topk_batch",
    "cosine_topk_batch_sql",
    "cosine_similarity_join",
    "cosine_similarity_join_sql",
    "seeded_hyperplanes",
    "query_buckets",
    "lsh_topk",
    "lsh_topk_sql",
    "seeded_centroids",
    "ivf_topk",
    "ivf_topk_sql",
    "ivf_write_index",
    "ivf_append_index",
    "ivf_topk_indexed",
    "lsh_similarity_join",
    "lsh_similarity_join_sql",
    "group_centroids",
    "group_centroids_sql",
    "cell_assignment_expr",
    "semantic_dedup",
    "semantic_dedup_sql",
    "label_outliers",
    "label_outliers_sql",
    "margin_bitext_mine",
    "margin_bitext_mine_sql",
]

_DP = 6


def _round_half_away(a: "np.ndarray", dp: int = _DP) -> "np.ndarray":
    """Round half away from zero — Spark ``F.round`` / DuckDB ``ROUND``
    semantics. ``np.round`` is half-to-even, so a cosine landing exactly
    on a 6-dp half tie could cross the threshold on one engine/strategy
    and not the other, breaking the advertised strategy equivalence."""
    f = 10.0 ** dp
    return np.sign(a) * np.floor(np.abs(a) * f + 0.5) / f


def _lcg_doubles(n: int, seed: int) -> list[float]:
    x = seed & 0xFFFFFFFFFFFFFFFF
    out = []
    for _ in range(n):
        x = (x * 6364136223846793005 + 1442695040888963407) & 0xFFFFFFFFFFFFFFFF
        out.append(((x >> 11) / float(1 << 53)) * 2.0 - 1.0)
    return out


def seeded_hyperplanes(dim: int, n_planes: int, seed: int = 1234) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes, portable across engines."""
    return [_lcg_doubles(dim, seed + 7919 * p) for p in range(n_planes)]


# ---------------------------------------------------------------------------
# Size-aware strategy selection
# ---------------------------------------------------------------------------
# Budget for collecting the id+vector set to the driver for broadcast.
# Overridable per-session via spark.conf — clusters with fat drivers raise
# it, serving tiers with thin drivers lower it.
BROADCAST_BYTES_CONF = "vectra_py_spark.similarity.broadcastBytes"
DEFAULT_BROADCAST_BYTES = 256 * 1024 * 1024


def _vector_set_bytes(df: DataFrame, vector_col: str) -> int:
    """Estimated driver-side size of the collected id+vector set: one
    cheap count/max-dim aggregation job (the scan is column-pruned to the
    vector column's length; no vectors move)."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"), F.max(F.size(vector_col)).alias("d")
    ).head()
    n = int(row["n"] or 0)
    d = int(row["d"] or 0)
    # float64 payload + numpy row overhead + id
    return n * (d * 8 + 24)


def resolve_similarity_strategy(
    df: DataFrame,
    strategy: str,
    vector_col: str,
    small: str,
    large: str,
) -> str:
    """Resolve ``"auto"`` to the broadcast-bounded fast path (``small``)
    when the vector set fits the driver budget, else the fully
    distributed path (``large``).

    This is the guard that keeps ``collect()`` out of the default call
    path at scale: matmul / broadcast-verify are strictly faster while
    the id+vector set fits one driver/executor, and strictly wrong once
    it doesn't — a 100 TB corpus must fall through to the join-shaped
    plans. The probe costs one count/max aggregation job, which is noise
    next to either join.
    """
    if strategy != "auto":
        return strategy
    limit = int(
        df.sparkSession.conf.get(
            BROADCAST_BYTES_CONF, str(DEFAULT_BROADCAST_BYTES)
        )
    )
    return small if _vector_set_bytes(df, vector_col) <= limit else large


# ---------------------------------------------------------------------------
# Exact search
# ---------------------------------------------------------------------------
def cosine_topk(
    df: DataFrame,
    query: Sequence[float],
    k: int,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    return (
        df.withColumn(
            "score", F.round(cosine_to_query(vector_col, query), _DP)
        )
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def cosine_topk_sql(
    query: Sequence[float], k: int, table: str = "embeddings",
    id_col: str = "vec_id", vector_col: str = "embedding",
    extra_cols: str = "label",
) -> str:
    cos = cosine_to_query_sql(vector_col, query)
    cols = f"{id_col}, {extra_cols}, " if extra_cols else f"{id_col}, "
    return f"""
        SELECT {cols}ROUND({cos}, {_DP}) AS score
        FROM {table}
        ORDER BY ROUND({cos}, {_DP}) DESC, {id_col} ASC
        LIMIT {k}
    """


def cosine_topk_batch(
    df: DataFrame,
    queries: Sequence[Sequence[float]],
    k: int,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """Exact top-k for a BATCH of query vectors in one job.

    The per-query cost of a literal-vector plan is dominated by
    analysis + codegen (~180 ms hot on local[32]); serving Q queries as
    one broadcast matrix amortizes that to one matmul block per Arrow
    batch (N×d @ d×Q) + per-partition partial top-k, then one narrow
    shuffle on query_id for the global top-k. At 100 TB this is the
    pattern for offline retrieval: thousands of queries per pass over
    the items table instead of thousands of passes.

    The matmul stage runs at the INPUT's partitioning — no ``spread()``:
    big file sources arrive pre-split by ``maxPartitionBytes``, and a
    serving deployment picks its cache layout deliberately (≈50k rows
    per partition keeps each BLAS block ~25 MB at dim 64). Forcing a
    fan-out exchange here costs more than the matmul it parallelizes
    whenever the table is small enough that per-task overhead dominates
    (measured 5.1 → 1.9 ms/query at sf0.1 by dropping it), and at scale
    it would re-shuffle data the scan already split correctly.

    Output: (query_id, id_col, score) — exact cosine, ties broken by id.
    """
    Q = np.array([[float(x) for x in q] for q in queries], dtype=np.float64)
    qn = np.linalg.norm(Q, axis=1)
    qn[qn == 0.0] = 1.0
    Qu = Q / qn[:, None]
    bc = df.sparkSession.sparkContext.broadcast(Qu)
    nq = Q.shape[0]

    def block(batches):
        Qmat = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            M = np.array(list(pdf[vector_col]), dtype=np.float64)
            mn = np.linalg.norm(M, axis=1)
            mn[mn == 0.0] = 1.0
            sim = _round_half_away((M / mn[:, None]) @ Qmat.T)  # n×Q
            take = min(k, len(ids))
            out_q, out_id, out_s = [], [], []
            for qi in range(Qmat.shape[0]):
                col = sim[:, qi]
                # exact (score DESC, id ASC) partial top-k: a plain
                # argpartition on the ROUNDED score breaks boundary
                # ties arbitrarily, which can drop the smaller-id row
                # the global contract (and the oracle) requires before
                # the finisher sees it. Select every row tied with the
                # take-th score, then order the candidate set exactly.
                kth = np.partition(col, len(col) - take)[len(col) - take]
                cand = np.flatnonzero(col >= kth)
                cand = cand[np.lexsort((ids[cand], -col[cand]))][:take]
                out_q.extend([qi] * take)
                out_id.extend(ids[cand])
                out_s.extend(col[cand])
            yield pd.DataFrame(
                {"query_id": out_q, id_col: out_id, "score": out_s}
            )

    schema = f"query_id INT, {id_col} BIGINT, score DOUBLE"
    partial = df.select(id_col, vector_col).mapInPandas(
        block, schema=schema
    )

    # Global top-k finisher: the survivor set is k·Q·partitions rows, so
    # ONE round-robin exchange into one pandas task replaces the window
    # exchange + global-sort exchange (measured 21% off the amortized
    # per-query wall; identical rows). At cluster scale k·Q·P still fits
    # one task by construction (it is the serving response payload).
    def finish(batches):
        # mapInPandas may yield zero batches (empty corpus) — guard
        # BEFORE concat, which raises on an empty list
        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        if not len(pdf):
            yield pdf
            return
        pdf = pdf.sort_values(
            ["query_id", "score", id_col], ascending=[True, False, True]
        )
        yield pdf.groupby("query_id", sort=True).head(k)

    return partial.repartition(1).mapInPandas(finish, schema=schema)


def cosine_topk_batch_sql(
    queries: Sequence[Sequence[float]], k: int, table: str = "embeddings",
    id_col: str = "vec_id", vector_col: str = "embedding",
) -> str:
    """DuckDB twin of :func:`cosine_topk_batch`: UNION ALL of per-query
    exact top-k selects tagged with query_id."""
    parts = []
    for qi, q in enumerate(queries):
        cos = cosine_to_query_sql(vector_col, q)
        parts.append(
            f"(SELECT {qi} AS query_id, {id_col}, "
            f"ROUND({cos}, {_DP}) AS score "
            # order by the ROUNDED score (like the Spark side) so the
            # k-boundary cut is identical in both engines
            f"FROM {table} ORDER BY ROUND({cos}, {_DP}) DESC, {id_col} ASC "
            f"LIMIT {k})"
        )
    union = "\n        UNION ALL\n        ".join(parts)
    return f"""
        SELECT * FROM (
        {union}
        )
        ORDER BY query_id, score DESC, {id_col} ASC
    """


def cosine_similarity_join(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    strategy: str = "auto",
) -> DataFrame:
    """Exact N×N self-join: pairs with cosine ≥ threshold (id_a < id_b).

    ``auto`` (default): size-aware — ``matmul`` while the id+vector set
    fits the driver broadcast budget (:data:`BROADCAST_BYTES_CONF`),
    else ``hof``. The default call path never collects an unbounded
    vector set to the driver.

    ``matmul``: broadcast the full id+unit-vector matrix (8 KB/vector at
    d=64 → ~1M vectors fit comfortably) and compute block × matrixᵀ with
    numpy inside ``mapInPandas``. This is the N×M case where an
    Arrow-batched BLAS matmul beats codegen'd per-pair HOF dots by ~50×
    (measured: 87 s → <2 s at N=2000).

    ``hof``: pure-Catalyst cross join with HOF cosine — no Python, no
    broadcast; the oracle-identical, fully distributed path. Exact
    all-pairs is inherently quadratic past broadcast scale — prefer
    :func:`lsh_similarity_join` there.

    ``auto`` REFUSES to degrade to the quadratic ``hof`` plan: past the
    broadcast budget an exact all-pairs join is a cartesian scale-killer
    (at 100 TB the default path must never silently plan N² work), so it
    raises with guidance instead. Opt in explicitly with
    ``strategy="hof"`` if the quadratic cost is genuinely intended
    (e.g. as an oracle baseline on a small slice).
    """
    resolved = resolve_similarity_strategy(
        df, strategy, vector_col, small="matmul", large="hof"
    )
    if strategy == "auto" and resolved == "hof":
        raise ValueError(
            "cosine_similarity_join(strategy='auto'): the id+vector set "
            "exceeds the driver broadcast budget "
            f"({BROADCAST_BYTES_CONF}), and exact all-pairs beyond that "
            "scale is quadratic. Use lsh_similarity_join (approximate, "
            "banded, scale-safe) or semantic_dedup, raise the budget "
            "conf if the driver can hold the vectors, or pass "
            "strategy='hof' to explicitly accept the N^2 join."
        )
    strategy = resolved
    if strategy == "hof":
        a = df.select(F.col(id_col).alias("id_a"), F.col(vector_col).alias("va"))
        b = df.select(F.col(id_col).alias("id_b"), F.col(vector_col).alias("vb"))
        na = F.sqrt(dot(F.col("va"), F.col("va")))
        nb = F.sqrt(dot(F.col("vb"), F.col("vb")))
        cos = dot(F.col("va"), F.col("vb")) / (na * nb)
        return (
            a.join(b, F.col("id_a") < F.col("id_b"))
            .withColumn("cosine", F.round(cos, _DP))
            .filter(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine")
        )

    rows = df.select(id_col, vector_col).collect()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0.0] = 1.0
    unit = mat / norms[:, None]
    bc = df.sparkSession.sparkContext.broadcast((ids, unit))

    def block(batches):
        b_ids, b_unit = bc.value
        for pdf in batches:
            a_ids = pdf[id_col].to_numpy(dtype=np.int64)
            a_mat = np.array(list(pdf[vector_col]), dtype=np.float64)
            a_norms = np.linalg.norm(a_mat, axis=1)
            a_norms[a_norms == 0.0] = 1.0
            a_unit = a_mat / a_norms[:, None]
            # sub-block to bound the similarity matrix in memory
            step = max(1, 4_000_000 // max(len(b_ids), 1))
            for s in range(0, len(a_ids), step):
                sim_blk = _round_half_away(a_unit[s : s + step] @ b_unit.T)
                ii, jj = np.where(sim_blk >= threshold)
                ia, jb = a_ids[s + ii], b_ids[jj]
                keep = ia < jb
                yield pd.DataFrame(
                    {
                        "id_a": ia[keep],
                        "id_b": jb[keep],
                        "cosine": sim_blk[ii[keep], jj[keep]],
                    }
                )

    return spread(df.select(id_col, vector_col)).mapInPandas(
        block, schema="id_a BIGINT, id_b BIGINT, cosine DOUBLE"
    )


def cosine_similarity_join_sql(
    threshold: float, table: str = "embeddings",
    id_col: str = "vec_id", vector_col: str = "embedding",
) -> str:
    v = f"{vector_col}::DOUBLE[]"
    cos = (
        f"list_dot_product(a.{v}, b.{v}) / "
        f"(sqrt(list_dot_product(a.{v}, a.{v})) * "
        f"sqrt(list_dot_product(b.{v}, b.{v})))"
    )
    return f"""
        SELECT a.{id_col} AS id_a, b.{id_col} AS id_b,
               ROUND({cos}, {_DP}) AS cosine
        FROM {table} a JOIN {table} b ON a.{id_col} < b.{id_col}
        WHERE ROUND({cos}, {_DP}) >= {threshold}
    """


# ---------------------------------------------------------------------------
# LSH (random hyperplane) signatures, pair join and top-k
# ---------------------------------------------------------------------------
def _lsh_signatures(
    df: DataFrame,
    planes: list[list[float]],
    bits_per_table: int,
    id_col: str,
    vector_col: str,
) -> DataFrame:
    """(vid, key) per row and table: the packed ``tbl·2^b + bucket`` key,
    the candidate kernel of both :func:`lsh_similarity_join` and
    :func:`lsh_topk`.

    All b·L plane dots per row come from one vectorized numpy pass. The
    fold is BIT-IDENTICAL to the HOF/oracle arithmetic: products first
    (x·y per dimension, doubles), then a left-to-right sum in dimension
    order — ``acc = (acc + p_i)`` per element, the exact IEEE sequence
    ``aggregate(zip_with(vec, plane, *), 0.0, +)`` executes — so bucket
    signs never diverge from the DuckDB twins or :func:`query_buckets`.
    A vector whose length is not the planes' dimension (a ragged column
    included) raises ``ValueError`` in every batch layout instead of
    miscomputing.
    """
    planes_arr = np.array(planes, dtype=np.float64)  # (b·L, dim)
    n_planes, pdim = planes_arr.shape
    bits = bits_per_table
    n_tables = n_planes // bits
    tbl_base = np.arange(n_tables) * (1 << bits)
    bit_vals = 1 << (np.arange(n_planes) % bits)

    def signatures(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            lens = np.fromiter(
                (len(v) for v in pdf["vec"]), dtype=np.int64,
                count=len(pdf),
            )
            if lens.min() != pdim or lens.max() != pdim:
                raise ValueError(
                    "LSH signatures: ragged vector column or wrong "
                    f"dimension (lengths {lens.min()}..{lens.max()}, "
                    f"planes {pdim}); every vector must have the "
                    "planes' dimension"
                )
            V = np.array(list(pdf["vec"]), dtype=np.float64)
            acc = np.zeros((len(V), n_planes))
            for i in range(pdim):
                acc = acc + V[:, i][:, None] * planes_arr[None, :, i]
            packed = np.where(acc >= 0.0, bit_vals[None, :], 0)
            keys = packed.reshape(len(V), n_tables, bits).sum(axis=2)
            keys += tbl_base[None, :]
            yield pd.DataFrame({
                "vid": np.repeat(pdf["vid"].to_numpy(), n_tables),
                "key": keys.ravel().astype(np.int32),
            })

    vid_dt = dict(df.dtypes)[id_col]  # preserve the caller's id dtype
    base = spread(
        df.select(F.col(id_col).alias("vid"), F.col(vector_col).alias("vec"))
    )
    return base.mapInPandas(signatures, schema=f"vid {vid_dt}, key INT")


def lsh_similarity_join(
    df: DataFrame,
    threshold: float,
    bits_per_table: int = 3,
    n_tables: int = 12,
    seed: int = 1234,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    dim: int = 64,
    verify: str = "auto",
) -> DataFrame:
    """Approximate pair join with OR-amplified random-hyperplane LSH.

    ``n_tables`` independent signatures of ``bits_per_table`` bits each;
    candidates collide in ≥1 table, then verify with exact cosine.
    Per-plane collision prob for angle θ is 1−θ/π, so recall ≈
    1−(1−p^b)^L — defaults (b=3, L=12) give ~0.97 at cosine 0.4 and
    ~1.0 at near-dup thresholds. A single-table design (the naive
    construction) has ~2% recall at τ=0.4 — measured, not theoretical.

    Plan shape:

    - **signatures** from :func:`_lsh_signatures` — one narrow Arrow
      pass, cached for the self-join.
    - **candidates** equi-join on one packed int key
      ``tbl·2^b + bucket``; ids only — vectors never ride the banding
      explode (the 100 TB shuffle hazard); AQE splits skewed buckets.
    - **verify** ``auto`` (default): size-aware — ``broadcast`` (id→
      unit-vector matrix broadcast once, candidates stream through
      ``mapInPandas`` with np fancy-index + row dot — no join, no
      per-pair array shipping) while the vector set fits the driver
      budget (:data:`BROADCAST_BYTES_CONF`); past it, ``join`` (two hash
      joins + pair-cosine pandas_udf — the beyond-one-executor path at
      100 TB). Both verify paths are equivalence-tested; the default
      call path never collects an unbounded vector set.
    """
    verify = resolve_similarity_strategy(
        df, verify, vector_col, small="broadcast", large="join"
    )
    planes = seeded_hyperplanes(dim, bits_per_table * n_tables, seed)
    sig = _lsh_signatures(
        df, planes, bits_per_table, id_col, vector_col
    ).cache()
    cand = band_pairs(sig, ["key"], "vid").select("id_a", "id_b")

    if verify == "join":
        cand = cand.distinct()
        va = df.select(F.col(id_col).alias("id_a"), F.col(vector_col).alias("va"))
        vb = df.select(F.col(id_col).alias("id_b"), F.col(vector_col).alias("vb"))
        pairs = cand.join(va, "id_a").join(vb, "id_b")

        @F.pandas_udf("double")
        def _pair_cosine(va_s: pd.Series, vb_s: pd.Series) -> pd.Series:
            A = np.array(list(va_s), dtype=np.float64)
            B = np.array(list(vb_s), dtype=np.float64)
            num = np.einsum("ij,ij->i", A, B)
            den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
            den[den == 0.0] = 1.0
            return pd.Series(num / den)

        return (
            pairs.withColumn("cosine", F.round(_pair_cosine("va", "vb"), _DP))
            .filter(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine")
        )

    # sorted by id for the searchsorted probe in check()
    bc = _collect_unit_broadcast(df, id_col, vector_col, by_id=True)

    # A pair colliding in several tables appears several times; verifying
    # the duplicates is a few vectorized flops each, so the winning plan
    # verifies FIRST (narrow map, drops ~all rows at the threshold) and
    # dedups the tiny survivor set — instead of a distinct() shuffle over
    # the full multi-million-row candidate stream.
    def check(batches):
        s_ids, s_unit = bc.value
        for pdf in batches:
            ia = np.searchsorted(s_ids, pdf["id_a"].to_numpy(dtype=np.int64))
            ib = np.searchsorted(s_ids, pdf["id_b"].to_numpy(dtype=np.int64))
            cos = _round_half_away(
                np.einsum("ij,ij->i", s_unit[ia], s_unit[ib])
            )
            keep = cos >= threshold
            yield pd.DataFrame(
                {
                    "id_a": pdf["id_a"].to_numpy()[keep],
                    "id_b": pdf["id_b"].to_numpy()[keep],
                    "cosine": cos[keep],
                }
            )

    return cand.mapInPandas(
        check, schema="id_a BIGINT, id_b BIGINT, cosine DOUBLE"
    ).distinct()


def _seq_dot(a: Sequence[float], b: Sequence[float]) -> float:
    """Left-to-right Python dot — bit-identical to the HOF/list_dot_product
    summation order, so driver-computed query buckets agree with both
    engines' row buckets."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def query_buckets(
    query: Sequence[float], bits_per_table: int, n_tables: int,
    seed: int, dim: int,
) -> list[int]:
    """Packed ``tbl·2^b + bucket`` keys of a query vector (driver-side)."""
    planes = seeded_hyperplanes(dim, bits_per_table * n_tables, seed)
    keys = []
    for t in range(n_tables):
        bucket = sum(
            (1 << i)
            for i in range(bits_per_table)
            if _seq_dot(query, planes[t * bits_per_table + i]) >= 0
        )
        keys.append(t * (1 << bits_per_table) + bucket)
    return keys


def lsh_topk(
    df: DataFrame,
    query: Sequence[float],
    k: int,
    bits_per_table: int = 3,
    n_tables: int = 12,
    seed: int = 1234,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    extra_cols: Sequence[str] = ("label",),
) -> DataFrame:
    """ANN top-k: LSH-bucket-pruned candidates, exact-cosine ranked.

    The query's bucket per table is computed once on the driver; rows
    whose signature (:func:`_lsh_signatures`) collides in ≥1 table
    become candidates (a semi-join on the packed bucket key — at scale,
    with items Parquet-partitioned by bucket prefix, this prunes entire
    partitions), and :func:`cosine_topk` ranks them. Recall follows the
    same 1−(1−p^b)^L amplification as :func:`lsh_similarity_join`.
    """
    dim = len(query)
    planes = seeded_hyperplanes(dim, bits_per_table * n_tables, seed)
    qkeys = query_buckets(query, bits_per_table, n_tables, seed, dim)
    sig = _lsh_signatures(df, planes, bits_per_table, id_col, vector_col)
    hits = sig.filter(F.col("key").isin(qkeys)).select("vid")
    cand = df.join(hits, df[id_col] == hits["vid"], "left_semi")
    return cosine_topk(cand, query, k, id_col, vector_col).select(
        id_col, *extra_cols, "score"
    )


# ---------------------------------------------------------------------------
# IVF-style cell-probed top-k
# ---------------------------------------------------------------------------
def seeded_centroids(dim: int, n_cells: int, seed: int = 4321) -> list[list[float]]:
    """Deterministic unit-norm centroids (LCG + driver-side normalize —
    the same literal floats reach both engines). Production note: these
    stand in for k-means centroids (MLlib KMeans); the cell-probe plan
    shape is identical, only centroid quality differs."""
    out = []
    for c in range(n_cells):
        v = _lcg_doubles(dim, seed + 104729 * c)
        n = _seq_dot(v, v) ** 0.5 or 1.0
        out.append([x / n for x in v])
    return out


def kmeans_centroids(
    df: DataFrame,
    n_cells: int,
    vector_col: str = "embedding",
    seed: int = 4321,
    max_iter: int = 10,
) -> list[list[float]]:
    """Real k-means centroids via MLlib (the production replacement for
    :func:`seeded_centroids` — tighter cells → fewer probes for the
    same recall). Unit-normalized so max-inner-product cell assignment
    ≈ spherical k-means. Train on a sample at scale; assignment stays
    the same :func:`cell_assignment_expr` projection.

    Not oracle-able: MLlib's parallel k-means init + float accumulation
    isn't reproducible in SQL — recall is bounded against exact top-k
    in `tests/test_operators.py` instead (same gate as LSH ANN).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = df.select(array_to_vector(F.col(vector_col)).alias("features"))
    model = KMeans(k=n_cells, seed=seed, maxIter=max_iter).fit(feats)
    out = []
    for c in model.clusterCenters():
        v = [float(x) for x in c]
        n = _seq_dot(v, v) ** 0.5 or 1.0
        out.append([x / n for x in v])
    return out


def cell_assignment_expr(
    centroids: list[list[float]], vector_col: str = "embedding"
):
    """Nearest-centroid cell id as a pure projection (no shuffle) — the
    one IVF cell assignment, shared by the inline probe, the layout
    writers, the balance card, IVF-PQ and SemDeDup.

    ``array_max`` over ``struct(dot, -cid)`` implements
    ``argmax(dot) BREAK TIES BY min(cid)`` — the DuckDB twins'
    ``first_value(cid) OVER (ORDER BY d DESC, cid ASC)`` — entirely
    inside whole-stage codegen; nothing leaves the row. With C centroids
    this is C literal dot products per row; centroids travel as
    literals, so Catalyst constant-folds the vectors into the generated
    code.
    """
    candidates = [
        F.struct(
            dot(F.col(vector_col), vector_literal(c)).alias("d"),
            F.lit(-cid).alias("ncid"),
        )
        for cid, c in enumerate(centroids)
    ]
    return (-F.array_max(F.array(*candidates)).getField("ncid")).cast("int")


def _probe_cells(
    query: Sequence[float], centroids: list[list[float]], nprobe: int
) -> list[int]:
    """The ``nprobe`` cells nearest the query, computed on the driver
    with the assignment's own (dot DESC, cid ASC) rule."""
    ranked = sorted((-_seq_dot(query, c), cid) for cid, c in enumerate(centroids))
    return [cid for _, cid in ranked[:nprobe]]


def _cells_cte_sql(
    centroids: list[list[float]], table: str, id_col: str, vector_col: str
) -> str:
    """The DuckDB twins' ``dots``/``cells`` CTEs: (vid, cell) by the
    ``first_value`` window — the reference formulation of
    :func:`cell_assignment_expr`."""
    v = f"{vector_col}::DOUBLE[]"
    dot_union = "\n            UNION ALL\n".join(
        f"            SELECT {id_col} AS vid, {cid} AS cid, "
        f"list_dot_product({v}, {_plane_lit_sql(c)}) AS d FROM {table}"
        for cid, c in enumerate(centroids)
    )
    return f"""dots AS (
{dot_union}
        ),
        cells AS (
            SELECT DISTINCT vid,
                   first_value(cid) OVER
                       (PARTITION BY vid ORDER BY d DESC, cid ASC) AS cell
            FROM dots
        )"""


def ivf_topk(
    df: DataFrame,
    query: Sequence[float],
    k: int,
    n_cells: int = 8,
    nprobe: int = 2,
    seed: int = 4321,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    extra_cols: Sequence[str] = ("label",),
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-style ANN top-k: keep the rows whose max-inner-product
    centroid cell (:func:`cell_assignment_expr`) is one of the ``nprobe``
    cells nearest the query, and rank them with :func:`cosine_topk`.

    At scale the assignment is precomputed at ingest and the items table
    is partitioned by cell (:func:`ivf_write_index`), so a query scans
    nprobe/n_cells of the data; here it is computed inline for the
    oracle check. Null ids are dropped, as the twin's equi-join drops
    them. ``centroids`` overrides the seeded defaults (pass
    :func:`kmeans_centroids` output for trained cells).
    """
    cents = centroids or seeded_centroids(len(query), n_cells, seed)
    cells = cell_assignment_expr(cents, vector_col)
    cand = df.filter(
        F.col(id_col).isNotNull()
        & cells.isin(_probe_cells(query, cents, nprobe))
    )
    return cosine_topk(cand, query, k, id_col, vector_col).select(
        id_col, *extra_cols, "score"
    )


def ivf_topk_sql(
    query: Sequence[float], k: int, n_cells: int = 8, nprobe: int = 2,
    seed: int = 4321, table: str = "embeddings", id_col: str = "vec_id",
    vector_col: str = "embedding", extra_cols: str = "label",
) -> str:
    """DuckDB twin of :func:`ivf_topk` (same centroids, probes, ties)."""
    cents = seeded_centroids(len(query), n_cells, seed)
    probe = ", ".join(str(cid) for cid in _probe_cells(query, cents, nprobe))
    cos = cosine_to_query_sql(vector_col, query)
    cols = f"{id_col}, {extra_cols}, " if extra_cols else f"{id_col}, "
    return f"""
        WITH {_cells_cte_sql(cents, table, id_col, vector_col)}
        SELECT {cols}ROUND({cos}, {_DP}) AS score
        FROM {table}
        JOIN cells ON {id_col} = cells.vid AND cells.cell IN ({probe})
        ORDER BY ROUND({cos}, {_DP}) DESC, {id_col} ASC
        LIMIT {k}
    """


def ivf_cell_balance(
    df: DataFrame,
    n_cells: int = 8,
    seed: int = 4321,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    dim: int = 64,
    dp: int = 6,
) -> DataFrame:
    """IVF index health card: per-cell population, corpus fraction, and
    load factor (``n·n_cells/total``; 1.0 = perfectly balanced). Probe
    latency variance is bounded by the hottest probed cell, so this is
    the table an operator reads after a run of :func:`ivf_append_index`
    — sustained skew means the centroids no longer fit the data
    distribution: retrain (:func:`kmeans_centroids`) and rebuild.

    100 TB design: assignment is the SAME projection the ingest path
    uses (:func:`cell_assignment_expr`); the aggregate emits ``n_cells``
    rows with map-side partial counts. Against a STANDING index this
    collapses to partition metadata (row counts per cell directory) —
    it is computed inline here so the DuckDB oracle can verify the
    assignment itself. ``id_col`` is unused (kept for callers).
    """
    cells = df.select(
        cell_assignment_expr(
            seeded_centroids(dim, n_cells, seed), vector_col
        ).alias("cell")
    )
    counts = cells.groupBy("cell").agg(F.count(F.lit(1)).alias("n"))
    # Left-join onto the full cell spine: an EMPTY cell (n=0) is the
    # strongest retrain signal of all and must not be invisible just
    # because no row hashed into it.
    spark = df.sparkSession
    spine = spark.range(n_cells).select(F.col("id").cast("int").alias("cell"))
    full = spine.join(counts, "cell", "left").select(
        "cell", F.coalesce("n", F.lit(0)).alias("n")
    )
    tot = F.sum("n").over(Window.partitionBy())  # n_cells rows only
    return full.select(
        "cell",
        "n",
        F.round(F.col("n") / tot, dp).alias("frac"),
        F.round(F.col("n") * n_cells / tot, dp).alias("load_factor"),
    ).orderBy("cell")


def ivf_cell_balance_sql(
    n_cells: int = 8,
    seed: int = 4321,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    dim: int = 64,
    dp: int = 6,
) -> str:
    """DuckDB twin of :func:`ivf_cell_balance` (same centroids/ties)."""
    cents = seeded_centroids(dim, n_cells, seed)
    return f"""
        WITH {_cells_cte_sql(cents, table, id_col, vector_col)},
        counts AS (SELECT cell, count(*) AS n FROM cells GROUP BY cell),
        spine AS (
            SELECT CAST(unnest(range(0, {n_cells})) AS INTEGER) AS cell
        ),
        filled AS (
            SELECT s.cell, COALESCE(n, 0) AS n
            FROM spine s LEFT JOIN counts USING (cell)
        )
        SELECT cell, n,
               ROUND(n::DOUBLE / SUM(n) OVER (), {dp}) AS frac,
               ROUND((n * {n_cells})::DOUBLE / SUM(n) OVER (), {dp})
                   AS load_factor
        FROM filled ORDER BY cell
    """


def _ivf_write(
    df: DataFrame, path: str, mode: str, n_cells: int, seed: int,
    id_col: str, vector_col: str, dim: int,
) -> None:
    """Write ``df`` partitioned by its cell; rows without an id are not
    indexed (the inline :func:`ivf_topk` drops them too)."""
    cents = seeded_centroids(dim, n_cells, seed)
    (
        df.filter(F.col(id_col).isNotNull())
        .withColumn("cell", cell_assignment_expr(cents, vector_col))
        .write.mode(mode)
        .partitionBy("cell")
        .parquet(path)
    )


def ivf_write_index(
    df: DataFrame,
    path: str,
    n_cells: int = 8,
    seed: int = 4321,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    dim: int = 64,
) -> None:
    """Materialize an IVF index: the table written partitioned by cell.

    This is the 100 TB layout behind :func:`ivf_topk`: cell assignment
    (:func:`cell_assignment_expr`, a narrow projection) happens ONCE at
    ingest, and ``partitionBy("cell")`` turns every probe query into a
    partition-pruned scan — a query touching ``nprobe`` of ``n_cells``
    partitions reads ``nprobe/n_cells`` of the bytes (verify:
    `PartitionFilters` in the scan node, see :func:`ivf_topk_indexed`
    and BENCH.md).
    """
    _ivf_write(df, path, "overwrite", n_cells, seed, id_col, vector_col, dim)


def ivf_append_index(
    df_new: DataFrame,
    path: str,
    n_cells: int = 8,
    seed: int = 4321,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    dim: int = 64,
) -> None:
    """Incremental IVF maintenance: assign a new batch's vectors to
    their cells and append into the existing cell directories — the
    at-scale ingest path :func:`ivf_write_index` bootstraps (cost is
    O(batch); the indexed corpus is never rescanned, and
    :func:`ivf_topk_indexed` serves the union immediately).

    Cell assignment is a pure function of (vector, centroids), so an
    incrementally-built index holds exactly the rows a from-scratch
    build would (equality-tested). New ids must be disjoint from
    indexed ones — the same single-writer discipline as the vector
    index MERGE and the BM25 postings append. Appends accrete one
    file per touched cell per batch; fold with
    ``sources/maintenance.compact_index``-style per-directory
    compaction on a schedule.
    """
    _ivf_write(
        df_new, path, "append", n_cells, seed, id_col, vector_col, dim
    )


def ivf_topk_indexed(
    spark,
    path: str,
    query: Sequence[float],
    k: int,
    n_cells: int = 8,
    nprobe: int = 2,
    seed: int = 4321,
    id_col: str = "vec_id",
    extra_cols: Sequence[str] = ("label",),
    vector_col: str = "embedding",
) -> DataFrame:
    """Query an :func:`ivf_write_index` layout with partition pruning.

    ``cell IN (probes)`` is a partition filter — Spark lists and reads
    only the probed directories; the other ``n_cells − nprobe`` cells
    are never opened. :func:`cosine_topk` ranks the survivors.
    """
    cents = seeded_centroids(len(query), n_cells, seed)
    cand = spark.read.parquet(path).filter(
        F.col("cell").isin(_probe_cells(query, cents, nprobe))
    )
    return cosine_topk(cand, query, k, id_col, vector_col).select(
        id_col, *extra_cols, "score"
    )


def _plane_lit_sql(p: list[float]) -> str:
    return "[" + ", ".join(repr(x) for x in p) + "]::DOUBLE[]"


def _bucket_expr_sql(
    planes: list[list[float]], t: int, bits_per_table: int, v: str
) -> str:
    return " + ".join(
        f"CASE WHEN list_dot_product({v}, "
        f"{_plane_lit_sql(planes[t * bits_per_table + i])}) >= 0 "
        f"THEN {1 << i} ELSE 0 END"
        for i in range(bits_per_table)
    )


def lsh_topk_sql(
    query: Sequence[float], k: int, bits_per_table: int = 3,
    n_tables: int = 12, seed: int = 1234, table: str = "embeddings",
    id_col: str = "vec_id", vector_col: str = "embedding",
    extra_cols: str = "label",
) -> str:
    """DuckDB twin of :func:`lsh_topk` (same planes, same query buckets)."""
    dim = len(query)
    planes = seeded_hyperplanes(dim, bits_per_table * n_tables, seed)
    qkeys = query_buckets(query, bits_per_table, n_tables, seed, dim)
    v = f"{vector_col}::DOUBLE[]"
    collide = " OR ".join(
        f"({_bucket_expr_sql(planes, t, bits_per_table, v)}) = "
        f"{qkeys[t] - t * (1 << bits_per_table)}"
        for t in range(n_tables)
    )
    cos = cosine_to_query_sql(vector_col, query)
    cols = f"{id_col}, {extra_cols}, " if extra_cols else f"{id_col}, "
    return f"""
        SELECT {cols}ROUND({cos}, {_DP}) AS score
        FROM {table}
        WHERE {collide}
        ORDER BY ROUND({cos}, {_DP}) DESC, {id_col} ASC
        LIMIT {k}
    """


def lsh_similarity_join_sql(
    threshold: float, bits_per_table: int = 3, n_tables: int = 12,
    seed: int = 1234, table: str = "embeddings", id_col: str = "vec_id",
    vector_col: str = "embedding", dim: int = 64,
) -> str:
    planes = seeded_hyperplanes(dim, bits_per_table * n_tables, seed)
    v = f"{vector_col}::DOUBLE[]"

    def bucket_expr(t: int) -> str:
        return _bucket_expr_sql(planes, t, bits_per_table, v)

    sig_union = "\n            UNION ALL\n".join(
        f"            SELECT {id_col} AS vid, {vector_col} AS vec, "
        f"{t} AS tbl, CAST({bucket_expr(t)} AS INT) AS bucket FROM {table}"
        for t in range(n_tables)
    )
    cos = (
        "list_dot_product(va::DOUBLE[], vb::DOUBLE[]) / "
        "(sqrt(list_dot_product(va::DOUBLE[], va::DOUBLE[])) * "
        "sqrt(list_dot_product(vb::DOUBLE[], vb::DOUBLE[])))"
    )
    return f"""
        WITH sig AS (
{sig_union}
        ),
        cand AS (
            SELECT DISTINCT a.vid AS id_a, b.vid AS id_b,
                   a.vec AS va, b.vec AS vb
            FROM sig a JOIN sig b
              ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vid < b.vid
        )
        SELECT id_a, id_b, ROUND({cos}, {_DP}) AS cosine
        FROM cand
        WHERE ROUND({cos}, {_DP}) >= {threshold}
    """


def group_centroids(
    df: DataFrame,
    group_col: str = "label",
    vector_col: str = "embedding",
    dp: int = 6,
) -> DataFrame:
    """Per-group centroid in LONG form: (group, pos, centroid) — mean of
    each vector dimension over the group (class centroids / mean-pooled
    embeddings / k-means init).

    100 TB design: ``posexplode`` → ``groupBy(group, pos)`` with
    map-side partial aggregation — the shuffle carries one partial per
    (group, dim, partition), not the vectors; NOT the 2·dim-aggregate
    one-shot form, which is a codegen bomb at dim ≥ 64 (see BENCH.md).
    Long output avoids an array re-assembly shuffle; callers needing
    array form pivot with ``collect_list`` over a (group, pos) sort.

    Cross-engine determinism: float sums are order-sensitive, so each
    float32 value is first cast to DECIMAL(28,10) — the cast rounds the
    same exact binary value identically in both engines — then summed
    exactly (order-free) and divided as DOUBLE on output.
    """
    dec = "decimal(28,10)"
    return (
        # spread BEFORE the explode: the repartition moves compact
        # vector rows, not the ×dim exploded stream, and the explode +
        # partial aggregation then run on every core (no-op at
        # real scale where the scan arrives as many splits)
        spread(df.select(group_col, vector_col))
        .select(
            F.col(group_col),
            F.posexplode(vector_col).alias("pos", "x"),
        )
        .groupBy(group_col, "pos")
        .agg(
            F.round(
                (
                    F.sum(F.col("x").cast(dec)).cast("double")
                    / F.count(F.lit(1))
                ),
                dp,
            ).alias("centroid"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy(group_col, "pos")
    )


def group_centroids_sql(
    table: str = "embeddings",
    group_col: str = "label",
    vector_col: str = "embedding",
    dp: int = 6,
) -> str:
    """DuckDB twin of :func:`group_centroids`. DuckDB has no WITH
    ORDINALITY; two same-length ``unnest`` calls in one SELECT zip
    row-wise (and unnest can't appear in GROUP BY, so the explode is
    projected in a subquery)."""
    return f"""
        SELECT {group_col}, pos,
               ROUND(CAST(SUM(CAST(x AS DECIMAL(28,10))) AS DOUBLE)
                     / COUNT(*), {dp}) AS centroid,
               COUNT(*) AS n
        FROM (
            SELECT {group_col},
                   unnest(generate_series(0, len({vector_col}) - 1)) AS pos,
                   unnest({vector_col}) AS x
            FROM {table}
        )
        GROUP BY {group_col}, pos
        ORDER BY {group_col}, pos
    """


# ---------------------------------------------------------------------------
# SemDeDup-style semantic near-duplicate pruning
# ---------------------------------------------------------------------------
def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.85,
    n_cells: int = 8,
    seed: int = 4321,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    extra_cols: Sequence[str] = ("label",),
    centroids: list[list[float]] | None = None,
    dim: int | None = None,
    strategy: str = "matmul",
) -> DataFrame:
    """SemDeDup-style embedding dedup: survivors after within-cell
    cosine pruning (Abbas et al. 2023, arXiv:2303.09540).

    Every vector is assigned to its nearest centroid cell; a row is
    dropped iff some SAME-CELL row with a smaller id has cosine ≥
    ``threshold`` to it. Deterministic (min-id survivor per
    neighborhood) and SQL-expressible, which is what the oracle checks.

    ``strategy="matmul"`` (default): one shuffle on cell
    (``applyInPandas``), then a blocked unit-matrix BLAS product per
    cell — each pair costs one fused multiply row, vs three 64-element
    HOF aggregates per pair for the ``"join"`` formulation (measured
    6.5× on the sf0.1 fixture). ``"join"``: the pure-Catalyst same-cell
    equi-join — no Python, keeps survivors fully streaming; use it when
    a hot cell would not fit one task's memory even blocked.

    100 TB design: the cell assignment is a shuffle-free projection
    (:func:`cell_assignment_expr`); the only exchange is the hash
    shuffle on ``cell``, so the quadratic term is bounded by the
    largest cell (cells ≈ N/C; split hot cells by raising ``n_cells``
    — in production pass :func:`kmeans_centroids` output). Only
    (cell, id, vector) rides the shuffle; survivors come back via a
    LEFT ANTI join on ids. No reference analog (the reference has no
    dedup at all, `/root/reference/README.md:4-15`) — north-star op.
    """
    if centroids is None:
        if dim is None:
            dim = df.select(F.size(vector_col)).first()[0]
        centroids = seeded_centroids(dim, n_cells, seed)
    withc = df.withColumn("cell", cell_assignment_expr(centroids, vector_col))

    if strategy == "matmul":
        def prune(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("__id").reset_index(drop=True)
            ids = pdf["__id"].to_numpy()
            M = np.array(list(pdf["__vec"]), dtype=np.float64)
            nrm = np.linalg.norm(M, axis=1)
            nrm[nrm == 0.0] = 1.0
            U = M / nrm[:, None]
            m = len(ids)
            dropped = np.zeros(m, dtype=bool)
            step = max(1, 4_000_000 // max(m, 1))
            cols = np.arange(m)
            for s in range(0, m, step):
                e = min(s + step, m)
                sim = _round_half_away(U[s:e] @ U.T)  # block rows = droppees
                # earlier neighbor: any column j < row index with sim≥τ
                earlier = cols[None, :] < np.arange(s, e)[:, None]
                dropped[s:e] = ((sim >= threshold) & earlier).any(axis=1)
            return pd.DataFrame({"did": ids[dropped]})

        id_type = withc.schema[id_col].dataType.simpleString()
        dropped_df = (
            withc.select(
                F.col("cell"),
                F.col(id_col).alias("__id"),
                F.col(vector_col).alias("__vec"),
            )
            .groupBy("cell")
            .applyInPandas(prune, schema=f"did {id_type}")
        )
    else:
        # norms once per row BEFORE the pair join (not per pair)
        slim = withc.select(
            "cell",
            F.col(id_col).alias("__id"),
            F.col(vector_col).alias("__vec"),
            F.sqrt(dot(F.col(vector_col), F.col(vector_col))).alias("__nrm"),
        )
        cos = dot(F.col("v_a"), F.col("v_b")) / (F.col("n_a") * F.col("n_b"))
        dropped_df = (
            band_pairs(slim, ["cell"], "__id", {"__vec": "v", "__nrm": "n"})
            .filter(F.round(cos, _DP) >= threshold)
            .select(F.col("id_b").alias("did"))
            .distinct()
        )
    return (
        withc.join(dropped_df, withc[id_col] == dropped_df["did"], "left_anti")
        .select(id_col, "cell", *extra_cols)
        .orderBy(id_col)
    )


def semantic_dedup_sql(
    threshold: float = 0.85, n_cells: int = 8, seed: int = 4321,
    table: str = "embeddings", id_col: str = "vec_id",
    vector_col: str = "embedding", extra_cols: str = "label", dim: int = 64,
) -> str:
    """DuckDB twin of :func:`semantic_dedup` (same centroids and ties)."""
    cents = seeded_centroids(dim, n_cells, seed)
    v = f"{vector_col}::DOUBLE[]"
    dot_union = "\n            UNION ALL\n".join(
        f"            SELECT {id_col} AS vid, {cid} AS cid, "
        f"list_dot_product({v}, {_plane_lit_sql(c)}) AS d FROM {table}"
        for cid, c in enumerate(cents)
    )
    cos = (
        "list_dot_product(a.vec, b.vec) / "
        "(sqrt(list_dot_product(a.vec, a.vec)) * "
        "sqrt(list_dot_product(b.vec, b.vec)))"
    )
    extra = f", {extra_cols}" if extra_cols else ""
    return f"""
        WITH dots AS (
{dot_union}
        ),
        cells AS (
            SELECT DISTINCT vid,
                   first_value(cid) OVER
                       (PARTITION BY vid ORDER BY d DESC, cid ASC) AS cell
            FROM dots
        ),
        v AS (
            SELECT t.{id_col}, t.{vector_col}::DOUBLE[] AS vec,
                   cells.cell{extra}
            FROM {table} t JOIN cells ON t.{id_col} = cells.vid
        ),
        dropped AS (
            SELECT DISTINCT b.{id_col} AS did
            FROM v a JOIN v b
              ON a.cell = b.cell AND a.{id_col} < b.{id_col}
            WHERE ROUND({cos}, {_DP}) >= {threshold}
        )
        SELECT {id_col}, cell{extra}
        FROM v LEFT JOIN dropped ON {id_col} = did
        WHERE did IS NULL
        ORDER BY {id_col}
    """


# ---------------------------------------------------------------------------
# Embedding-space label QA: per-label centroid outliers
# ---------------------------------------------------------------------------
def label_outliers(
    df: DataFrame,
    per_label: int = 5,
    group_col: str = "label",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    dp: int = _DP,
) -> DataFrame:
    """Label-quality screen: the ``per_label`` vectors LEAST similar to
    their own label's centroid — the standard first pass for mislabeled
    or out-of-distribution training examples (confident-learning
    lite). Output: (label, vec_id, cos_to_centroid), bottom-``per_label``
    per label by (cosine asc, id asc).

    Determinism across engines: the centroid reuses
    :func:`group_centroids`' DECIMAL-exact mean; the vector·centroid
    dot and both norms sum per-dim DOUBLE products through
    DECIMAL(28,10) — order-free exact sums, so the cosine is
    bit-identical on both engines before its final ROUND.

    100 TB design: the centroid table is |labels|·dim rows →
    broadcast; scoring is one explode + groupBy(id) with map-side
    combine (the shuffle carries 3 decimal partials per vector, not
    the vector); the final top-per-label window runs per label.
    """
    dec = "decimal(28,10)"
    cents = group_centroids(
        df, group_col=group_col, vector_col=vector_col, dp=dp
    ).select(group_col, "pos", "centroid")
    parts = spread(df).select(
        F.col(group_col),
        F.col(id_col),
        F.posexplode(vector_col).alias("pos", "xf"),
    ).select(
        group_col,
        id_col,
        "pos",
        # float32 → DOUBLE before any product: FLOAT×FLOAT precision
        # differs between engines; DOUBLE×DOUBLE is bit-identical.
        F.col("xf").cast("double").alias("x"),
    ).join(F.broadcast(cents), [group_col, "pos"])
    scored = (
        parts.groupBy(group_col, id_col)
        .agg(
            F.sum((F.col("x") * F.col("centroid")).cast(dec)).alias("dot"),
            F.sum((F.col("x") * F.col("x")).cast(dec)).alias("nx"),
            F.sum((F.col("centroid") * F.col("centroid")).cast(dec)).alias(
                "nc"
            ),
        )
        .select(
            group_col,
            id_col,
            F.round(
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("nx").cast("double"))
                    * F.sqrt(F.col("nc").cast("double"))
                ),
                dp,
            ).alias("cos_to_centroid"),
        )
    )
    w = Window.partitionBy(group_col).orderBy(
        F.asc("cos_to_centroid"), F.asc(id_col)
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= per_label)
        .select(group_col, id_col, "cos_to_centroid")
        .orderBy(group_col, id_col)
    )


def label_outliers_sql(
    per_label: int = 5,
    table: str = "embeddings",
    group_col: str = "label",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    dp: int = _DP,
) -> str:
    """DuckDB twin of :func:`label_outliers` (same DECIMAL-exact sums,
    same tie rule)."""
    cents = group_centroids_sql(
        table=table, group_col=group_col, vector_col=vector_col, dp=dp
    )
    return f"""
        WITH cents AS ({cents}),
        parts AS (
            SELECT v.{group_col}, v.{id_col}, v.pos,
                   CAST(v.x AS DOUBLE) AS x, c.centroid
            FROM (
                SELECT {group_col}, {id_col},
                       unnest(generate_series(0, len({vector_col}) - 1))
                           AS pos,
                       unnest({vector_col}) AS x
                FROM {table}
            ) v JOIN cents c USING ({group_col}, pos)
        ),
        scored AS (
            SELECT {group_col}, {id_col},
                   ROUND(
                       CAST(SUM(CAST(x * centroid AS DECIMAL(28,10)))
                            AS DOUBLE)
                       / (sqrt(CAST(SUM(CAST(x * x AS DECIMAL(28,10)))
                                    AS DOUBLE))
                          * sqrt(CAST(SUM(CAST(centroid * centroid
                                              AS DECIMAL(28,10)))
                                      AS DOUBLE))),
                       {dp}) AS cos_to_centroid
            FROM parts
            GROUP BY {group_col}, {id_col}
        )
        SELECT {group_col}, {id_col}, cos_to_centroid
        FROM (
            SELECT *,
                   ROW_NUMBER() OVER (PARTITION BY {group_col}
                                      ORDER BY cos_to_centroid ASC,
                                               {id_col} ASC) AS rn
            FROM scored
        )
        WHERE rn <= {per_label}
        ORDER BY {group_col}, {id_col}
    """


# ---------------------------------------------------------------------------
# Margin-based bitext / parallel-pair mining (Artetxe & Schwenk 2019)
# ---------------------------------------------------------------------------

def _margin_candidates_hof(
    src: DataFrame, tgt: DataFrame, k: int,
    id_col: str, vector_col: str,
) -> "tuple[DataFrame, DataFrame, DataFrame]":
    """Pure-Catalyst candidate generation: all-pairs cosine (rounded to
    engine-stable 6 dp) → per-side k-NN windows. Returns (candidate
    pairs with cos, fwd_mean per src id, bwd_mean per tgt id).
    Quadratic — the oracle-identical baseline, like
    :func:`cosine_similarity_join`'s ``hof`` path."""
    a = src.select(
        F.col(id_col).alias("id_src"), F.col(vector_col).alias("va")
    )
    b = tgt.select(
        F.col(id_col).alias("id_tgt"), F.col(vector_col).alias("vb")
    )
    # zero-norm guard: a zero vector scores cosine 0.0 against
    # everything (the matmul path's convention — norms coerced to 1.0
    # before the unit division) instead of 0/0, so the two strategies
    # agree at the edge
    na = F.sqrt(dot(F.col("va"), F.col("va")))
    nb = F.sqrt(dot(F.col("vb"), F.col("vb")))
    na = F.when(na == F.lit(0.0), F.lit(1.0)).otherwise(na)
    nb = F.when(nb == F.lit(0.0), F.lit(1.0)).otherwise(nb)
    cos = F.round(dot(F.col("va"), F.col("vb")) / (na * nb), _DP)
    pairs = a.crossJoin(b).select(
        "id_src", "id_tgt", cos.alias("cosine")
    )
    w_f = Window.partitionBy("id_src").orderBy(
        F.desc("cosine"), F.asc("id_tgt")
    )
    w_b = Window.partitionBy("id_tgt").orderBy(
        F.desc("cosine"), F.asc("id_src")
    )
    ranked = pairs.withColumn("rn_f", F.row_number().over(w_f)).withColumn(
        "rn_b", F.row_number().over(w_b)
    )
    fwd = ranked.filter(F.col("rn_f") <= k)
    bwd = ranked.filter(F.col("rn_b") <= k)
    # k-NN neighborhoods reduced to EXACT integer sums (the cosines are
    # 6-dp values, i.e. integers once scaled by 1e6): numpy sums in
    # cos-desc order, Spark/DuckDB in arbitrary order, and a float mean
    # of k 6-dp values lands exactly on a rounding half-boundary often
    # enough that any float route gives engine-dependent margins. The
    # margin is then ONE division of exact integers (see _margin_expr),
    # identical on every engine.
    fwd_mean = fwd.groupBy("id_src").agg(
        F.sum(_cos_int(F.col("cosine"))).alias("sum_f"),
        F.count(F.lit(1)).alias("k_f"),
    )
    bwd_mean = bwd.groupBy("id_tgt").agg(
        F.sum(_cos_int(F.col("cosine"))).alias("sum_b"),
        F.count(F.lit(1)).alias("k_b"),
    )
    return fwd.select("id_src", "id_tgt", "cosine"), \
        bwd.select("id_src", "id_tgt", "cosine"), fwd_mean, bwd_mean


def _cos_int(col):
    """A 6-dp cosine as its exact 1e6-scaled integer (the ROUND strips
    FP fuzz from the multiply)."""
    return F.round(col * F.lit(float(10 ** _DP)), 0).cast("long")


def _margin_expr():
    """Ratio margin cos / ((fwd_mean + bwd_mean) / 2) computed EXACTLY:
    with cosines as 1e6-scaled integers c and neighborhoods carried as
    (sum, count), the margin is algebraically

        2 * c * k_f * k_b / (sum_f * k_b + sum_b * k_f)

    — one IEEE division of two exact integers (all well under 2^53),
    so every engine computes the identical double, and the single
    final ROUND can't diverge. Degenerate all-zero neighborhoods
    (sum_f*k_b + sum_b*k_f == 0, only possible with zero vectors)
    score margin 0.0 rather than 0/0."""
    c = _cos_int(F.col("cosine"))
    num = (F.lit(2) * c * F.col("k_f") * F.col("k_b")).cast("double")
    den = (
        F.col("sum_f") * F.col("k_b") + F.col("sum_b") * F.col("k_f")
    ).cast("double")
    return F.when(den == F.lit(0.0), F.lit(0.0)).otherwise(
        F.round(num / den, _DP)
    )


def _knn_target(df, n_passes: int) -> int:
    """Per-pass ``spread`` target for concurrent k-NN passes: divide
    the local cores among the 2·P passes that run together, keeping
    total in-flight tasks ≈ cores/2 (measured at local[32], interleaved
    A/B over {pool,target} grids: the 2-pass miner is fastest at
    target 8 and the 8-pass 2×2 grid at target 1–2 — both are exactly
    ``defaultParallelism // (2 · n_passes)`` — while the old
    per-pass fan-out to ALL cores oversubscribed the box 8× and ran
    the grid 2.4× slower). Scale-adaptive by construction: grows with
    ``defaultParallelism``, and at real scale ``spread()`` is a no-op
    on many-split inputs so the value never caps a big scan."""
    dp = df.sparkSession.sparkContext.defaultParallelism
    return max(1, dp // (2 * max(n_passes, 1)))


def _knn_pass(scan_df, bc, k, id_col, vector_col, scan_is_src,
              spread_target: int | None = None):
    """One broadcast matmul pass: for every row of ``scan_df``, cosine
    against the broadcast matrix, keep the k-NN (rounded cos, id
    tie-break) and the neighborhood mean. Values are row-independent,
    so ``spread_target`` (partitioning) can never change the output —
    it only sizes the per-task matmul blocks."""

    def run(batches):
        o_ids, o_unit = bc.value
        kk = min(k, len(o_ids))
        for pdf in batches:
            if not len(pdf):
                continue
            s_ids = pdf[id_col].to_numpy(dtype=np.int64)
            mat = np.array(list(pdf[vector_col]), dtype=np.float64)
            norms = np.linalg.norm(mat, axis=1)
            norms[norms == 0.0] = 1.0
            unit = mat / norms[:, None]
            step = max(1, 4_000_000 // max(len(o_ids), 1))
            for s in range(0, len(s_ids), step):
                sim = _round_half_away(unit[s : s + step] @ o_unit.T)
                # k-NN by (cos desc, other-id asc): lexsort on
                # (-cos, id) gives exactly the window order
                order = np.lexsort((o_ids[None, :].repeat(len(sim), 0),
                                    -sim), axis=1)[:, :kk]
                rows_idx = np.arange(len(sim))[:, None].repeat(kk, 1)
                top_cos = sim[rows_idx, order]
                top_ids = o_ids[order]
                # neighborhoods as EXACT integer sums of the 1e6-scaled
                # cosines — see _margin_candidates_hof / _margin_expr
                nn_sum = np.rint(top_cos * 10.0 ** _DP).astype(
                    np.int64
                ).sum(axis=1)
                this = np.repeat(s_ids[s : s + step], kk)
                yield pd.DataFrame({
                    "this_id": this,
                    "other_id": top_ids.ravel(),
                    "cosine": top_cos.ravel(),
                    "nn_sum": np.repeat(nn_sum, kk),
                    "nn_k": np.full(len(this), kk, dtype=np.int64),
                })

    out = spread(
        scan_df.select(id_col, vector_col), target=spread_target
    ).mapInPandas(
        run,
        schema=("this_id BIGINT, other_id BIGINT, "
                "cosine DOUBLE, nn_sum BIGINT, nn_k BIGINT"),
    )
    if scan_is_src:
        return out.select(
            F.col("this_id").alias("id_src"),
            F.col("other_id").alias("id_tgt"),
            "cosine",
            F.col("nn_sum").alias("sum_f"),
            F.col("nn_k").alias("k_f"),
        )
    return out.select(
        F.col("other_id").alias("id_src"),
        F.col("this_id").alias("id_tgt"),
        "cosine",
        F.col("nn_sum").alias("sum_b"),
        F.col("nn_k").alias("k_b"),
    )


def margin_bitext_mine(
    src: DataFrame,
    tgt: DataFrame,
    k: int = 4,
    threshold: float = 1.0,
    direction: str = "intersection",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    strategy: str = "auto",
) -> DataFrame:
    """Parallel-pair mining with RATIO MARGIN scoring (Artetxe &
    Schwenk 2019, "Margin-based Parallel Corpus Mining with
    Multilingual Sentence Embeddings" — the LASER/CCMatrix recipe):
    candidates are each side's k-NN by cosine, rescored by

        margin(x, y) = cos(x, y) / ((fwd_mean(x) + bwd_mean(y)) / 2)

    where fwd_mean/bwd_mean are the k-NN cosine means — absolute
    cosine thresholds fail because "how close is close" varies by
    neighborhood density (hubness); the margin normalizes by it.

    ``direction='forward'`` keeps each source row's best-margin
    candidate; ``'intersection'`` (default, highest precision) keeps
    pairs that are MUTUAL best — x's best candidate is y AND y's best
    candidate is x. Pairs below ``threshold`` (1.0 = "closer than the
    neighborhood average") are dropped. Output: (id_src, id_tgt,
    cosine, margin), both scores rounded to engine-stable 6 dp, and
    candidate ranking uses (rounded margin desc, id asc) so the
    argmax is reproducible cross-engine and cross-strategy.

    Strategies, mirroring :func:`cosine_similarity_join`:

    - ``matmul`` (scale path): TWO broadcast k-NN passes — tgt
      broadcast while scanning src (forward candidates + fwd_mean),
      src broadcast while scanning tgt (backward + bwd_mean) — then
      candidate-sized joins; the corpus-sized relations never
      shuffle, BLAS does the N×M work in Arrow batches. At 100 TB
      run it per (src shard × tgt shard) with shard-level margins,
      exactly how LASER mines CommonCrawl.
    - ``hof``: pure-Catalyst cross join + windows — the
      oracle-identical quadratic baseline.
    - ``auto``: ``matmul`` while BOTH sides fit the broadcast budget,
      else raises with guidance (an exact N×M cross join at scale is
      a cartesian scale-killer; shard first, or bucket with
      :func:`lsh_similarity_join` / :func:`ivf_topk` machinery).

    Contract: ``id_col`` must be an INTEGRAL column (byte/short/int/
    long) on BOTH sides — validated up front for every strategy, so
    ``auto`` can never crash mid-stage where ``hof`` would have run
    (the matmul pass carries ids through int64 numpy arrays, and the
    id tie-break on string ids would additionally depend on engine
    collation). Map string/UUID ids to a dense integer key first
    (``F.xxhash64`` or ``zipWithIndex``-style assignment).

    Edge semantics (identical across strategies AND engines, pinned by
    tests): a zero-norm vector scores cosine 0.0 against everything
    (never 0/0 = NaN), and the margin is computed as ONE division of
    exact integers — neighborhoods carried as (sum of 1e6-scaled
    cosines, count), margin = 2·c·k_f·k_b / (sum_f·k_b + sum_b·k_f) —
    so summation order can never flip a rounded value (a float mean of
    k 6-dp cosines lands exactly on rounding half-boundaries often;
    an integer ratio never depends on order). Degenerate all-zero
    neighborhoods score margin 0.0.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    _INTEGRAL = ("tinyint", "smallint", "int", "bigint")
    for side, df in (("src", src), ("tgt", tgt)):
        dt = dict(df.dtypes).get(id_col)
        if dt is None:
            raise ValueError(
                f"margin_bitext_mine: {side} has no column {id_col!r}"
            )
        if dt not in _INTEGRAL:
            raise ValueError(
                f"margin_bitext_mine: id column {id_col!r} on {side} is "
                f"{dt}, but the operator requires an integral id on "
                "every strategy (the matmul pass carries ids as int64, "
                "and string tie-breaks are collation-dependent). Derive "
                "an integer key first, e.g. F.xxhash64."
            )
    if direction not in ("forward", "intersection"):
        raise ValueError(
            f"direction must be forward|intersection, got {direction!r}"
        )
    if strategy not in ("auto", "matmul", "hof"):
        raise ValueError(f"unknown strategy {strategy!r}")
    if strategy != "hof":
        fits = (
            _vector_set_bytes(src, vector_col) <= _broadcast_budget(src)
            and _vector_set_bytes(tgt, vector_col) <= _broadcast_budget(tgt)
        )
        if not fits:
            if strategy == "matmul":
                raise ValueError(
                    "margin_bitext_mine(strategy='matmul'): a side "
                    "exceeds the driver broadcast budget "
                    f"({BROADCAST_BYTES_CONF})."
                )
            raise ValueError(
                "margin_bitext_mine(strategy='auto'): a vector set "
                "exceeds the driver broadcast budget "
                f"({BROADCAST_BYTES_CONF}), and exact N×M mining past "
                "that scale is quadratic. Use margin_bitext_mine_sharded "
                "(mines per src×tgt shard pair with shard-level margins "
                "— the LASER/CCMatrix pattern, shipped as one call), "
                "bucket candidates with LSH/IVF first, raise the budget "
                "conf, or pass strategy='hof' to explicitly accept the "
                "cross join."
            )
        strategy = "matmul"

    if strategy == "hof":
        fwd, bwd, fwd_mean, bwd_mean = _margin_candidates_hof(
            src, tgt, k, id_col, vector_col
        )
        return _margin_select(
            fwd, bwd, fwd_mean, bwd_mean, direction, threshold
        )
    return _mine_matmul(
        src, tgt,
        _collect_unit_broadcast(src, id_col, vector_col),
        _collect_unit_broadcast(tgt, id_col, vector_col),
        k, threshold, direction, id_col, vector_col,
    )


_COLLECT_CHUNK = 8192  # rows of driver-side buffer per numpy conversion


def _finish_unit(sc, id_chunks, mat_chunks, by_id: bool = False):
    """Concatenate streamed chunks and broadcast (ids, unit rows),
    ordered by id when ``by_id``."""
    ids = (
        np.concatenate(id_chunks)
        if id_chunks
        else np.zeros(0, dtype=np.int64)
    )
    mat = (
        np.vstack(mat_chunks)
        if mat_chunks
        else np.zeros((0, 1), dtype=np.float64)
    )
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0.0] = 1.0
    unit = mat / norms[:, None]
    if by_id:
        order = np.argsort(ids)
        ids, unit = ids[order], unit[order]
    return sc.broadcast((ids, unit))


def _collect_unit_broadcast(
    df, id_col: str, vector_col: str, by_id: bool = False
):
    """Collect (id, unit-vector) arrays for one matmul side and
    broadcast them once. Callers that mine many shard PAIRS reuse one
    broadcast per SHARD (see margin_bitext_mine_sharded) instead of
    re-collecting per pair.

    Driver envelope: the side streams through
    ``toLocalIterator`` in fixed-size chunks converted to numpy as they
    arrive, so the driver holds the numpy matrix itself (bounded by the
    broadcast budget the callers enforce) plus ONE ``_COLLECT_CHUNK``
    of Rows — not a corpus-sized Row list, which is several times the
    numpy footprint (a Row of 64 Python floats is ~25 bytes/value vs
    8 in the array)."""
    it = df.select(id_col, vector_col).toLocalIterator(
        prefetchPartitions=True
    )
    id_chunks: list = []
    mat_chunks: list = []
    buf_i: list = []
    buf_v: list = []
    for r in it:
        buf_i.append(r[0])
        buf_v.append(r[1])
        if len(buf_i) >= _COLLECT_CHUNK:
            id_chunks.append(np.array(buf_i, dtype=np.int64))
            mat_chunks.append(np.array(buf_v, dtype=np.float64))
            buf_i, buf_v = [], []
    if buf_i:
        id_chunks.append(np.array(buf_i, dtype=np.int64))
        mat_chunks.append(np.array(buf_v, dtype=np.float64))
    return _finish_unit(
        df.sparkSession.sparkContext, id_chunks, mat_chunks, by_id
    )


def _checkpoint_all(frames):
    """Materialize several independent frames' ``localCheckpoint`` jobs
    CONCURRENTLY from a small driver thread pool (guide §2.6: actions
    are only sequential because driver code calls them sequentially —
    these jobs are independent, and each is small enough that its tail
    leaves most cores idle). Returns the checkpointed frames in order."""
    from concurrent.futures import ThreadPoolExecutor

    if len(frames) == 1:
        return [frames[0].localCheckpoint()]
    with ThreadPoolExecutor(max_workers=min(8, len(frames))) as pool:
        return list(pool.map(lambda f: f.localCheckpoint(), frames))


def _assemble_margin(fwd, bwd, threshold, direction):
    """Candidate frames (checkpointed k-NN outputs) → mined pairs."""
    fwd_mean = fwd.select("id_src", "sum_f", "k_f").distinct()
    bwd_mean = bwd.select("id_tgt", "sum_b", "k_b").distinct()
    fwd = fwd.select("id_src", "id_tgt", "cosine")
    bwd = bwd.select("id_src", "id_tgt", "cosine")
    return _margin_select(fwd, bwd, fwd_mean, bwd_mean, direction, threshold)


def _mine_matmul(src, tgt, src_bc, tgt_bc, k, threshold, direction,
                 id_col, vector_col):
    """The matmul mining plan over pre-collected side broadcasts."""
    t = _knn_target(src, n_passes=2)
    fwd = _knn_pass(src, tgt_bc, k, id_col, vector_col, True,
                    spread_target=t)
    bwd = _knn_pass(tgt, src_bc, k, id_col, vector_col, False,
                    spread_target=t)
    # Each k-NN output feeds TWO consumers (its candidate rows and the
    # distinct neighborhood means), and Spark does not reuse the
    # Python stage across them — without materialization both matmul
    # passes execute twice. localCheckpoint pins each pass to one
    # execution; the checkpointed frame is candidate-sized (N·k rows,
    # ids + scalars, no vectors), the same rows the joins below carry
    # anyway (guide §4: pay the Python boundary once). The two
    # checkpoint jobs are independent — run them concurrently.
    fwd, bwd = _checkpoint_all([fwd, bwd])
    return _assemble_margin(fwd, bwd, threshold, direction)


def _margin_select(fwd, bwd, fwd_mean, bwd_mean, direction, threshold):
    """Best-margin / mutual-best selection shared by both strategies."""
    def _best(cands, mean_a, mean_b, part_col, other_col):
        m = (
            cands.join(F.broadcast(mean_a), "id_src")
            .join(F.broadcast(mean_b), "id_tgt")
            .withColumn("margin", _margin_expr())
        )
        w = Window.partitionBy(part_col).orderBy(
            F.desc("margin"), F.asc(other_col)
        )
        return (
            m.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("id_src", "id_tgt", "cosine", "margin")
        )

    fbest = _best(fwd, fwd_mean, bwd_mean, "id_src", "id_tgt")
    if direction == "forward":
        out = fbest
    else:
        bbest = _best(bwd, fwd_mean, bwd_mean, "id_tgt", "id_src")
        out = fbest.join(
            bbest.select("id_src", "id_tgt"), ["id_src", "id_tgt"]
        )
    return out.filter(F.col("margin") >= threshold)


def _broadcast_budget(df) -> int:
    return int(
        df.sparkSession.conf.get(
            BROADCAST_BYTES_CONF, str(DEFAULT_BROADCAST_BYTES)
        )
    )


def _shard_pred(id_col: str, n: int, i: int, assign: str):
    if assign == "hash":
        return F.pmod(F.xxhash64(F.col(id_col)), F.lit(n)) == F.lit(i)
    return F.pmod(F.col(id_col), F.lit(n)) == F.lit(i)


def margin_bitext_mine_sharded(
    src: DataFrame,
    tgt: DataFrame,
    src_shards: int = 1,
    tgt_shards: int = 1,
    k: int = 4,
    threshold: float = 1.0,
    direction: str = "intersection",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    assign: str = "hash",
) -> DataFrame:
    """Shard-pair driver for :func:`margin_bitext_mine` past the
    broadcast budget — ships the loop the budget refusal recommends,
    so 100-TB mining is one call, not a pattern the caller
    re-implements.

    Each side is split into shards by its (integral, per the operator
    contract) id — ``assign='hash'`` (default) buckets by
    ``pmod(xxhash64(id), n)`` so adversarial/sequential-block id
    layouts still spread evenly; ``assign='mod'`` uses ``id % n``
    (deterministic cross-engine, used by the DuckDB oracle twin).
    Every (src shard × tgt shard) pair is mined independently with the
    ``matmul`` strategy and the results unioned: the k-NN neighborhood
    means — and therefore the margins — are SHARD-PAIR-LEVEL, exactly
    how LASER/CCMatrix mines CommonCrawl in chunks (Artetxe & Schwenk
    2019 §3: margins over the chunk's neighborhoods). With
    ``src_shards == tgt_shards == 1`` the output is identical to
    ``margin_bitext_mine(strategy='matmul')``; with more shards it is
    identical to manually looping the base operator over the shard
    pairs (pinned by tests/test_bitext.py's 2×2 grid equivalence).

    Scale shape: only candidate-sized relations shuffle; each pair's
    broadcast is ~1/src_shards (resp. 1/tgt_shards) of the corpus, so
    pick shard counts that bring each side under the
    ``BROADCAST_BYTES_CONF`` budget. The pairs are independent jobs —
    on a cluster, submit them from a thread pool for full overlap; the
    unioned plan here already lets Spark schedule their stages
    concurrently within one action.
    """
    if src_shards < 1 or tgt_shards < 1:
        raise ValueError(
            f"shard counts must be >= 1, got {src_shards}x{tgt_shards}"
        )
    if assign not in ("hash", "mod"):
        raise ValueError(f"assign must be hash|mod, got {assign!r}")

    # Validate + budget-check + collect each SHARD exactly once, then
    # reuse its broadcast for every pair it participates in. The old
    # loop called margin_bitext_mine per pair, which re-ran the size
    # aggregate AND the collect for both sides of every pair — an
    # src_shards×tgt_shards grid paid 2·P·(agg+collect) driver jobs
    # for P pairs where S+T suffice (don't recompute what a pass
    # already produced). Outputs are unchanged: each pair still
    # mines from exactly its shards' vectors with shard-pair margins.
    #
    # ONE size aggregate and ONE collect per SIDE —
    # the shard column rides along and the driver splits the arrays —
    # instead of per-shard jobs (n scans of the side each). The driver
    # memory envelope is unchanged: the per-shard variant already held
    # every shard's broadcast alive simultaneously for the pair loop.
    def _shards(df, n, side):
        parts = [
            df if n == 1 else df.filter(_shard_pred(id_col, n, i, assign))
            for i in range(n)
        ]
        budget = _broadcast_budget(df)
        if n == 1:
            if _vector_set_bytes(df, vector_col) > budget:
                raise ValueError(
                    f"margin_bitext_mine_sharded: {side} shard 0/1 "
                    f"exceeds the driver broadcast budget "
                    f"({BROADCAST_BYTES_CONF}); raise the shard count."
                )
            return parts, [
                _collect_unit_broadcast(df, id_col, vector_col)
            ]
        shard = (
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(n))
            if assign == "hash"
            else F.pmod(F.col(id_col), F.lit(n))
        ).cast("int").alias("__shard")
        sizes = {
            r["__shard"]: (int(r["n"] or 0), int(r["d"] or 0))
            for r in df.select(shard, id_col, vector_col)
            .groupBy("__shard")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.max(F.size(vector_col)).alias("d"),
            )
            .collect()
        }
        for i in range(n):
            cnt, dim = sizes.get(i, (0, 0))
            if cnt * (dim * 8 + 24) > budget:
                raise ValueError(
                    f"margin_bitext_mine_sharded: {side} shard {i}/{n} "
                    f"exceeds the driver broadcast budget "
                    f"({BROADCAST_BYTES_CONF}); raise the shard count."
                )
        # ONE pass over the side, streamed: the
        # budget check above bounds every shard's BROADCAST, but a
        # full .collect() would additionally hold the whole side as a
        # transient Row list — several times the numpy footprint.
        # toLocalIterator + per-shard chunked numpy conversion keeps
        # the driver at (all shards' numpy, which the pair loop holds
        # anyway) + n shards × one _COLLECT_CHUNK row buffer.
        it = df.select(shard, id_col, vector_col).toLocalIterator(
            prefetchPartitions=True
        )
        bufs: dict[int, tuple[list, list]] = {
            i: ([], []) for i in range(n)
        }
        chunks: dict[int, tuple[list, list]] = {
            i: ([], []) for i in range(n)
        }
        for r in it:
            bi, bv = bufs[r[0]]
            bi.append(r[1])
            bv.append(r[2])
            if len(bi) >= _COLLECT_CHUNK:
                ic, mc = chunks[r[0]]
                ic.append(np.array(bi, dtype=np.int64))
                mc.append(np.array(bv, dtype=np.float64))
                bufs[r[0]] = ([], [])
        sc = df.sparkSession.sparkContext
        bcs = []
        for i in range(n):
            bi, bv = bufs[i]
            ic, mc = chunks[i]
            if bi:
                ic.append(np.array(bi, dtype=np.int64))
                mc.append(np.array(bv, dtype=np.float64))
            bcs.append(_finish_unit(sc, ic, mc))
        return parts, bcs

    # id-column validation comes from the base operator's contract;
    # run it once per side via a zero-shard-free probe of the dtypes
    _INTEGRAL = ("tinyint", "smallint", "int", "bigint")
    for side, df in (("src", src), ("tgt", tgt)):
        dt = dict(df.dtypes).get(id_col)
        if dt is None or dt not in _INTEGRAL:
            raise ValueError(
                f"margin_bitext_mine_sharded: id column {id_col!r} on "
                f"{side} is {dt}, but the operator requires an integral "
                "id (shard assignment and the matmul pass carry ids as "
                "int64). Derive an integer key first, e.g. F.xxhash64."
            )
    if direction not in ("forward", "intersection"):
        raise ValueError(
            f"direction must be forward|intersection, got {direction!r}"
        )
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")

    s_parts, s_bcs = _shards(src, src_shards, "src")
    t_parts, t_bcs = _shards(tgt, tgt_shards, "tgt")
    # Build every pair's two k-NN candidate frames lazily, then
    # materialize ALL 2·P checkpoint jobs from one thread pool (guide
    # §2.6) — the old per-pair _mine_matmul call ran them as 2·P
    # sequential driver jobs, each leaving most cores idle in its tail.
    t = _knn_target(src, n_passes=2 * src_shards * tgt_shards)
    cands = []
    for i in range(src_shards):
        for j in range(tgt_shards):
            cands.append(
                _knn_pass(s_parts[i], t_bcs[j], k, id_col, vector_col,
                          True, spread_target=t)
            )
            cands.append(
                _knn_pass(t_parts[j], s_bcs[i], k, id_col, vector_col,
                          False, spread_target=t)
            )
    cands = _checkpoint_all(cands)
    outs = [
        _assemble_margin(cands[2 * p], cands[2 * p + 1], threshold,
                         direction)
        for p in range(src_shards * tgt_shards)
    ]
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def margin_bitext_mine_sharded_sql(
    src_rel: str,
    tgt_rel: str,
    src_shards: int = 1,
    tgt_shards: int = 1,
    k: int = 4,
    threshold: float = 1.0,
    direction: str = "intersection",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    dp: int = _DP,
) -> str:
    """DuckDB twin of :func:`margin_bitext_mine_sharded` with
    ``assign='mod'`` — the union of the base twin over every shard
    pair, each pair's margins computed over that pair's neighborhoods."""
    members = []
    for i in range(src_shards):
        s_rel = f"SELECT * FROM ({src_rel}) WHERE {id_col} % {src_shards} = {i}"
        for j in range(tgt_shards):
            t_rel = (
                f"SELECT * FROM ({tgt_rel}) "
                f"WHERE {id_col} % {tgt_shards} = {j}"
            )
            members.append(
                "SELECT * FROM ("
                + margin_bitext_mine_sql(
                    s_rel, t_rel, k=k, threshold=threshold,
                    direction=direction, id_col=id_col,
                    vector_col=vector_col, dp=dp,
                )
                + ")"
            )
    return (
        "\nUNION ALL\n".join(members) + "\nORDER BY id_src, id_tgt"
    )


def margin_bitext_mine_sql(
    src_rel: str,
    tgt_rel: str,
    k: int = 4,
    threshold: float = 1.0,
    direction: str = "intersection",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    dp: int = _DP,
) -> str:
    """DuckDB twin of :func:`margin_bitext_mine` — the same rounded
    cosines, k-NN windows, exact-integer margin (one division of
    integer sums — see ``_margin_expr``), zero-norm convention
    (cosine 0.0, never 0/0), and (margin desc, id asc) argmax."""
    v = f"{vector_col}::DOUBLE[]"
    cos = (
        f"list_dot_product(a.{v}, b.{v}) / "
        f"(COALESCE(NULLIF(sqrt(list_dot_product(a.{v}, a.{v})), 0.0), 1.0)"
        f" * "
        f"COALESCE(NULLIF(sqrt(list_dot_product(b.{v}, b.{v})), 0.0), 1.0))"
    )
    # both argmaxes rank WITHIN the k-NN candidate set (filter before
    # the window): the globally-best-margin row of a partition can sit
    # outside the k-NN (margin reranks by the OTHER side's mean), and
    # the operator never sees non-candidates
    inter = ""
    if direction == "intersection":
        inter = """
        JOIN (SELECT id_src, id_tgt
              FROM (SELECT * FROM scored WHERE rn_b <= {k})
              QUALIFY ROW_NUMBER() OVER (PARTITION BY id_tgt
                  ORDER BY margin DESC, id_src ASC) = 1) bb
          USING (id_src, id_tgt)
        """.replace("{k}", str(k))
    return f"""
WITH pairs AS MATERIALIZED (
  SELECT a.{id_col} AS id_src, b.{id_col} AS id_tgt,
         ROUND({cos}, {dp}) AS cosine
  FROM ({src_rel}) a CROSS JOIN ({tgt_rel}) b
), ranked AS MATERIALIZED (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY id_src
             ORDER BY cosine DESC, id_tgt ASC) AS rn_f,
         ROW_NUMBER() OVER (PARTITION BY id_tgt
             ORDER BY cosine DESC, id_src ASC) AS rn_b
  FROM pairs
), fm AS MATERIALIZED (
  SELECT id_src,
         SUM(CAST(ROUND(cosine * {10 ** dp}, 0) AS BIGINT)) AS sum_f,
         COUNT(*) AS k_f
  FROM ranked WHERE rn_f <= {k} GROUP BY id_src
), bm AS MATERIALIZED (
  SELECT id_tgt,
         SUM(CAST(ROUND(cosine * {10 ** dp}, 0) AS BIGINT)) AS sum_b,
         COUNT(*) AS k_b
  FROM ranked WHERE rn_b <= {k} GROUP BY id_tgt
), scored AS MATERIALIZED (
  SELECT r.id_src, r.id_tgt, r.cosine, r.rn_f, r.rn_b,
         CASE WHEN f.sum_f * b.k_b + b.sum_b * f.k_f = 0 THEN 0.0
              ELSE ROUND(
                CAST(2 * CAST(ROUND(r.cosine * {10 ** dp}, 0) AS BIGINT)
                       * f.k_f * b.k_b AS DOUBLE)
                / CAST(f.sum_f * b.k_b + b.sum_b * f.k_f AS DOUBLE),
                {dp})
         END AS margin
  FROM ranked r JOIN fm f USING (id_src) JOIN bm b USING (id_tgt)
)
SELECT id_src, id_tgt, cosine, margin
FROM (
  SELECT * FROM (SELECT * FROM scored WHERE rn_f <= {k})
  QUALIFY ROW_NUMBER() OVER (PARTITION BY id_src
      ORDER BY margin DESC, id_tgt ASC) = 1
) fb
{inter}
WHERE margin >= {threshold}
ORDER BY id_src, id_tgt
"""
