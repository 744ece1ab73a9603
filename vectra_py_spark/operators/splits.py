"""Dataset splitting / sampling / decontamination for training-data
pipelines (north-star extensions; BASELINE.json "training-data ops").

Three operators a pretraining corpus pipeline needs beyond dedup:

- :func:`assign_splits` — deterministic train/val/test assignment by a
  content-stable hash bucket of the document id. Hash-bucketing (not
  ``rand()``) is the production idiom: assignments are reproducible
  across reruns, stable under backfills (a re-ingested doc lands in the
  same split), and require no RNG state or seed plumbing. The bucket is
  a narrow projection — no shuffle, no UDF.
- :func:`stratified_sample` — per-stratum sampling fractions (e.g.
  up/down-weighting languages) via a broadcast-joined cutoff table over
  the same hash bucket. Still a narrow map after the broadcast join;
  deterministic for the same reasons.
- :func:`decontaminate` — benchmark-contamination check: flag corpus
  documents sharing ≥ ``min_overlap`` word k-grams with an eval set.
  The eval side (benchmarks: thousands of docs) broadcasts; the corpus
  side shingles in a narrow ``mapInPandas`` (reusing
  :func:`~vectra_py_spark.operators.dedup.shingle_df_with_sizes`); the
  only shuffle is the final per-doc overlap count (map-side combined).

Every operator has a DuckDB-SQL twin built from the SAME constants so
the driver's oracle gate verifies both engines in lockstep. The hash
bucket is md5-based (both engines agree byte-for-byte on md5 of the
decimal id string); the first 4 hex chars → 0..65535 → mod
``N_BUCKETS``.

100 TB notes: ``assign_splits``/``stratified_sample`` add zero shuffles
to an ingest pipeline (pure projections + one broadcast). For
``decontaminate``, the corpus shingle stream never materializes — it
flows from the text cell straight into the (broadcast) hash semi-join;
with a 13-gram production setting the match rate is ~0 and the groupBy
input is tiny. Eval sets are benchmark-sized (MBs), always
broadcastable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vectra_py_spark.operators.dedup import (
    _shingles_sql,
    shingle_df,
    shingle_df_with_sizes,
)
from vectra_py_spark.session import local_frame

__all__ = [
    "source_quota",
    "source_quota_sql",
    "N_BUCKETS",
    "hash_bucket",
    "hash_bucket_sql",
    "assign_splits",
    "assign_splits_sql",
    "stratified_sample",
    "stratified_sample_sql",
    "quality_weighted_sample",
    "quality_weighted_sample_sql",
    "decontaminate",
    "decontaminate_sql",
    "bloom_decontaminate",
    "bloom_membership_expr",
    "BLOOM_M_BITS",
    "BLOOM_K",
]

N_BUCKETS = 1000
DEFAULT_TRAIN_CUT = 800  # bucket <  800        → train  (80%)
DEFAULT_VAL_CUT = 900    # bucket in [800, 900) → val    (10%); rest → test


def hash_bucket(col: F.Column) -> F.Column:
    """Stable bucket in [0, N_BUCKETS): first 4 hex chars of
    ``md5(string(col))`` as an integer, mod ``N_BUCKETS``."""
    hex4 = F.substring(F.md5(col.cast("string")), 1, 4)
    return (F.conv(hex4, 16, 10).cast("long") % N_BUCKETS).cast("int")


def hash_bucket_sql(expr: str) -> str:
    """DuckDB twin of :func:`hash_bucket` (no ``conv`` in DuckDB —
    nibble arithmetic over the same 4 hex chars)."""
    h = f"md5(CAST({expr} AS VARCHAR))"
    nib = [
        f"(instr('0123456789abcdef', substr({h}, {j + 1}, 1)) - 1)"
        for j in range(4)
    ]
    val = f"({nib[0]} * 4096 + {nib[1]} * 256 + {nib[2]} * 16 + {nib[3]})"
    return f"CAST({val} % {N_BUCKETS} AS INT)"


# ---------------------------------------------------------------------------
# Deterministic train/val/test split
# ---------------------------------------------------------------------------
def assign_splits(
    df: DataFrame,
    id_col: str = "doc_id",
    train_cut: int = DEFAULT_TRAIN_CUT,
    val_cut: int = DEFAULT_VAL_CUT,
    extra_cols: tuple[str, ...] = ("lang",),
) -> DataFrame:
    """(id, *extra, bucket, split) with split ∈ {train, val, test}."""
    b = hash_bucket(F.col(id_col))
    split = (
        F.when(F.col("bucket") < train_cut, "train")
        .when(F.col("bucket") < val_cut, "val")
        .otherwise("test")
    )
    return (
        df.select(id_col, *extra_cols)
        .withColumn("bucket", b)
        .withColumn("split", split)
    )


def assign_splits_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    train_cut: int = DEFAULT_TRAIN_CUT,
    val_cut: int = DEFAULT_VAL_CUT,
    extra_cols: str = "lang",
) -> str:
    b = hash_bucket_sql(id_col)
    cols = f"{id_col}, {extra_cols}, " if extra_cols else f"{id_col}, "
    return f"""
        SELECT {cols}{b} AS bucket,
               CASE WHEN {b} < {train_cut} THEN 'train'
                    WHEN {b} < {val_cut} THEN 'val'
                    ELSE 'test' END AS split
        FROM {table}
    """


# ---------------------------------------------------------------------------
# Stratified deterministic sampling
# ---------------------------------------------------------------------------
def stratified_sample(
    df: DataFrame,
    cuts: dict[str, int],
    default_cut: int,
    strat_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep a row iff ``bucket < cut(stratum)`` — per-stratum sampling
    rates in thousandths (``cuts['en']=300`` keeps ~30% of English).

    The cutoff table is rows-per-stratum small → broadcast hash join;
    the filter stays a narrow map over the scan.
    """
    spark = df.sparkSession
    cut_df = local_frame(
        spark,
        [(k, v) for k, v in sorted(cuts.items())],
        f"{strat_col} string, cut int",
    )
    return (
        df.select(id_col, strat_col)
        .withColumn("bucket", hash_bucket(F.col(id_col)))
        .join(F.broadcast(cut_df), strat_col, "left")
        .filter(F.col("bucket") < F.coalesce(F.col("cut"), F.lit(default_cut)))
        .select(id_col, strat_col, "bucket")
    )


def stratified_sample_sql(
    cuts: dict[str, int],
    default_cut: int,
    table: str = "documents",
    strat_col: str = "lang",
    id_col: str = "doc_id",
) -> str:
    b = hash_bucket_sql(id_col)
    cases = " ".join(
        f"WHEN {strat_col} = '{k}' THEN {v}" for k, v in sorted(cuts.items())
    )
    return f"""
        SELECT {id_col}, {strat_col}, {b} AS bucket
        FROM {table}
        WHERE {b} < CASE {cases} ELSE {default_cut} END
    """


# ---------------------------------------------------------------------------
# Benchmark decontamination (train/eval k-gram overlap)
# ---------------------------------------------------------------------------
def decontaminate(
    corpus: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    min_overlap: int = 2,
) -> DataFrame:
    """Corpus docs sharing ≥ ``min_overlap`` distinct word k-grams with
    the eval set: (doc_id, n_overlap, contamination = n_overlap/n_sh).

    Production settings use k=13 (GPT-3/PaLM-style n-gram
    decontamination), where incidental collisions vanish; the fixture
    demo uses k=3 so the check exercises non-trivial matches.
    """
    corpus_sh = shingle_df_with_sizes(corpus, id_col, text_col, k)
    eval_sh = shingle_df(eval_docs, id_col, text_col, k).select(
        "shingle"
    ).distinct()
    hits = (
        corpus_sh.join(F.broadcast(eval_sh), "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_overlap"),
            F.first("n_sh").alias("n_sh"),
        )
    )
    return (
        hits.filter(F.col("n_overlap") >= min_overlap)
        .select(
            "doc_id",
            "n_overlap",
            F.round(F.col("n_overlap") / F.col("n_sh"), 6).alias(
                "contamination"
            ),
        )
    )


def decontaminate_sql(
    eval_pred: str,
    table: str = "documents",
    text_expr: str = "text",
    k: int = 3,
    min_overlap: int = 2,
) -> str:
    """DuckDB twin: ``eval_pred`` selects the eval rows of ``table``
    (e.g. ``doc_id % 41 = 0``); the corpus is its complement."""
    sh = _shingles_sql(text_expr, k).format(table=table)
    return f"""
        WITH sh AS ({sh}),
        ev AS (SELECT DISTINCT shingle FROM sh WHERE {eval_pred}),
        corpus AS (SELECT * FROM sh WHERE NOT ({eval_pred})),
        sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM corpus GROUP BY 1),
        hits AS (
            SELECT corpus.doc_id, COUNT(*) AS n_overlap
            FROM corpus JOIN ev USING (shingle)
            GROUP BY 1
        )
        SELECT hits.doc_id, n_overlap,
               ROUND(n_overlap * 1.0 / n_sh, 6) AS contamination
        FROM hits JOIN sz ON hits.doc_id = sz.doc_id
        WHERE n_overlap >= {min_overlap}
    """


def quality_weighted_sample(
    df: DataFrame,
    quality_col: F.Column,
    id_col: str = "doc_id",
    floor: float = 0.0,
    scale: float = 1.0,
) -> DataFrame:
    """Deterministic quality-weighted sampling: keep a row with
    probability ``min(1, floor + scale·quality)`` — realized as
    ``hash_bucket(id) < cutoff`` rather than RNG, so reruns, backfills
    and multi-reader materializations agree row-for-row (same
    provenance story as :func:`assign_splits`).

    100 TB design: pure projection + filter — no shuffle, no state, no
    driver involvement; the acceptance threshold varies per row (the
    quality expression), which RNG-free bucket arithmetic handles for
    free where ``DataFrame.sample`` cannot.
    """
    cutoff = F.least(
        F.lit(float(N_BUCKETS)),
        (F.lit(floor) + F.lit(scale) * quality_col) * N_BUCKETS,
    )
    b = hash_bucket(F.col(id_col))
    return (
        df.select(
            id_col,
            F.round(quality_col, 6).alias("quality_score"),
            b.alias("bucket"),
        )
        .filter(F.col("bucket") < cutoff)
    )


def quality_weighted_sample_sql(
    quality_expr: str,
    table: str = "documents",
    id_col: str = "doc_id",
    floor: float = 0.0,
    scale: float = 1.0,
) -> str:
    b = hash_bucket_sql(id_col)
    return f"""
        SELECT {id_col}, ROUND({quality_expr}, 6) AS quality_score,
               {b} AS bucket
        FROM {table}
        WHERE {b} < least({float(N_BUCKETS)},
                          ({floor!r} + {scale!r} * ({quality_expr}))
                          * {N_BUCKETS})
    """


# ---------------------------------------------------------------------------
# Bloom-prefiltered decontamination (the eval-set-too-big-to-broadcast path)
# ---------------------------------------------------------------------------
BLOOM_M_BITS = 1 << 14  # bitmap size (bits); 2^14 = 256 longs ≈ 2 KB
BLOOM_K = 3  # hash functions per key


def _bloom_pos_sql(i: int) -> str:
    # xxhash64 is JVM-side; the extra int column varies the seed
    return f"pmod(xxhash64(shingle, {i}), {BLOOM_M_BITS})"


def bloom_membership_expr() -> str:
    """Spark SQL boolean testing a shingle against the ``bloom``
    bitmap column — pure Catalyst (shiftright/element_at/&), stays in
    whole-stage codegen."""
    tests = []
    for i in range(BLOOM_K):
        p = _bloom_pos_sql(i)
        tests.append(
            f"(shiftright(element_at(bloom, cast(({p}) div 64 as int) + 1),"
            f" cast(pmod({p}, 64) as int)) & 1) = 1"
        )
    return " AND ".join(tests)


def bloom_decontaminate(
    corpus: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    min_overlap: int = 1,
) -> DataFrame:
    """:func:`decontaminate` with a Bloom prefilter: EXACT results, but
    the corpus-wide probe tests a 2 KB bitmap instead of joining the
    full eval shingle set.

    Scale rationale: production eval suites can reach 10^8 distinct
    13-grams — too big to broadcast as strings. The Bloom bitmap is
    ``BLOOM_M_BITS`` bits regardless of eval size; corpus shingles that
    fail it (the overwhelming majority) never enter a join. Survivors
    are exactly verified with a join against the true shingle set, so
    false positives cannot leak into the output — the result is
    bit-identical to the exact operator, and the verify join's input is
    pre-shrunk from |corpus shingles| to |candidates|, turning a
    corpus-scale shuffle into a candidate-scale one.

    Construction collects the DISTINCT bit positions of the eval set —
    bounded by the bitmap size (2^14), a filter-sized transfer like
    k-means centroids, NOT data-sized. The membership probe itself is
    pure Catalyst expressions over a one-row broadcast bitmap (same
    stats-broadcast shape as BM25/SQ8): no Python in the corpus path.
    """
    spark = corpus.sparkSession
    # Persisted: the bitmap build materializes the eval shingle set
    # eagerly, and the exact-verify join needs the SAME set again —
    # without the persist the whole eval suite is re-shingled and
    # re-distincted when the returned DataFrame executes (at production
    # eval sizes that second pass costs as much as the first). The
    # cache is pinned for the app lifetime (no safe unpersist point —
    # the returned plan consumes it lazily); that is the desired
    # steady state when screening a stream of corpora against one eval
    # suite, and Spark's LRU eviction reclaims it under pressure.
    eval_sh = (
        shingle_df(eval_docs, id_col, text_col, k)
        .select("shingle")
        .distinct()
        .persist()
    )
    pos_rows = (
        eval_sh.selectExpr(
            f"explode(array({', '.join(_bloom_pos_sql(i) for i in range(BLOOM_K))})) AS pos"
        )
        .distinct()
        .collect()
    )
    words = [0] * (BLOOM_M_BITS // 64)
    for r in pos_rows:
        p = int(r["pos"])
        words[p >> 6] |= 1 << (p & 63)
    words = [w - (1 << 64) if w >= (1 << 63) else w for w in words]
    bloom_row = local_frame(spark, [(words,)], "bloom: array<bigint>")
    corpus_sh = shingle_df_with_sizes(corpus, id_col, text_col, k)
    candidates = corpus_sh.crossJoin(F.broadcast(bloom_row)).filter(
        F.expr(bloom_membership_expr())
    )
    hits = (
        candidates.join(eval_sh, "shingle")  # exact verify: no FP leaks
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_overlap"),
            F.first("n_sh").alias("n_sh"),
        )
    )
    return hits.filter(F.col("n_overlap") >= min_overlap).select(
        id_col,
        "n_overlap",
        F.round(F.col("n_overlap") / F.col("n_sh"), 6).alias("contamination"),
    )


def source_quota(
    df,
    cap: int,
    group_col: str = "source",
    id_col: str = "doc_id",
):
    """Per-source quota sampling (crawl balancing): keep at most ``cap``
    documents per source, chosen deterministically by id order — the
    standard guard against one domain dominating a training mix.

    100 TB design: one shuffle on the group key; ``row_number`` is a
    running count per partition-sorted group (no global sort). For
    heavy-hitter sources the window input is the group's full row set —
    if a single source exceeds executor memory, pre-filter with an
    approximate per-source count and sample the heavy tail first;
    deterministic rank semantics are preserved for every group under
    the threshold.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(F.col(id_col).asc())
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= int(cap))
        .select(id_col, group_col, F.col("rn").alias("quota_rank"))
        .orderBy(group_col, "quota_rank")
    )


def source_quota_sql(
    cap: int,
    table: str = "documents",
    group_col: str = "source",
    id_col: str = "doc_id",
) -> str:
    return f"""
        SELECT {id_col}, {group_col}, rn AS quota_rank
        FROM (
          SELECT {id_col}, {group_col},
                 row_number() OVER (PARTITION BY {group_col}
                                    ORDER BY {id_col} ASC) AS rn
          FROM {table}
        )
        WHERE rn <= {int(cap)}
        ORDER BY {group_col}, quota_rank
    """
