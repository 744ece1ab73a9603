"""Deterministic data mixing: per-stratum epoch weights (up/down-
sampling) for training-mix construction.

Pretraining mixes repeat high-value sources several epochs and
downsample bulk sources below one epoch (temperature sampling yields
exactly such per-source epoch weights). :func:`epoch_mix` materializes
a mix deterministically: a row with weight ``e`` appears
``floor(e)`` times plus one more iff its salted hash bucket falls under
the fractional part — so the realized mix hits the target weight to
±1/N_BUCKETS with NO RNG, and is reproducible row-for-row across reruns
and backfills (same property as
:func:`~vectra_py_spark.operators.splits.assign_splits`, different hash
salt so mixing and splitting stay independent).

Plan shape: broadcast-join the per-stratum weight dim, then
``posexplode(array_repeat(...))`` — a narrow map; no shuffle at all.
At 100 TB the explode multiplies bytes by the mix factor exactly where
a copy-based mix must, but streams through (never materializes the
repeated corpus), and downsampled strata drop rows before any
downstream shuffle.

DuckDB twin: the same arithmetic with ``LATERAL unnest(range(n))``.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vectra_py_spark.operators.splits import N_BUCKETS, hash_bucket, hash_bucket_sql
from vectra_py_spark.session import local_frame

__all__ = [
    "epoch_mix",
    "epoch_mix_sql",
    "temperature_mix",
    "temperature_mix_sql",
    "dsir_importance",
    "dsir_importance_sql",
    "DSIR_BUCKETS",
    "curriculum_order",
    "curriculum_order_sql",
]

_SALT = ":mix"
_TEMP_SALT = ":tmix"


def _base_frac(e: float) -> tuple[int, int]:
    base = math.floor(e)
    return base, int(round((e - base) * N_BUCKETS))


def epoch_mix(
    df: DataFrame,
    epochs: dict[str, float],
    default_epochs: float = 1.0,
    strat_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, stratum, copy_idx) with each row repeated per its stratum's
    epoch weight; weights < 1 downsample (some rows appear 0 times)."""
    spark = df.sparkSession
    dim = local_frame(
        spark,
        [(k, *_base_frac(v)) for k, v in sorted(epochs.items())],
        f"{strat_col} string, base int, frac int",
    )
    dbase, dfrac = _base_frac(default_epochs)
    bucket = hash_bucket(
        F.concat(F.col(id_col).cast("string"), F.lit(_SALT))
    )
    n_copies = (
        F.coalesce(F.col("base"), F.lit(dbase))
        + (bucket < F.coalesce(F.col("frac"), F.lit(dfrac))).cast("int")
    )
    return (
        df.select(id_col, strat_col)
        .join(F.broadcast(dim), strat_col, "left")
        .withColumn("n_copies", n_copies)
        .select(
            id_col,
            strat_col,
            F.posexplode(
                F.array_repeat(F.lit(1), F.col("n_copies"))
            ).alias("copy_idx", "_one"),
        )
        .select(id_col, strat_col, "copy_idx")
    )


def epoch_mix_sql(
    epochs: dict[str, float],
    default_epochs: float = 1.0,
    table: str = "documents",
    strat_col: str = "lang",
    id_col: str = "doc_id",
) -> str:
    dbase, dfrac = _base_frac(default_epochs)
    base_cases = " ".join(
        f"WHEN {strat_col} = '{k}' THEN {_base_frac(v)[0]}"
        for k, v in sorted(epochs.items())
    )
    frac_cases = " ".join(
        f"WHEN {strat_col} = '{k}' THEN {_base_frac(v)[1]}"
        for k, v in sorted(epochs.items())
    )
    b = hash_bucket_sql(f"CAST({id_col} AS VARCHAR) || '{_SALT}'")
    return f"""
        SELECT {id_col}, {strat_col}, CAST(u.copy_idx AS INT) AS copy_idx
        FROM (
            SELECT {id_col}, {strat_col},
                   CASE {base_cases} ELSE {dbase} END
                   + CASE WHEN {b} < CASE {frac_cases} ELSE {dfrac} END
                          THEN 1 ELSE 0 END AS n_copies
            FROM {table}
        ),
        LATERAL unnest(range(0, n_copies)) AS u(copy_idx)
    """


def temperature_mix(
    df: DataFrame,
    alpha: float = 0.5,
    strat_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-based multilingual mixing (XLM-R style): per-stratum
    epoch weights DERIVED from the corpus itself — ``w_s ∝ n_s^α``,
    renormalized so the mixed corpus keeps its total size; small
    strata upsample, bulk strata downsample. Same deterministic
    hash-bucket materialization as :func:`epoch_mix`.

    ``alpha=0.5`` computes ``n^α`` as ``sqrt(n)`` — bit-identical in
    DuckDB, which keeps the floor/round bucket arithmetic (the only
    discretization) oracle-exact. Other α go through ``pow`` (same
    formula, ULP-level cross-engine risk at bucket boundaries).

    100 TB design: the weight dim is a stratum-count aggregate (one
    map-side-combined exchange over stratum keys) crossed with a 1-row
    total — both broadcast back; the mix explode itself stays the
    narrow no-shuffle map of :func:`epoch_mix`.
    """
    sqrt_n = (
        F.sqrt(F.col("n"))
        if alpha == 0.5
        else F.pow(F.col("n"), F.lit(alpha))
    )
    counts = df.groupBy(strat_col).agg(F.count(F.lit(1)).alias("n"))
    tot = (
        counts.select(
            F.sum("n").alias("T"),
            F.sum(
                F.sqrt(F.col("n"))
                if alpha == 0.5
                else F.pow(F.col("n"), F.lit(alpha))
            ).alias("Z"),
        )
    )
    dim = (
        counts.crossJoin(F.broadcast(tot))
        .select(
            strat_col,
            ((sqrt_n / F.col("Z")) * F.col("T") / F.col("n")).alias("e"),
        )
        .select(
            strat_col,
            F.floor("e").cast("int").alias("base"),
            F.round((F.col("e") - F.floor("e")) * N_BUCKETS, 0)
            .cast("int")
            .alias("frac"),
        )
    )
    bucket = hash_bucket(
        F.concat(F.col(id_col).cast("string"), F.lit(_TEMP_SALT))
    )
    n_copies = F.col("base") + (bucket < F.col("frac")).cast("int")
    return (
        df.select(id_col, strat_col)
        .join(F.broadcast(dim), strat_col)
        .withColumn("n_copies", n_copies)
        .select(
            id_col,
            strat_col,
            F.posexplode(
                F.array_repeat(F.lit(1), F.col("n_copies"))
            ).alias("copy_idx", "_one"),
        )
        .select(id_col, strat_col, "copy_idx")
    )


def temperature_mix_sql(
    alpha: float = 0.5,
    table: str = "documents",
    strat_col: str = "lang",
    id_col: str = "doc_id",
) -> str:
    pw = "sqrt(n)" if alpha == 0.5 else f"pow(n, {alpha})"
    b = hash_bucket_sql(f"CAST({id_col} AS VARCHAR) || '{_TEMP_SALT}'")
    return f"""
        WITH c AS (
            SELECT {strat_col}, count(*) AS n FROM {table} GROUP BY 1
        ),
        t AS (SELECT SUM(n) AS T, SUM({pw}) AS Z FROM c),
        dim AS (
            SELECT {strat_col},
                   CAST(floor(e) AS INT) AS base,
                   CAST(round((e - floor(e)) * {N_BUCKETS}, 0) AS INT)
                       AS frac
            FROM (SELECT {strat_col}, ({pw} / Z) * T / n AS e
                  FROM c CROSS JOIN t)
        )
        SELECT {id_col}, {strat_col}, CAST(u.copy_idx AS INT) AS copy_idx
        FROM (
            SELECT d.{id_col}, d.{strat_col},
                   dim.base
                   + CASE WHEN {b} < dim.frac THEN 1 ELSE 0 END AS n_copies
            FROM {table} d JOIN dim USING ({strat_col})
        ) s,
        LATERAL unnest(range(0, n_copies)) AS u(copy_idx)
    """


# ---------------------------------------------------------------------------
# DSIR-style hashed n-gram importance weights
# ---------------------------------------------------------------------------
DSIR_BUCKETS = 65536  # 4 md5 hex nibbles
_DSIR_LAMBDA = 0.5    # add-lambda smoothing on both feature models


def _bigram_feature(words_col_name: str) -> F.Column:
    """Hashed word-bigram features: first 4 md5 hex chars of
    ``"w_i w_{i+1}"`` as an int in [0, 65536) — the engine-portable
    sibling of DSIR's hashed n-gram featurizer. Guarded for <2 words
    (Spark ``sequence(1, 0)`` DESCENDS, so the range must be gated).
    Takes the words COLUMN NAME (the expression is built with
    ``F.expr``, which resolves by name — a Column parameter would
    silently bind only the size guard)."""
    w = words_col_name
    pair = (
        f"transform(sequence(1, size({w}) - 1), "
        f"i -> concat(element_at({w}, i), ' ', element_at({w}, i + 1)))"
    )
    return F.when(
        F.size(F.col(w)) >= 2,
        F.expr(pair),
    ).otherwise(F.array().cast("array<string>"))


def dsir_importance(
    df: DataFrame,
    target_pred: F.Column,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document importance weight for Data Selection via Importance
    Resampling (Xie et al. 2023): score raw documents by how much more
    likely they are under a hashed-bigram model of a TARGET domain than
    under the raw-corpus model.

    ``dsir_score(d) = avg_{f in d} [ log p_tgt(f) - log p_raw(f) ]``
    with add-λ smoothing over 65536 hashed-bigram buckets; sampling
    proportionally to the (exponentiated) score reweights the raw
    corpus toward the target domain. The target model here is fit on
    the rows matching ``target_pred`` — in production, on the held-out
    domain sample (Wikipedia, curated code, …).

    100 TB design: TWO corpus scans — one fits the model (both feature
    models from a single conditional aggregation: count +
    count-if-target per feature, one vocabulary-sized shuffle), one
    scores (the feature stream re-joins the model by broadcast; the
    per-doc average is the doc-keyed shuffle). The model table is
    PERSISTED (≤ 65536 rows by construction) so its three consumers —
    the totals aggregate, the broadcast build, and nothing else — do
    not each re-run the fitting scan; without it the plan re-executes
    the corpus explode three times. Same shape as the CCNet LM scorer.
    """
    feats = (
        df.select(
            F.col(id_col),
            target_pred.cast("int").alias("is_t"),
            F.split(F.lower(F.col(text_col)), r"\s+").alias("__dsir_w"),
        )
        .select(
            id_col,
            "is_t",
            F.explode(_bigram_feature("__dsir_w")).alias("bigram"),
        )
        .select(
            id_col,
            "is_t",
            (
                F.conv(F.substring(F.md5(F.col("bigram")), 1, 4), 16, 10)
                .cast("long")
            ).alias("f"),
        )
    )
    model = feats.groupBy("f").agg(
        F.count(F.lit(1)).alias("rn"), F.sum("is_t").alias("tn")
    ).persist()  # ≤ DSIR_BUCKETS rows; fit scan runs once, not 3×
    totals = model.agg(
        F.sum("rn").alias("R"), F.sum("tn").alias("T")
    )
    lam, b = _DSIR_LAMBDA, DSIR_BUCKETS
    logratio = F.log((F.col("tn") + lam) / (F.col("T") + lam * b)) - F.log(
        (F.col("rn") + lam) / (F.col("R") + lam * b)
    )
    return (
        feats.join(F.broadcast(model), "f")
        .crossJoin(F.broadcast(totals))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.round(F.avg(logratio), 6).alias("dsir_score"),
        )
        .orderBy(id_col)
    )


def dsir_importance_sql(
    target_pred: str,
    table: str = "documents",
    id_col: str = "doc_id",
    text_expr: str = "text",
) -> str:
    """DuckDB twin of :func:`dsir_importance` — same md5-nibble feature
    hash, same smoothing, same avg-of-log-ratios."""
    nib = [
        f"(instr('0123456789abcdef', substr(md5(bg), {j + 1}, 1)) - 1)"
        for j in range(4)
    ]
    fexpr = f"({nib[0]} * 4096 + {nib[1]} * 256 + {nib[2]} * 16 + {nib[3]})"
    lam, b = _DSIR_LAMBDA, DSIR_BUCKETS
    return f"""
        WITH src AS (
            SELECT {id_col},
                   CASE WHEN {target_pred} THEN 1 ELSE 0 END AS is_t,
                   string_split_regex(lower({text_expr}), '\\s+') AS w
            FROM {table}
        ),
        feats AS (
            SELECT {id_col}, is_t, {fexpr} AS f
            FROM (
                SELECT {id_col}, is_t,
                       unnest(list_transform(
                           range(1, len(w)),
                           i -> w[i] || ' ' || w[i + 1])) AS bg
                FROM src WHERE len(w) >= 2
            )
        ),
        m AS (
            SELECT f, count(*) AS rn, SUM(is_t) AS tn
            FROM feats GROUP BY f
        ),
        tot AS (SELECT SUM(rn) AS R, SUM(tn) AS T FROM m)
        SELECT {id_col},
               CAST(count(*) AS BIGINT) AS n_feats,
               ROUND(AVG(
                   ln((tn + {lam}) / (T + {lam} * {b}))
                 - ln((rn + {lam}) / (R + {lam} * {b}))), 6) AS dsir_score
        FROM feats JOIN m USING (f) CROSS JOIN tot
        GROUP BY {id_col}
        ORDER BY {id_col}
    """


# ---------------------------------------------------------------------------
# Curriculum ordering (deterministic global training order)
# ---------------------------------------------------------------------------
def curriculum_order(
    df: DataFrame,
    difficulty: F.Column,
    n_bins: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """Assign every document a deterministic GLOBAL training position:
    easy bins first (curriculum learning), hash-shuffled within each
    bin (so each difficulty stage is still i.i.d.-looking), reproducible
    row-for-row across reruns and cluster layouts.

    ``difficulty`` is any numeric Column (cross-entropy, length, 1 -
    quality score …); bins are equal-width over its observed range.

    100 TB design — the naive plan is a GLOBAL ``row_number`` window,
    which funnels the corpus through ONE partition and dies at scale.
    Instead, classic two-phase ranking: (1) per-bin counts → cumulative
    offsets, a ``n_bins``-row broadcast; (2) ``row_number`` within each
    bin partition + its bin's offset. The only corpus-wide exchange is
    the bin-keyed window shuffle; skew across difficulty bins is
    bounded by bin width (split hot bins by raising ``n_bins``).
    """
    bounds_row = df.select(
        F.min(difficulty).alias("lo"), F.max(difficulty).alias("hi")
    )
    binned = (
        df.crossJoin(F.broadcast(bounds_row))
        .withColumn(
            "bin",
            F.when(
                F.col("hi") == F.col("lo"), F.lit(0)
            ).otherwise(
                F.least(
                    F.lit(n_bins - 1),
                    F.floor(
                        (difficulty - F.col("lo"))
                        / ((F.col("hi") - F.col("lo")) / n_bins)
                    ).cast("int"),
                )
            ),
        )
        .withColumn("shuffle_key", F.md5(F.col(id_col).cast("string")))
        .drop("lo", "hi")
    )
    offsets = (
        binned.groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "offset",
            F.coalesce(
                F.sum("n").over(
                    Window.orderBy("bin").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("bin", "offset")
    )
    w = Window.partitionBy("bin").orderBy("shuffle_key", id_col)
    return (
        binned.join(F.broadcast(offsets), "bin")
        .withColumn(
            "pos", (F.row_number().over(w) - 1 + F.col("offset")).cast("bigint")
        )
        .select(id_col, "bin", "pos")
        .orderBy("pos")
    )


def curriculum_order_sql(
    difficulty_expr: str,
    n_bins: int = 10,
    table: str = "documents",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`curriculum_order`. The oracle can afford
    the single global ROW_NUMBER the Spark side deliberately avoids."""
    d = difficulty_expr
    return f"""
        WITH b AS (SELECT min({d}) AS lo, max({d}) AS hi FROM {table}),
        binned AS (
            SELECT {id_col},
                   CASE WHEN hi = lo THEN 0
                        ELSE LEAST({n_bins} - 1,
                            CAST(floor(({d} - lo) / ((hi - lo) / {n_bins}))
                                 AS INT))
                   END AS bin,
                   md5(CAST({id_col} AS VARCHAR)) AS shuffle_key
            FROM {table} CROSS JOIN b
        )
        SELECT {id_col}, bin,
               CAST(ROW_NUMBER() OVER
                   (ORDER BY bin, shuffle_key, {id_col}) - 1 AS BIGINT)
                   AS pos
        FROM binned
        ORDER BY pos
    """


# ---------------------------------------------------------------------------
# UniMax budget allocation (water-filling with per-source epoch caps)
# ---------------------------------------------------------------------------
def unimax_mix(
    df: DataFrame,
    budget_frac: float = 0.5,
    max_epochs: float = 4.0,
    source_col: str = "source",
    text_col: str = "text",
    dp: int = 6,
) -> DataFrame:
    """UniMax allocation (Chung et al. 2023): spread a token budget as
    UNIFORMLY as possible over sources, capping each source at
    ``max_epochs`` repetitions of its corpus — the principled
    alternative to temperature sampling that never over-repeats small
    sources. Budget = ``budget_frac`` × total corpus tokens.

    Water-filling has a closed form over sources sorted by capacity
    ascending (capacity_i = max_epochs · tokens_i): walking up the
    sorted list, the first source whose capacity reaches the candidate
    level ``(B − Σ smaller caps) / #remaining`` sets the waterline; all
    smaller sources are cut at capacity, all larger ones get the
    waterline. That is three window functions over the per-source
    aggregate — NO iteration, no driver loop.

    Output: (source, n_tokens, capacity, alloc_tokens, epochs) — alloc
    in expected tokens per training run, epochs = alloc/tokens.

    100 TB design: one explode-free word-count aggregate over the
    corpus (map-side combined, shuffle carries one partial per source
    per partition); everything after runs on the ≤|sources| row result.
    Identical double arithmetic on both engines (same sort order, same
    sequential prefix sums) keeps the oracle exact.
    """
    from vectra_py_spark.operators.text_analysis import words_col

    toks = df.groupBy(source_col).agg(
        F.sum(F.size(words_col(text_col))).cast("long").alias("n_tokens")
    )
    w_all = Window.partitionBy()
    w_ord = Window.partitionBy().orderBy("capacity", source_col)
    w_prev = w_ord.rowsBetween(Window.unboundedPreceding, -1)
    staged = (
        toks.withColumn(
            "capacity", F.col("n_tokens") * F.lit(float(max_epochs))
        )
        .withColumn(
            "budget",
            F.sum("n_tokens").over(w_all).cast("double")
            * F.lit(float(budget_frac)),
        )
        .withColumn("idx", F.row_number().over(w_ord))
        .withColumn("n_src", F.count(F.lit(1)).over(w_all))
        .withColumn(
            "cum_prev", F.coalesce(F.sum("capacity").over(w_prev), F.lit(0.0))
        )
        .withColumn(
            "cand",
            (F.col("budget") - F.col("cum_prev"))
            / (F.col("n_src") - F.col("idx") + 1).cast("double"),
        )
        .withColumn(
            "i0",
            F.min(
                F.when(F.col("capacity") >= F.col("cand"), F.col("idx"))
            ).over(w_all),
        )
        .withColumn(
            "waterline",
            F.max(
                F.when(F.col("idx") == F.col("i0"), F.col("cand"))
            ).over(w_all),
        )
        .withColumn(
            "alloc",
            F.when(
                F.col("i0").isNull() | (F.col("idx") < F.col("i0")),
                F.col("capacity"),
            ).otherwise(F.col("waterline")),
        )
    )
    return staged.select(
        source_col,
        "n_tokens",
        (F.round(F.col("capacity"), dp) + F.lit(0.0)).alias("capacity"),
        (F.round(F.col("alloc"), dp) + F.lit(0.0)).alias("alloc_tokens"),
        (
            F.round(
                F.col("alloc")
                / F.greatest(F.col("n_tokens"), F.lit(1)).cast("double"),
                dp,
            )
            + F.lit(0.0)
        ).alias("epochs"),
    )


def unimax_mix_sql(
    budget_frac: float = 0.5,
    max_epochs: float = 4.0,
    table: str = "documents",
    source_col: str = "source",
    text_expr: str = "text",
    dp: int = 6,
) -> str:
    """DuckDB twin of :func:`unimax_mix` (same sort order, same
    sequential prefix-sum arithmetic)."""
    from vectra_py_spark.operators.text_analysis import _words_sql

    ws = _words_sql(text_expr)
    return f"""
        WITH toks AS (
            SELECT {source_col},
                   CAST(SUM(len({ws})) AS BIGINT) AS n_tokens
            FROM {table} GROUP BY {source_col}
        ),
        staged AS (
            SELECT {source_col}, n_tokens,
                   n_tokens * {float(max_epochs)} AS capacity,
                   (SUM(n_tokens) OVER ()) * 1.0 * {float(budget_frac)}
                       AS budget,
                   ROW_NUMBER() OVER (ORDER BY n_tokens * {float(max_epochs)},
                                      {source_col}) AS idx,
                   COUNT(*) OVER () AS n_src,
                   COALESCE(SUM(n_tokens * {float(max_epochs)}) OVER (
                       ORDER BY n_tokens * {float(max_epochs)}, {source_col}
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0.0) AS cum_prev
            FROM toks
        ),
        lvl AS (
            SELECT *,
                   (budget - cum_prev) / (n_src - idx + 1) AS cand
            FROM staged
        ),
        marked AS (
            SELECT *,
                   MIN(CASE WHEN capacity >= cand THEN idx END) OVER () AS i0
            FROM lvl
        ),
        lined AS (
            SELECT *,
                   MAX(CASE WHEN idx = i0 THEN cand END) OVER () AS waterline
            FROM marked
        )
        SELECT {source_col}, n_tokens,
               ROUND(capacity, {dp}) + 0.0 AS capacity,
               ROUND(CASE WHEN i0 IS NULL OR idx < i0
                          THEN capacity ELSE waterline END, {dp}) + 0.0
                   AS alloc_tokens,
               ROUND(CASE WHEN i0 IS NULL OR idx < i0
                          THEN capacity ELSE waterline END
                     / greatest(n_tokens, 1), {dp}) + 0.0 AS epochs
        FROM lined
        ORDER BY {source_col}
    """


# ---------------------------------------------------------------------------
# Domain mix report (source × lang token shares)
# ---------------------------------------------------------------------------
def domain_mix_report(
    df: DataFrame,
    source_col: str = "source",
    lang_col: str = "lang",
    text_col: str = "text",
    dp: int = 6,
) -> DataFrame:
    """Corpus composition by (source, lang): documents, tokens, and the
    stratum's share of all corpus tokens — the input every mixing
    decision (temperature, UniMax, quotas) starts from.

    One explode-free aggregate (map-side combined); the share divides
    by a window total over the ≤|source×lang| row result.
    """
    from vectra_py_spark.operators.text_analysis import words_col

    agg = df.groupBy(source_col, lang_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(words_col(text_col))).cast("long").alias("n_tokens"),
    )
    total = Window.partitionBy()
    return agg.select(
        source_col,
        lang_col,
        "n_docs",
        "n_tokens",
        (
            F.round(
                F.col("n_tokens")
                / F.sum("n_tokens").over(total).cast("double"),
                dp,
            )
            + F.lit(0.0)
        ).alias("token_share"),
    )


def domain_mix_report_sql(
    table: str = "documents",
    source_col: str = "source",
    lang_col: str = "lang",
    text_expr: str = "text",
    dp: int = 6,
) -> str:
    """DuckDB twin of :func:`domain_mix_report`."""
    from vectra_py_spark.operators.text_analysis import _words_sql

    ws = _words_sql(text_expr)
    return f"""
        WITH agg AS (
            SELECT {source_col}, {lang_col},
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(len({ws})) AS BIGINT) AS n_tokens
            FROM {table} GROUP BY {source_col}, {lang_col}
        )
        SELECT {source_col}, {lang_col}, n_docs, n_tokens,
               ROUND(n_tokens / (SUM(n_tokens) OVER ()) * 1.0, {dp}) + 0.0
                   AS token_share
        FROM agg
        ORDER BY {source_col}, {lang_col}
    """
