"""Distributed text-classifier training — hashed n-gram features +
full-batch gradient-descent logistic regression, entirely as
DataFrame operations. This is the quality/language/domain classifier
a curation pipeline trains from labeled seeds (e.g. reference corpus
vs raw crawl — the fastText-style setup behind most public "quality
classifier" filters) and then applies corpus-wide; the deterministic,
plan-inspectable twin of `pyspark.ml`'s LogisticRegression in exactly
the sense `operators/cluster.py::lloyd_kmeans` twins MLlib k-means
(fixed iteration count, no RNG, reproducible to float-sum noise).

Design (100 TB disposition):

- **Features are rows, not vectors**: (doc_id, idx, v) long format —
  a hashed feature index (``xxhash64 % n_features``, the hashing
  trick of Weinberger et al. 2009) and a count. Corpus-sized but
  narrow; nothing materializes a dense vector anywhere.
- **The model is a DataFrame**: (idx, w) holds ACTIVE features only.
  Each GD iteration is: margin per doc (feature⋈weights, one
  aggregate), residual per doc (sigmoid minus label), gradient per
  feature (feature⋈residual, one aggregate), weight update (outer
  join). Two shuffles per iteration, both on feature/doc keys —
  the same shape as `host_pagerank`'s power iteration, with the same
  ``localCheckpoint`` lineage truncation.
- **Bias as feature −1** appended to every doc, so the update loop
  has no special cases.
- Fixed iterations + fixed learning rate → byte-stable plans and
  reproducible runs (float-sum ordering noise only, ~1e-15);
  verified against an independent dense numpy implementation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vectra_py_spark.session import local_frame

__all__ = [
    "hashed_features",
    "train_logreg",
    "score_logreg",
]

BIAS_IDX = -1


def hashed_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_features: int = 1 << 18,
    bigrams: bool = True,
) -> DataFrame:
    """Text → (doc_id, idx, v) hashed n-gram count rows: lowercase
    word unigrams (plus adjacent bigrams) hashed into ``n_features``
    buckets. Pure Catalyst (split → transform/zip_with → explode →
    one count aggregate); collisions are the standard hashing-trick
    tradeoff, identical across runs and engines."""
    if n_features < 2:
        raise ValueError(f"n_features must be >= 2, got {n_features}")
    words = F.filter(
        F.split(F.lower(F.col(text_col)), r"[^a-z0-9']+"),
        lambda w: w != "",
    )
    grams = words
    if bigrams:
        bi = F.zip_with(
            words,
            F.slice(words, 2, F.greatest(F.size(words) - 1, F.lit(0))),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
        # zip_with pads the shorter array with NULL → drop the tail
        bi = F.filter(bi, lambda g: g.isNotNull())
        grams = F.concat(words, bi)
    return (
        df.select(F.col(id_col).alias("doc_id"), F.explode(grams).alias("g"))
        .select(
            "doc_id",
            F.pmod(F.xxhash64(F.col("g")), F.lit(n_features))
            .cast("long")
            .alias("idx"),
        )
        .groupBy("doc_id", "idx")
        .agg(F.count(F.lit(1)).cast("double").alias("v"))
    )


def _with_bias(feat: DataFrame) -> DataFrame:
    bias = feat.select("doc_id").distinct().select(
        "doc_id", F.lit(BIAS_IDX).cast("long").alias("idx"),
        F.lit(1.0).alias("v"),
    )
    return feat.union(bias)


def train_logreg(
    feat: DataFrame,
    labels: DataFrame,
    iterations: int = 30,
    lr: float = 0.5,
    l2: float = 0.0,
    # per-iteration truncation: the model frame is active-feature-sized
    # (tiny at any corpus scale), so a checkpoint per GD step costs one
    # small job and keeps every iteration's chain executing exactly
    # once — measured 2.9–3.5 s → 2.2 s for the 2-iteration sf0.1
    # registry query together with the broadcast hint below
    checkpoint_interval: int = 1,
) -> DataFrame:
    """(doc_id, idx, v) features × (doc_id, y∈{0,1}) labels →
    (idx, w) weights after ``iterations`` full-batch GD steps:

        p    = σ(Σ_i w_i·v_i + b)          (bias = feature −1)
        grad = Xᵀ(p − y)/n + l2·w
        w   ← w − lr·grad

    Deterministic given fixed hyperparameters; the returned model is
    active-feature-sized. Raises on empty labels."""
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    x = _with_bias(feat).persist()
    y = labels.select(
        "doc_id", F.col("y").cast("double").alias("y")
    ).persist()
    n = y.count()
    if n == 0:
        raise ValueError("train_logreg: empty label set")
    w = local_frame(x.sparkSession, [], "idx LONG, w DOUBLE")
    for i in range(iterations):
        margins = (
            # the model is active-feature-sized; without the hint the
            # planner shuffle-joins the corpus-sized feature frame by
            # idx (a 2-exchange sort-merge join per GD step)
            x.join(F.broadcast(w), "idx", "left")
            .groupBy("doc_id")
            .agg(
                F.sum(
                    F.col("v") * F.coalesce(F.col("w"), F.lit(0.0))
                ).alias("m")
            )
        )
        resid = y.join(margins, "doc_id", "left").select(
            "doc_id",
            (
                F.lit(1.0) / (F.lit(1.0) + F.exp(-F.coalesce("m", F.lit(0.0))))
                - F.col("y")
            ).alias("r"),
        )
        grad = (
            x.join(resid, "doc_id")
            .groupBy("idx")
            .agg((F.sum(F.col("v") * F.col("r")) / F.lit(float(n))).alias("g"))
        )
        w = (
            w.join(grad, "idx", "full_outer")
            .select(
                "idx",
                (
                    F.coalesce("w", F.lit(0.0)) * F.lit(1.0 - lr * l2)
                    - F.lit(lr) * F.coalesce("g", F.lit(0.0))
                ).alias("w"),
            )
        )
        if checkpoint_interval and (i + 1) % checkpoint_interval == 0:
            w = w.localCheckpoint()
    # materialize the model BEFORE releasing the feature cache — the
    # returned frame must not re-derive x/y lineage, and persisted
    # working sets must not outlive the call (shared-JVM heap)
    w = w.localCheckpoint()
    x.unpersist()
    y.unpersist()
    return w


def score_logreg(feat: DataFrame, weights: DataFrame) -> DataFrame:
    """Features × trained weights → (doc_id, margin, prob,
    predicted): one broadcast-able join (the model is
    active-feature-sized) + one aggregate per corpus — the shape that
    scores 100 TB in a single pass."""
    scored = (
        _with_bias(feat)
        .join(F.broadcast(weights), "idx", "left")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("v") * F.coalesce("w", F.lit(0.0))).alias("margin")
        )
    )
    prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("margin")))
    return scored.select(
        "doc_id", "margin", prob.alias("prob"),
        (prob >= 0.5).alias("predicted"),
    )
