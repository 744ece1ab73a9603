"""Retrieval-quality evaluation — the measurement half of a search
engine: given a RUN (ranked results per query, what this engine's
top-k operators produce) and QRELS (graded relevance judgments, the
TREC interchange shape), compute the standard cut-off metrics per
query plus the macro summary. An index owner tunes recall/latency
trade-offs (IVF nprobe, PQ bits, LSH bands, hybrid weights) against
exactly these numbers, so the evaluator belongs in the engine next to
the operators it grades — the same reason BENCH.md's ANN recall
tables exist; this makes that measurement a first-class, reusable op.
Reference tie-in: the reference ships top-k search with no way to
score it (README quickstart ends at results); a user migrating brings
their qrels with them.

Metrics (all @k, the MSMARCO/BEIR conventions):

* ``precision_at_k``  = rel-retrieved-in-top-k / k
* ``recall_at_k``     = rel-retrieved-in-top-k / total-relevant
* ``rr_at_k``         = 1/rank of the FIRST relevant result in the
  top k, else 0 (mean over queries = MRR@k)
* ``dcg_at_k``        = Σ (2^rel − 1) / log2(rank + 1)  over the top k
  (Järvelin & Kekäläinen 2002, exponential-gain form as trec_eval's
  ndcg_cut / BEIR use it)
* ``ndcg_at_k``       = dcg@k / idcg@k, idcg from the qrels' own best
  ordering cut at k

Queries with no positive judgment are DROPPED, not scored 0 — the
trec_eval convention; scoring them would reward returning nothing.

Cross-engine determinism (this repo's oracle discipline): the ratio
metrics are ONE IEEE-754 division of exactly-representable integers,
so they are bit-identical on any engine regardless of plan shape; the
DCG sums add irrational ``1/log2`` terms whose reassociation noise is
ULP-scale, so they are rounded to 6 dp where a half-boundary has
measure zero (contrast the bitext-margin lesson, where PRE-rounded
6-dp terms sat exactly ON boundaries and the mean had to be computed
in integers).

Scale shape: one shuffle — the rank window on the query key. The
qrels side is judgments (thousands of rows, human-bounded), so both
its aggregates and the run⋈qrels join broadcast; the run can be
arbitrarily large (every query × every candidate at 100 TB) and is
touched by exactly one window + one partial-aggregated groupBy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["retrieval_metrics", "retrieval_summary"]

_DP = 6


def retrieval_metrics(
    runs: DataFrame,
    qrels: DataFrame,
    k: int = 10,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    score_col: str = "score",
    rel_col: str = "rel",
) -> DataFrame:
    """Per-query metrics: (query_id, n_rel, rel_at_k, precision_at_k,
    recall_at_k, rr_at_k, dcg_at_k, idcg_at_k, ndcg_at_k).

    ``runs``: one row per (query, candidate, score) — duplicates per
    (query, doc) are an upstream bug and kept as-is (they rank
    separately, exactly as a file-based trec run would). Ranking is
    score DESC with doc-id ASC tie-break, the deterministic total
    order every ranked operator in this repo uses. ``qrels``: (query,
    doc, graded rel ≥ 0); rel 0 rows are explicit negatives and count
    toward nothing. Duplicate judgments per (query, doc) — which
    trec_eval rejects outright — are collapsed to their MAX grade
    here, so they cannot fan out the run join and double-count
    rel_at_k/DCG (precision_at_k stays ≤ 1 by construction).
    """
    q = F.col(query_col)
    rank_w = Window.partitionBy(query_col).orderBy(
        F.col(score_col).desc(), F.col(doc_col).asc()
    )
    ranked = (
        runs.select(query_col, doc_col, score_col)
        .withColumn("rank", F.row_number().over(rank_w))
        .where(F.col("rank") <= k)
    )
    j = (
        qrels.select(
            q.alias("_q"), F.col(doc_col).alias("_d"),
            F.col(rel_col).cast("int").alias("rel"),
        )
        # one judgment per (query, doc): duplicate qrels would fan out
        # the left join below — max grade wins, matching
        # the "most informed judgment" convention
        .groupBy("_q", "_d")
        .agg(F.max("rel").alias("rel"))
    )
    hit = ranked.join(
        F.broadcast(j),
        (ranked[query_col] == j["_q"]) & (ranked[doc_col] == j["_d"]),
        "left",
    ).select(
        query_col, "rank", F.coalesce(F.col("rel"), F.lit(0)).alias("rel")
    )
    gain = (F.pow(F.lit(2.0), F.col("rel")) - 1.0) / F.log2(
        F.col("rank") + 1.0
    )
    per_q = hit.groupBy(query_col).agg(
        F.sum(F.when(F.col("rel") > 0, 1).otherwise(0))
        .cast("bigint").alias("rel_at_k"),
        F.round(F.sum(gain), _DP).alias("dcg_at_k"),
        F.max(
            F.when(F.col("rel") > 0, 1.0 / F.col("rank"))
        ).alias("_rr"),
    )
    # qrels-side totals + ideal DCG at k: judgments are human-bounded,
    # so this whole branch is broadcast-sized
    ideal_w = Window.partitionBy("_q").orderBy(
        F.col("rel").desc(), F.col("_d").asc()
    )
    ideal = (
        j.where(F.col("rel") > 0)
        .withColumn("irank", F.row_number().over(ideal_w))
        .groupBy("_q")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rel"),
            F.round(
                F.sum(
                    F.when(
                        F.col("irank") <= k,
                        (F.pow(F.lit(2.0), F.col("rel")) - 1.0)
                        / F.log2(F.col("irank") + 1.0),
                    ).otherwise(0.0)
                ),
                _DP,
            ).alias("idcg_at_k"),
        )
    )
    out = per_q.join(
        F.broadcast(ideal), per_q[query_col] == ideal["_q"], "inner"
    )
    return out.select(
        q.alias("query_id"),
        "n_rel",
        "rel_at_k",
        (F.col("rel_at_k") / F.lit(float(k))).alias("precision_at_k"),
        (F.col("rel_at_k") / F.col("n_rel")).alias("recall_at_k"),
        F.coalesce(F.col("_rr"), F.lit(0.0)).alias("rr_at_k"),
        "dcg_at_k",
        "idcg_at_k",
        F.round(F.col("dcg_at_k") / F.col("idcg_at_k"), _DP)
        .alias("ndcg_at_k"),
    )


def retrieval_summary(per_query: DataFrame) -> DataFrame:
    """Macro averages over :func:`retrieval_metrics` output — ONE row:
    (n_queries, mean_precision, mean_recall, mrr, mean_ndcg).

    The bitext-margin lesson applies here VERBATIM: a float sum of
    per-query 6-dp metrics reassociates differently per engine, and
    quantized terms park the sum exactly on rounding half-boundaries.
    So each mean is computed in exact integers — per-query values are
    scaled to 1e-6 units and summed as BIGINT (order-free), then ONE
    IEEE division by (n · 10^6) produces the mean. No final rounding
    needed: the quotient of identical operands is bit-identical on
    any engine."""
    n = F.count(F.lit(1)).cast("bigint")

    def units(col: str) -> F.Column:
        # dcg/ndcg are 6-dp quantized already, so *1e6 sits within
        # ~1e-9 of an integer; the exact fractions (a/n_rel, 1/rank)
        # scale to x.5 only when the denominator carries a factor
        # outside 2^6·5^6 AND lands exactly on a half — impossible for
        # rank ≤ k ≤ 64 and n_rel < 128, ULP-safe otherwise
        return F.sum(F.round(F.col(col) * 1e6).cast("bigint"))

    denom = n.cast("double") * F.lit(1000000.0)
    return per_query.agg(
        n.alias("n_queries"),
        (units("precision_at_k") / denom).alias("mean_precision"),
        (units("recall_at_k") / denom).alias("mean_recall"),
        (units("rr_at_k") / denom).alias("mrr"),
        (units("ndcg_at_k") / denom).alias("mean_ndcg"),
    )
