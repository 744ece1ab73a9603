"""Full-text relevance ranking: BM25 as pure Catalyst expressions.

North-star retrieval operator (the reference ecosystem's hybrid
"keyword + vector" search implies a lexical ranker; the reference
itself has none — ``/root/reference/src/vectra_py/local_index.py`` is
vector-only). BM25 (Robertson/Spärck Jones, the standard probabilistic
relevance function) over a whitespace token stream:

    score(D, Q) = Σ_t idf(t) · tf(t,D)·(k1+1) / (tf(t,D) + k1·(1 − b + b·|D|/avgdl))
    idf(t)      = ln((N − df(t) + 0.5) / (df(t) + 0.5) + 1)

Spark-first design: corpus stats (N, avgdl, per-term df) are ONE
aggregate pass with map-side partial aggregation — a single small row
broadcast back into the scoring scan (same shape as SQ8 params). The
per-document score is a pure HOF projection (``filter``/``size`` term
frequencies — no explode, no shuffle, whole-stage codegen) feeding
``TakeOrderedAndProject``. At 100 TB the stats row is maintained at
ingest instead of recomputed; for large vocabularies the df map moves
from fixed columns to a broadcast map column — same plan shape.

The DuckDB twin is generated from the SAME constants with identical
operation order, so scores hash-match after rounding.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vectra_py_spark.operators.text_analysis import words_col, _words_sql
from vectra_py_spark.session import hash_buckets, local_frame, spread, xxhash_bucket

__all__ = [
    "bm25_scores",
    "bm25_scores_sql",
    "bm25_topk",
    "bm25_topk_sql",
    "bm25_write_index",
    "bm25_append_index",
    "compact_bm25_index",
    "bm25_probe",
    "bm25_probe_sql",
    "bm25_probe_batch",
    "bm25_probe_batch_sql",
    "BM25_K1",
    "BM25_B",
    "BM25_INDEX_BUCKETS",
]

BM25_K1 = 1.2
BM25_B = 0.75


def _tf(words: Column, term: str) -> Column:
    return F.size(F.filter(words, lambda x: x == F.lit(term)))


def bm25_scores(
    df: DataFrame,
    terms: Sequence[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    score_dp: int = 6,
) -> DataFrame:
    """Per-document BM25 score for the query terms (full corpus, no
    truncation) — the candidate-scoring half reused by :func:`bm25_topk`
    and the hybrid lexical+vector fusion query."""
    words = words_col(text_col)
    dl = F.size(words)
    stats = df.agg(
        (F.count(F.lit(1)) * F.lit(1.0)).alias("n_docs"),
        F.avg(F.size(words_col(text_col))).alias("avgdl"),
        *[
            (
                F.sum(
                    F.when(F.array_contains(words_col(text_col), t), 1)
                    .otherwise(0)
                )
                * F.lit(1.0)
            ).alias(f"df_{i}")
            for i, t in enumerate(terms)
        ],
    )
    k1, b = F.lit(BM25_K1), F.lit(BM25_B)
    parts = []
    for i, t in enumerate(terms):
        tf = _tf(words, t)
        idf = F.log(
            (F.col("n_docs") - F.col(f"df_{i}") + 0.5)
            / (F.col(f"df_{i}") + 0.5)
            + 1.0
        )
        parts.append(
            idf
            * (tf * (k1 + 1.0))
            / (tf + k1 * (1.0 - b + b * dl / F.col("avgdl")))
        )
    score = parts[0]
    for p in parts[1:]:
        score = score + p
    return (
        spread(df)
        .crossJoin(F.broadcast(stats))
        .select(id_col, F.round(score, score_dp).alias("bm25"))
    )


def bm25_topk(
    df: DataFrame,
    terms: Sequence[str],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    score_dp: int = 6,
) -> DataFrame:
    """Top-k documents by BM25 relevance to the query terms."""
    return (
        bm25_scores(df, terms, text_col=text_col, id_col=id_col, score_dp=score_dp)
        .orderBy(F.desc("bm25"), id_col)
        .limit(k)
    )


BM25_INDEX_BUCKETS = 64


def bm25_write_index(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = BM25_INDEX_BUCKETS,
) -> None:
    """Materialize the corpus as a partition-pruned BM25 inverted
    index: postings ``(term, doc_id, tf, dl)`` under
    ``partitionBy(bucket, _batch_id)`` with ``bucket =
    xxhash64(term) mod n_buckets``, plus per-batch corpus-stats delta
    rows ``(n_docs, sum_dl)`` under ``<path>/_stats`` (the underscore
    prefix hides the side store from the postings read; the probe sums
    the deltas — exact integer accumulators).

    The full-scan :func:`bm25_topk` re-derives corpus stats and term
    frequencies per query — right for ad-hoc analytics, wrong for a
    serving path. This index makes lookup cost proportional to the
    probed terms' postings, independent of corpus size: the probe's
    bucket ids become literal partition predicates (same pruning story
    as ``dedup.minhash_write_index`` / ``winnow_write_index``) and the
    residual ``term IN (...)`` pushes down to row groups inside the
    opened directories. Clustered one-task-per-directory at write
    (small-files discipline). At 100 TB the index is maintained
    incrementally at ingest — :func:`bm25_append_index` per batch,
    ``streaming/bm25_ingest.py`` continuously; this build is the
    bootstrap (batch 0). Compact postings partitions on a schedule
    with ``sources/maintenance.py`` once many small batches accrue.
    """
    _write_bm25_batch(df, path, 0, id_col, text_col, n_buckets, bootstrap=True)


def _bm25_postings(
    df: DataFrame, id_col: str, text_col: str, n_buckets: int
) -> DataFrame:
    toks = df.select(
        F.col(id_col), words_col(text_col).alias("words")
    ).select(
        id_col, F.size("words").alias("dl"), F.explode("words").alias("term")
    )
    return (
        toks.groupBy("term", id_col, "dl")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("bucket", xxhash_bucket("term", n_buckets))
    )


def _write_bm25_batch(
    df: DataFrame,
    path: str,
    batch_id: int,
    id_col: str,
    text_col: str,
    n_buckets: int,
    bootstrap: bool,
) -> None:
    """One batch into the index: postings under
    ``partitionBy(bucket, _batch_id)``, a (n_docs, sum_dl) stats-delta
    row under ``partitionBy(_batch_id)``. Bootstrap clears everything;
    appends use dynamic partition overwrite, so replaying a batch id
    replaces exactly its own partitions — idempotent under the
    crash-before-checkpoint-commit replay Structured Streaming does."""
    postings = _bm25_postings(df, id_col, text_col, n_buckets).withColumn(
        "_batch_id", F.lit(batch_id)
    )
    w = postings.repartition("bucket").write.mode("overwrite")
    if not bootstrap:
        w = w.option("partitionOverwriteMode", "dynamic")
    w.partitionBy("bucket", "_batch_id").parquet(path)

    delta = (
        df.select(F.size(words_col(text_col)).alias("dl"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.coalesce(F.sum("dl"), F.lit(0)).alias("sum_dl"),
        )
        .withColumn("_batch_id", F.lit(batch_id))
    )
    ws = delta.write.mode("overwrite")
    if not bootstrap:
        ws = ws.option("partitionOverwriteMode", "dynamic")
    ws.partitionBy("_batch_id").parquet(f"{path}/_stats")


def bm25_append_index(
    df_new: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = BM25_INDEX_BUCKETS,
    batch_id: int | None = None,
) -> None:
    """Incremental index maintenance: add one batch's postings and
    stats delta — the at-scale ingest path the build bootstrap hands
    over to (cost is O(batch); the corpus is never rescanned).

    New postings land in their own ``(bucket, _batch_id)`` partitions
    (new doc ids are disjoint from indexed ones under the same
    single-writer discipline as the vector index MERGE, so no merge
    pass is needed); corpus stats are per-batch ``(n_docs, sum_dl)``
    delta rows the probe sums — integer accumulators, exact in double
    below 2^53, so ``avgdl`` after N appends is bit-identical to a
    from-scratch build and probe scores never drift between the
    incremental and bootstrap paths (equality-tested). Writes use
    dynamic partition overwrite keyed on the batch id: replaying a
    batch (streaming crash replay, job retry) replaces its own
    partitions instead of double-counting (idempotency-tested).
    ``batch_id=None`` self-assigns max existing + 1 (one tiny stats
    read); streaming maintenance passes the micro-batch epoch id —
    see ``streaming/bm25_ingest.py``.
    """
    spark = df_new.sparkSession
    if batch_id is None:
        batch_id = (
            int(
                spark.read.parquet(f"{path}/_stats")
                .agg(F.max("_batch_id"))
                .head()[0]
            )
            + 1
        )
    _write_bm25_batch(
        df_new, path, batch_id, id_col, text_col, n_buckets, bootstrap=False
    )


def _sql_str(s: str) -> str:
    """Single-quoted SQL string literal with embedded quotes doubled —
    probe terms are user input ("don't" is an ordinary keyword)."""
    return "'" + s.replace("'", "''") + "'"


def _index_stats(spark, path: str) -> DataFrame:
    """1-row (n_docs, avgdl) from the per-batch stats deltas — exact
    integer sums, identical under any append history."""
    return (
        spark.read.parquet(f"{path}/_stats")
        .agg(F.sum("n_docs").alias("_n"), F.sum("sum_dl").alias("_s"))
        .select(
            (F.col("_n") * F.lit(1.0)).alias("n_docs"),
            (F.col("_s") / F.col("_n")).alias("avgdl"),
        )
    )


def _bm25_contrib() -> Column:
    """Per-posting BM25 contribution over (tf, dl, df, n_docs, avgdl)
    columns — the ONE place the scoring arithmetic lives for both
    probe paths (operation order mirrored by the SQL twin in
    :func:`_contrib_sql`)."""
    k1, b = F.lit(BM25_K1), F.lit(BM25_B)
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    return (
        idf
        * (F.col("tf") * (k1 + 1.0))
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
    )


def _probe_ctes_sql(
    terms: Sequence[str], table: str, text_expr: str, id_col: str
) -> str:
    """Shared d/stats/post/dfreq CTE body for the probe SQL twins."""
    w = _words_sql(text_expr)
    in_list = ", ".join(_sql_str(t) for t in terms)
    return f"""d AS (
          SELECT {id_col}, words, len(words) AS dl
          FROM (SELECT {id_col}, {w} AS words FROM {table})
        ), stats AS (
          SELECT count(*) * 1.0 AS n_docs, avg(dl) AS avgdl FROM d
        ), post AS (
          SELECT {id_col}, dl, term, count(*) AS tf
          FROM (SELECT {id_col}, dl, unnest(words) AS term FROM d) u
          WHERE term IN ({in_list})
          GROUP BY 1, 2, 3
        ), dfreq AS (
          SELECT term, count(*) * 1.0 AS df FROM post GROUP BY 1
        )"""


def _contrib_sql() -> str:
    """DuckDB twin of :func:`_bm25_contrib` (same operation order)."""
    k1p1 = BM25_K1 + 1.0
    one_minus_b = 1.0 - BM25_B
    return (
        f"CAST(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)"
        f" * (tf * {k1p1!r})"
        f" / (tf + {BM25_K1!r}"
        f" * ({one_minus_b!r} + {BM25_B!r} * dl / avgdl))"
        f" AS DECIMAL(28,12))"
    )


def compact_bm25_index(spark, path: str) -> dict[str, int]:
    """Fold the index's COMMITTED batch partitions into one — the
    OPTIMIZE step for an index many :func:`bm25_append_index` /
    streaming batches have accreted small files onto.

    Replay safety: only the LATEST batch id can ever be replayed
    (a crash lands before its checkpoint commit; every earlier batch's
    commit is durable), so batches ``0..max-1`` fold into a single
    ``_batch_id = 0`` partition per bucket while batch ``max`` keeps
    its own partitions — a post-compaction replay of ``max`` still
    replaces exactly its own data (idempotency preserved,
    test-asserted). Stats deltas fold the same way, so probe stats
    stay exact. Whole-index rewrite via tmp-and-swap (single-writer,
    run at a maintenance window like every OPTIMIZE). The swap is
    driver-local-filesystem ``shutil``, same as
    ``sources/maintenance.compact_parquet`` — on HDFS/S3 deployments
    fold bucket-by-bucket on a schedule instead (same fold, one
    directory at a time through the Spark writer — the
    ``sources/maintenance.compact_index`` pattern), which is also the
    right shape at 100 TB where a whole-index rewrite is a full-corpus
    job.

    Returns {files_before, files_after, batches_folded}.
    """
    import shutil
    import uuid

    from vectra_py_spark.sources.maintenance import parquet_file_stats

    max_bid = int(
        spark.read.parquet(f"{path}/_stats").agg(F.max("_batch_id")).head()[0]
    )
    before, _ = parquet_file_stats(path)
    if max_bid < 1:
        return {"files_before": before, "files_after": before,
                "batches_folded": 0}

    post = spark.read.parquet(path)
    folded_post = (
        post.filter(F.col("_batch_id") < max_bid)
        .withColumn("_batch_id", F.lit(0))
        .unionByName(post.filter(F.col("_batch_id") == max_bid))
    )
    stats = spark.read.parquet(f"{path}/_stats")
    folded_stats = (
        stats.filter(F.col("_batch_id") < max_bid)
        .groupBy()
        .agg(F.sum("n_docs").alias("n_docs"), F.sum("sum_dl").alias("sum_dl"))
        .withColumn("_batch_id", F.lit(0))
        # a bootstrap-less stream starts at batch 1: nothing below max
        # → the global agg yields one all-NULL row; drop it
        .filter(F.col("n_docs").isNotNull())
        .unionByName(stats.filter(F.col("_batch_id") == max_bid))
    )

    tmp = f"{path.rstrip('/')}__compact_{uuid.uuid4().hex[:8]}"
    (
        folded_post.repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("bucket", "_batch_id")
        .parquet(tmp)
    )
    folded_stats.write.mode("overwrite").partitionBy("_batch_id").parquet(
        f"{tmp}/_stats"
    )
    old = f"{path.rstrip('/')}__old_{uuid.uuid4().hex[:8]}"
    shutil.move(path, old)
    shutil.move(tmp, path)
    shutil.rmtree(old)
    after, _ = parquet_file_stats(path)
    return {
        "files_before": before,
        "files_after": after,
        "batches_folded": max_bid,
    }


def bm25_probe(
    spark,
    path: str,
    terms: Sequence[str],
    k: int = 10,
    id_col: str = "doc_id",
    n_buckets: int = BM25_INDEX_BUCKETS,
    score_dp: int = 6,
) -> DataFrame:
    """Top-k BM25 lookup against the materialized inverted index —
    the serving twin of :func:`bm25_topk`.

    Scores match the full scan for every document containing ≥ 1 query
    term (per-term arithmetic mirrored operation-for-operation; the
    ``idf·tf`` contributions are summed exactly in DECIMAL(28,12) so
    the unordered aggregate cannot drift across engines); documents
    containing none score 0 there and are absent here, so the top-k
    sets agree whenever the k-th full-scan score is positive
    (equivalence-tested). Per-term ``df`` re-derives exactly from the
    probed postings (one row per (term, doc) pair by construction).

    Plan shape: pruned postings scan → tiny df/stats broadcasts (the
    stats read sums the per-batch delta rows — one row per ingested
    batch; exact integer sums, so ``avgdl`` is identical however many
    appends produced the index) → one (doc_id) aggregate over matched
    postings only → ``TakeOrderedAndProject``. Probe cost is
    corpus-size-independent.
    """
    terms = list(dict.fromkeys(terms))
    buckets = sorted(set(hash_buckets(spark, terms, T.StringType(), n_buckets)))
    stats = _index_stats(spark, path)
    post = spark.read.parquet(path).filter(
        F.col("bucket").isin(buckets) & F.col("term").isin(terms)
    )
    dfreq = post.groupBy("term").agg(
        (F.count(F.lit(1)) * F.lit(1.0)).alias("df")
    )
    return (
        post.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select(id_col, _bm25_contrib().cast("decimal(28,12)").alias("c"))
        .groupBy(id_col)
        .agg(F.sum("c").alias("s"))
        .select(
            id_col,
            F.round(F.col("s").cast("double"), score_dp).alias("bm25"),
        )
        .orderBy(F.desc("bm25"), id_col)
        .limit(k)
    )


def bm25_probe_sql(
    terms: Sequence[str],
    k: int = 10,
    table: str = "documents",
    text_expr: str = "text",
    id_col: str = "doc_id",
    score_dp: int = 6,
) -> str:
    """DuckDB twin of :func:`bm25_probe`: the same postings → df →
    exact-DECIMAL contribution sum pipeline, derived from the raw
    table (the oracle has no materialized index — equality proves the
    index content is faithful)."""
    terms = list(dict.fromkeys(terms))
    return f"""
        WITH {_probe_ctes_sql(terms, table, text_expr, id_col)}
        SELECT {id_col},
               ROUND(CAST(SUM(c) AS DOUBLE), {score_dp}) AS bm25
        FROM (
          SELECT {id_col},
                 {_contrib_sql()} AS c
          FROM post JOIN dfreq USING (term), stats
        )
        GROUP BY {id_col}
        ORDER BY bm25 DESC, {id_col}
        LIMIT {k}
    """


def bm25_probe_batch(
    spark,
    path: str,
    queries: dict[str, Sequence[str]],
    k: int = 10,
    id_col: str = "doc_id",
    n_buckets: int = BM25_INDEX_BUCKETS,
    score_dp: int = 6,
) -> DataFrame:
    """Many keyword queries against the materialized inverted index in
    ONE pass — the lexical twin of batched vector serving
    (``similarity.cosine_topk_batch``): the query table broadcasts,
    the postings store is scanned once for the UNION of all probed
    terms' buckets, per-term ``df`` is computed once and shared across
    queries, and per-query top-k comes from a window over the scored
    (query, doc) pairs. Amortizes the per-job floor across the batch
    exactly like the vector path.

    ``queries`` maps query_id → terms. Scores are identical to
    :func:`bm25_probe` per query (same exact-DECIMAL contribution
    sum); output is (query_id, doc_id, bm25, rank) with the same
    deterministic (score desc, doc_id) tie-break.
    """
    pairs = [
        (qid, t) for qid, terms in queries.items()
        for t in dict.fromkeys(terms)
    ]
    qdf = local_frame(spark, pairs, "query_id string, term string")
    all_terms = sorted({t for _, t in pairs})
    buckets = sorted(set(hash_buckets(spark, all_terms, T.StringType(), n_buckets)))
    stats = _index_stats(spark, path)
    post = spark.read.parquet(path).filter(
        F.col("bucket").isin(buckets) & F.col("term").isin(all_terms)
    )
    dfreq = post.groupBy("term").agg(
        (F.count(F.lit(1)) * F.lit(1.0)).alias("df")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("bm25"), F.asc(id_col)
    )
    return (
        post.join(F.broadcast(qdf), "term")
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            id_col,
            _bm25_contrib().cast("decimal(28,12)").alias("c"),
        )
        .groupBy("query_id", id_col)
        .agg(F.sum("c").alias("s"))
        .select(
            "query_id",
            id_col,
            F.round(F.col("s").cast("double"), score_dp).alias("bm25"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def bm25_probe_batch_sql(
    queries: dict[str, Sequence[str]],
    k: int = 10,
    table: str = "documents",
    text_expr: str = "text",
    id_col: str = "doc_id",
    score_dp: int = 6,
) -> str:
    """DuckDB twin of :func:`bm25_probe_batch`, derived from the raw
    table (the oracle has no materialized index)."""
    pairs = [
        (qid, t) for qid, terms in queries.items()
        for t in dict.fromkeys(terms)
    ]
    all_terms = sorted({t for _, t in pairs})
    values = ", ".join(
        f"({_sql_str(q)}, {_sql_str(t)})" for q, t in pairs
    )
    return f"""
        WITH {_probe_ctes_sql(all_terms, table, text_expr, id_col)},
        q(query_id, term) AS (
          VALUES {values}
        ), scores AS (
          SELECT query_id, {id_col},
                 ROUND(CAST(SUM(c) AS DOUBLE), {score_dp}) AS bm25
          FROM (
            SELECT query_id, {id_col},
                   {_contrib_sql()} AS c
            FROM post
            JOIN q USING (term)
            JOIN dfreq USING (term), stats
          )
          GROUP BY query_id, {id_col}
        )
        SELECT query_id, {id_col}, bm25, rank FROM (
          SELECT query_id, {id_col}, bm25,
                 CAST(row_number() OVER (
                     PARTITION BY query_id
                     ORDER BY bm25 DESC, {id_col}
                 ) AS INT) AS rank
          FROM scores
        )
        WHERE rank <= {k}
        ORDER BY query_id, rank
    """


def bm25_scores_sql(
    terms: Sequence[str],
    table: str = "documents",
    text_expr: str = "text",
    id_col: str = "doc_id",
    score_dp: int = 6,
) -> str:
    """DuckDB twin of :func:`bm25_scores` (no ordering/truncation)."""
    w = _words_sql(text_expr)
    dfs = ",\n                 ".join(
        f"sum(CASE WHEN list_contains(words, {_sql_str(t)}) THEN 1 ELSE 0 END)"
        f" * 1.0 AS df_{i}"
        for i, t in enumerate(terms)
    )
    k1p1 = BM25_K1 + 1.0
    one_minus_b = 1.0 - BM25_B
    parts = "\n          + ".join(
        f"ln((n_docs - df_{i} + 0.5) / (df_{i} + 0.5) + 1.0)"
        f" * (len(list_filter(words, x -> x = {_sql_str(t)})) * {k1p1!r})"
        f" / (len(list_filter(words, x -> x = {_sql_str(t)}))"
        f" + {BM25_K1!r} * ({one_minus_b!r} + {BM25_B!r} * dl / avgdl))"
        for i, t in enumerate(terms)
    )
    return f"""
        WITH d AS (
          SELECT {id_col}, words, len(words) AS dl
          FROM (SELECT {id_col}, {w} AS words FROM {table})
        ), stats AS (
          SELECT count(*) * 1.0 AS n_docs, avg(dl) AS avgdl,
                 {dfs}
          FROM d
        )
        SELECT {id_col},
          ROUND({parts}, {score_dp}) AS bm25
        FROM d, stats
    """


def bm25_topk_sql(
    terms: Sequence[str],
    k: int = 10,
    table: str = "documents",
    text_expr: str = "text",
    id_col: str = "doc_id",
    score_dp: int = 6,
) -> str:
    scores = bm25_scores_sql(
        terms, table=table, text_expr=text_expr, id_col=id_col, score_dp=score_dp
    )
    return f"""
        SELECT * FROM ({scores})
        ORDER BY bm25 DESC, {id_col}
        LIMIT {k}
    """
