"""Streaming crawl frontier — the continuous twin of
`operators/linkgraph.py::crawl_frontier`. Fetched pages stream in;
every micro-batch extracts outlinks, canonical-dedups them, anti-joins
a persistent SEEN store (everything already crawled OR already
queued), applies the robots filter, and emits the next wave — while
both the batch's own page URLs and the newly queued candidates append
to the store, so later batches never re-propose them. The
`foreachBatch` + batch-id-partitioned store shape follows
`streaming/incremental_dedup.py` exactly (and for the same reasons:
the canonical-dedup aggregate + anti-join + per-host window is more
than one stateful operator, so `foreachBatch` with the full batch
planner per micro-batch is the honest composition; dynamic partition
overwrite by `_batch_id` makes replays idempotent).

100 TB notes: the store carries ONE STRING per known URL (the
canonical form) — the frontier loop scans canonical keys, never page
text; compact the append-only store with `sources/maintenance.py` on
a schedule; the robots side stays a per-host broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from vectra_py_spark.functions.urls import canonical_url, host_of
from vectra_py_spark.session import local_frame

__all__ = ["stream_frontier"]

_STORE_SCHEMA = "canonical_url STRING, _batch_id BIGINT"


def _read_store(spark, store_path: str) -> DataFrame:
    try:
        return spark.read.schema(_STORE_SCHEMA).parquet(store_path)
    except Exception:
        return local_frame(spark, [], _STORE_SCHEMA)


def stream_frontier(
    stream_df: DataFrame,
    seen_path: str,
    out_path: str,
    checkpoint_dir: str,
    robots: DataFrame | None = None,
    agent: str = "*",
    per_host_limit: int | None = None,
    url_col: str = "url",
    html_col: str = "text",
    available_now: bool = True,
) -> StreamingQuery:
    """Start the acquisition loop: per micro-batch of fetched pages,
    frontier rows (url, canonical_url, host, n_refs) land under
    ``out_path`` partitioned by batch id, and the seen-key store under
    ``seen_path`` grows by the batch's own pages plus everything just
    queued. Exactly-once per batch id; a replayed batch overwrites its
    own partitions and changes nothing else."""
    from vectra_py_spark.operators.linkgraph import outlinks_df

    spark = stream_df.sparkSession

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        # null-safe self-batch exclusion, as in stream_neardup_dedup:
        # a replay must not anti-join against its own interrupted
        # attempt's keys or every candidate would vanish
        seen = _read_store(spark, seen_path).filter(
            F.col("_batch_id").isNull()
            | (F.col("_batch_id") != F.lit(batch_id))
        ).select("canonical_url")
        pages = batch_df.select(
            F.col(url_col).alias("url"), F.col(html_col).alias("text")
        ).cache()
        crawled_keys = (
            pages.select(canonical_url("url").alias("canonical_url"))
            .filter(F.col("canonical_url").isNotNull())
            .distinct()
        )
        cand = (
            outlinks_df(pages)
            .withColumn("canonical_url", canonical_url("outlink"))
            .filter(F.col("canonical_url").isNotNull())
            .groupBy("canonical_url")
            .agg(
                F.min("outlink").alias("url"),
                F.countDistinct("src_url").alias("n_refs"),
            )
        )
        fresh = cand.join(
            seen.union(crawled_keys), "canonical_url", "left_anti"
        )
        if robots is not None:
            from vectra_py_spark.operators.robots import filter_robots_df

            fresh = filter_robots_df(fresh, robots, agent=agent)
        fresh = fresh.withColumn("host", host_of(F.col("url")))
        if per_host_limit is not None:
            from pyspark.sql import Window

            w = Window.partitionBy("host").orderBy(
                F.desc("n_refs"), F.asc("url")
            )
            fresh = (
                fresh.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") <= per_host_limit)
                .drop("__rn")
            )
        fresh = fresh.cache()
        try:
            (
                fresh.withColumn("_batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_batch_id")
                .parquet(out_path)
            )
            (
                crawled_keys.union(fresh.select("canonical_url"))
                .distinct()
                .withColumn("_batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_batch_id")
                .parquet(seen_path)
            )
        finally:
            fresh.unpersist()
            pages.unpersist()

    writer = (
        stream_df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .queryName("stream_frontier")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
