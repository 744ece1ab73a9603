"""Streaming mini-batch k-means over an embedding stream — the
continuous twin of :func:`vectra_py_spark.operators.cluster.lloyd_kmeans`
(Sculley 2010's web-scale mini-batch update, expressed as running
per-cluster sums instead of a learning rate).

Every micro-batch: rebuild the current centroids from the store's
running (cluster, dim) sums/counts, assign the arriving vectors with
the shuffle-free constant-folded argmin projection, then append the
batch's per-(cluster, dim) DELTAS (exact DECIMAL sums + counts) to the
store. Centroid(c, d) is always ``sum/ n`` over all recorded deltas —
the running mean of every vector ever assigned to c, so the state is
a set of append-only facts, not a mutable value.

Why ``foreachBatch``: the centroid rebuild is a tiny global aggregate
(k·dim rows) that must complete BEFORE the batch's assignment plan is
built (the centroids become literals) — a read-state-then-plan step
that ``applyInPandasWithState``'s per-key state model cannot express.

Replay/idempotence: the delta store and the assignment sink are both
``_batch_id``-partitioned dynamic overwrites, and the state read
excludes the current batch's partition — the same exactly-once
reasoning as :mod:`~vectra_py_spark.streaming.incremental_dedup`
(a replayed batch overwrites only its own partitions and never
double-counts its own half-committed deltas).

100 TB notes: per batch the store read is k·dim·batches rows (compact
on a schedule like the fingerprint store — `sources/maintenance.py`);
assignment adds NO shuffle to the stream; the delta aggregate is one
posexplode + map-side-combined groupBy whose output is ≤ k·dim rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from vectra_py_spark.operators.cluster import _assign_expr
from vectra_py_spark.session import local_frame

__all__ = ["stream_kmeans"]

_KM_STORE_SCHEMA = (
    "cluster INT, pos INT, s DECIMAL(38,10), n BIGINT, _batch_id BIGINT"
)


def _read_km_store(spark, store_path: str) -> DataFrame:
    """Read the running-sum store; an ABSENT store (first batch) yields
    an empty frame, but any other read failure (FS hiccup, permissions,
    corruption) propagates and fails the batch — silently re-seeding
    centroids against a store that exists-but-didn't-read would corrupt
    the running clustering with no error."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.schema(_KM_STORE_SCHEMA).parquet(store_path)
    except AnalysisException as exc:
        msg = str(exc)
        if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
            return local_frame(spark, [], _KM_STORE_SCHEMA)
        raise


def _centroids_from_state(rows, dp: int) -> dict[int, list[float]]:
    acc: dict[int, dict[int, float]] = {}
    for r in rows:
        acc.setdefault(r["cluster"], {})[r["pos"]] = round(
            float(r["s"]) / r["n"], dp
        )
    return {
        cid: [dims[p] for p in sorted(dims)]
        for cid, dims in sorted(acc.items())
    }


def stream_kmeans(
    stream_df: DataFrame,
    store_path: str,
    out_path: str,
    checkpoint_dir: str,
    k: int = 8,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    dp: int = 6,
    available_now: bool = True,
) -> StreamingQuery:
    """Start the mini-batch k-means loop: assignments land under
    ``out_path`` (one row per arriving vector: id, cluster, batch),
    per-cluster running-sum deltas under ``store_path``. The first
    batch seeds the centroids with its k smallest-id vectors (the same
    deterministic init as the batch operator); later batches assign
    against the running means of everything seen so far."""
    spark = stream_df.sparkSession
    dec = "decimal(28,10)"

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.persist()
        try:
            state_rows = (
                _read_km_store(spark, store_path)
                .filter(
                    F.col("_batch_id").isNull()
                    | (F.col("_batch_id") != F.lit(batch_id))
                )
                .groupBy("cluster", "pos")
                .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
                .collect()
            )
            if state_rows:
                centroids = _centroids_from_state(state_rows, dp)
            else:
                seeds = (
                    batch_df.select(id_col, vector_col)
                    .orderBy(id_col)
                    .limit(k)
                    .collect()
                )
                if not seeds:
                    return  # empty first batch: no state to seed
                centroids = {
                    cid: [float(x) for x in row[vector_col]]
                    for cid, row in enumerate(seeds)
                }
            assigned = batch_df.withColumn(
                "cluster", _assign_expr(centroids, vector_col)
            )
            (
                assigned.select(id_col, "cluster")
                .withColumn("_batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_batch_id")
                .parquet(out_path)
            )
            (
                assigned.select(
                    "cluster", F.posexplode(vector_col).alias("pos", "x")
                )
                .groupBy("cluster", "pos")
                .agg(
                    F.sum(F.col("x").cast(dec)).alias("s"),
                    F.count(F.lit(1)).alias("n"),
                )
                .withColumn("_batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_batch_id")
                .parquet(store_path)
            )
        finally:
            batch_df.unpersist()

    writer = (
        stream_df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .queryName("stream_kmeans")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
