"""Streaming near-dup ingest dedup against a persistent fingerprint
store — the continuous twin of
:func:`vectra_py_spark.operators.dedup.incremental_dedup`.

Every micro-batch is one batch incremental-dedup job: the arriving docs
check against (a) the fingerprint store accumulated from all PREVIOUS
batches and (b) earlier rows of the same batch; survivors land in the
sink AND their fingerprints append to the store, so the loop stays
incremental — each batch scans fingerprints (8 bytes/doc), never the
historical corpus text.

Why ``foreachBatch`` and not ``applyInPandasWithState``: a Hamming-ball
match needs the pigeonhole banding join (a doc probes ``radius+1``
block keys), and banding + the drop decision is a two-stage aggregation
— more than one stateful operator per streaming query is where
Structured Streaming's state composition ends. ``foreachBatch`` gets
the full batch planner per micro-batch: each batch runs
:func:`~vectra_py_spark.operators.dedup.incremental_dedup_against_store`,
whose band join is the shared :mod:`~vectra_py_spark.operators.bands`
kernel with its store-vs-batch pair rule (AQE included), and the
store-append is the state,
checkpointed by batch id for exactly-once. This is also the shape that
swaps Parquet for Delta on a production deployment.

100 TB notes: the store is append-only (one small file per batch —
compact with `sources/maintenance.py` on a schedule); the banding join
cost per batch is |batch|-driven. A block-partitioned store layout
(partitionBy(block_val), cf. `minhash_write_index`) turns each probe
into a pruned scan when batches are much smaller than the store.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from vectra_py_spark.operators.dedup import incremental_dedup_against_store
from vectra_py_spark.session import local_frame

__all__ = ["stream_neardup_dedup"]

_STORE_SCHEMA = "doc_id BIGINT, simhash16 BIGINT, _batch_id BIGINT"


def _read_store(spark, store_path: str) -> DataFrame:
    try:
        return spark.read.schema(_STORE_SCHEMA).parquet(store_path)
    except Exception:
        return local_frame(spark, [], _STORE_SCHEMA)


def stream_neardup_dedup(
    stream_df: DataFrame,
    store_path: str,
    out_path: str,
    checkpoint_dir: str,
    radius: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    available_now: bool = True,
) -> StreamingQuery:
    """Start the dedup-ingest loop: surviving docs land under
    ``out_path``; their fingerprints land under ``store_path`` — both
    partitioned by ``_batch_id`` and written with dynamic partition
    OVERWRITE, which is what makes replay idempotent on plain parquet.

    Exactly-once reasoning (two non-atomic writes + a checkpoint
    commit, any of which can be interrupted): a replayed batch
    (a) overwrites only its own ``_batch_id`` partitions, so the sink
    never accumulates duplicate rows from a crash between the writes or
    before the checkpoint commit, and (b) excludes its own partition
    from the store read, so a half-committed earlier attempt cannot
    make the batch match its own fingerprints and silently drop every
    survivor. Swap the two writers for Delta (txn appVersion) to get
    the same guarantee with real table atomicity.
    """
    spark = stream_df.sparkSession

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        # exclude THIS batch's partition: on replay the store may hold
        # fingerprints from an interrupted earlier attempt of the same
        # batch, and matching against them would drop all survivors.
        # Null-safe: rows written by a pre-partitioning release read
        # back with _batch_id = NULL, and a plain != would silently
        # drop the entire historical store (NULL comparison is never
        # true) — legacy fingerprints must stay in the corpus side.
        store = _read_store(spark, store_path).filter(
            F.col("_batch_id").isNull()
            | (F.col("_batch_id") != F.lit(batch_id))
        )
        # corpus side needs (id, fp) only: feed the banding join with a
        # fingerprint-shaped frame; text is only needed for NEW docs
        survivors = incremental_dedup_against_store(
            store.select(id_col, "simhash16"),
            batch_df,
            radius=radius,
            id_col=id_col,
            text_col=text_col,
        ).cache()
        try:
            (
                batch_df.join(
                    survivors.select(F.col(id_col).alias("__sid")),
                    batch_df[id_col] == F.col("__sid"),
                    "left_semi",
                )
                .withColumn("_batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_batch_id")
                .parquet(out_path)
            )
            (
                survivors.select(id_col, "simhash16")
                .withColumn("_batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_batch_id")
                .parquet(store_path)
            )
        finally:
            survivors.unpersist()

    writer = (
        stream_df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .queryName("stream_neardup_dedup")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
