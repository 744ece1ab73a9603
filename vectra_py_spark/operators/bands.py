"""Band-candidate kernel: signature → band key → equi-join → verify, the
one shape behind every near-dup pair join, band-index write and probe
(MinHash LSH, SimHash, winnowing, typo deletions, random-hyperplane
LSH, pHash, video frame hashes and audio landmarks).

- **Pigeonhole geometry** (:func:`pigeonhole`): a ``bits``-wide
  fingerprint splits into ``radius + 1`` equal blocks; any pair within
  Hamming ``radius`` agrees exactly on at least one block. The one rule
  is that ``radius + 1`` must divide ``bits``.
- **Block rows** (:func:`block_rows`): one row per block, keyed by
  ``(block_idx, block_val)``: the join key of the batch pair joins and
  the partition columns of the pHash/video indexes. :func:`block_keys`
  is the driver twin a probe turns into partition predicates
  (:func:`block_predicate`).
- **Self equi-join** (:func:`band_pairs`): two projections of ONE frame
  joined on the band key, so when the frame is an expensive decode or
  hash pass, ReuseExchange computes it once (both join sides shuffle
  byte-identical subtrees by the same key; an explicit
  ``localCheckpoint`` measured as a net loss on the video join — a
  serial barrier that removes no work). Pairs are ordered ``id_a <
  id_b`` unless the caller passes its own pair rule.
- **Verify**: :func:`hamming` (two codegen'd bit ops) for fingerprint
  joins, :func:`best_offset` for the temporal joins (one aggregate on
  (pair, offset), then the per-pair argmax). Each caller keeps its own
  verify order and its own ``distinct``/aggregate.

Probe coordinates of hashed index layouts come from
:func:`vectra_py_spark.session.hash_buckets` (no Spark job), and the
index side files through :func:`vectra_py_spark.session.read_side_file`
(:func:`index_geometry` validates a probe against its index).
"""

from __future__ import annotations

import functools
from collections.abc import Iterable, Mapping

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "BLOCK_KEY",
    "pigeonhole",
    "block_rows",
    "block_keys",
    "block_predicate",
    "band_pairs",
    "hamming",
    "best_offset",
    "index_geometry",
    "write_band_index",
]

# the band key of pigeonhole block rows, in plans and in index directories
BLOCK_KEY = ["block_idx", "block_val"]


def pigeonhole(radius: int, bits: int, bits_name: str = "bits"):
    """``(n_blocks, width, mask)`` of a ``bits``-wide fingerprint split
    for Hamming ``radius``; raises ``ValueError`` unless ``radius + 1``
    divides ``bits`` (a non-dividing split would band only a prefix of
    the bits and silently miss pairs)."""
    n_blocks = radius + 1
    if bits % n_blocks:
        raise ValueError(
            f"radius+1 ({n_blocks}) must divide {bits_name} ({bits})"
        )
    width = bits // n_blocks
    return n_blocks, width, (1 << width) - 1


def block_rows(df: DataFrame, fp_col: str, geometry,
               int_val: bool = False) -> DataFrame:
    """``df`` exploded to one row per pigeonhole block of ``fp_col``,
    with ``block_idx`` and ``block_val`` appended (``block_val`` as INT
    for index layouts, whose partition values are INT)."""
    n_blocks, width, mask = geometry
    val = F.expr(f"shiftright({fp_col}, {width} * block_idx) & {mask}")
    return df.select(
        *df.columns,
        F.explode(
            F.array(*[F.lit(i) for i in range(n_blocks)])
        ).alias("block_idx"),
    ).withColumn("block_val", val.cast("int") if int_val else val)


def block_keys(fp: int, bits: int, geometry) -> list[tuple[int, int]]:
    """Driver twin of :func:`block_rows` for one fingerprint:
    ``[(block_idx, block_val)]``, pure arithmetic (no Spark job)."""
    n_blocks, width, mask = geometry
    ufp = fp & ((1 << bits) - 1)
    return [(i, (ufp >> (width * i)) & mask) for i in range(n_blocks)]


def block_predicate(keys: Iterable[tuple[int, int]]) -> Column:
    """OR of literal ``(block_idx, block_val)`` pairs: the partition
    predicates of a probe, so its scan opens only those directories."""
    return functools.reduce(lambda x, y: x | y, [
        (F.col("block_idx") == i) & (F.col("block_val") == v)
        for i, v in keys
    ])


def band_pairs(
    rows: DataFrame,
    key: list[str],
    id_col: str,
    carry: Mapping[str, str] | None = None,
    id_stem: str = "id",
    rule: Column | None = None,
) -> DataFrame:
    """Candidate pairs of ``rows`` sharing a band ``key``: an equi-join
    of two projections of the one frame. Side ``s`` (``a``/``b``)
    carries ``id_col`` as ``{id_stem}_s`` and each ``carry`` column
    ``c`` as ``{carry[c]}_s``; the key columns appear once. Pairs pass
    ``{id_stem}_a < {id_stem}_b`` unless ``rule`` (a predicate over
    the renamed columns) replaces it."""

    def side(s: str) -> DataFrame:
        return rows.select(
            F.col(id_col).alias(f"{id_stem}_{s}"),
            *[F.col(c).alias(f"{stem}_{s}")
              for c, stem in (carry or {}).items()],
            *key,
        )

    if rule is None:
        rule = F.col(f"{id_stem}_a") < F.col(f"{id_stem}_b")
    return side("a").join(side("b"), key).filter(rule)


def hamming(a, b) -> Column:
    """``popcount(a XOR b)`` as INT over two BIGINT columns (names or
    Columns)."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.bit_count(a.bitwiseXOR(b)).cast("int")


def best_offset(matches: DataFrame, keys: list[str], offset: Column,
                min_aligned: int) -> DataFrame:
    """Temporal alignment verify: count matches per (``keys``, offset)
    and keep each key's best offset — most aligned hits, ties to the
    smaller offset — when it has ``min_aligned`` or more:
    (``keys``, offset, n_aligned)."""
    aligned = matches.groupBy(*keys, offset.alias("offset")).agg(
        F.count(F.lit(1)).cast("int").alias("n_aligned")
    )
    w = Window.partitionBy(*keys).orderBy(
        F.desc("n_aligned"), F.asc("offset")
    )
    return (
        aligned.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (F.col("n_aligned") >= min_aligned))
        .select(*keys, "offset", "n_aligned")
    )


def index_geometry(spark, meta_path: str, radius: int, bits: int,
                   op: str):
    """Pigeonhole geometry a probe must use on a block index, validated
    against the index's side file. The partition predicates follow the
    INDEX's blocks (its directories were cut at width
    ``bits // (write_radius + 1)``); the probe radius gates only the
    Hamming verify, and it may not exceed the write radius, where the
    pigeonhole guarantee ends. A missing side file is a legacy index:
    the probe's own geometry, unvalidated."""
    from vectra_py_spark.session import read_side_file

    geometry = pigeonhole(radius, bits)
    meta = read_side_file(spark, meta_path)
    if meta is None:
        return geometry
    if radius > int(meta["radius"]):
        raise ValueError(
            f"{op}: probe radius {radius} exceeds the "
            f"index's write radius {meta['radius']} — the "
            "pigeonhole guarantee only covers radius <= write "
            "radius, so matches would be silently dropped. "
            "Rebuild the index with a larger radius or probe "
            "within it."
        )
    if bits != int(meta.get("bits", bits)):
        raise ValueError(f"{op}: bits {bits} != index bits {meta['bits']}")
    return pigeonhole(int(meta["radius"]), bits)


def write_band_index(rows: DataFrame, path: str, key: list[str]) -> None:
    """Write ``rows`` as an index partitioned by ``key`` (overwriting),
    clustered by the key first so each directory is written by exactly
    one task: one file per directory instead of a shard per task (the
    small-files discipline that matters at real scale)."""
    rows.repartition(*key).write.mode("overwrite").partitionBy(*key).parquet(path)
