"""SparkVectorIndex — the vector index as a partitioned Parquet table.

Re-expresses the reference's ``LocalIndex``
(``/root/reference/src/vectra_py/local_index.py``) — one ``index.json``
folder fully materialized in driver memory, rewritten wholesale per
commit — as a columnar Parquet table with declared schema (SURVEY.md
§1.1, §2.1 S1–S6, §2.8 D1–D4):

- load (S1) → ``spark.read.parquet`` with a fixed schema + ``.cache()``
- create (S2) → empty DataFrame write + a meta row
- save/commit (S4) → atomic job commit (overwrite) replaces the
  copy-on-write file swap (``local_index.py:80-90``)
- metadata side-files (S5/S6) → unnecessary: columnar storage gives
  column pruning; "indexed" fields become typed top-level columns so
  predicates push into the scan
- insert/upsert/delete (D1–D3) → staged-batch union + window dedup
  (MERGE-equivalent on plain Parquet)
- query_items (V5) → while the live vectors fit the broadcast budget,
  a driver snapshot of the table (the reference's in-memory index,
  ``local_index.py:161-172``) that writes keep current: a numpy filter
  mask, a column-by-column dot product and a top-k, handed back as a
  local relation (no Spark job). Otherwise, and whenever the snapshot
  cannot promise Spark's exact answer: filter → HOF cosine →
  ``orderBy().limit(k)``, which Catalyst executes as
  ``TakeOrderedAndProject`` (per-partition heap top-k + driver merge —
  no full shuffle sort, strictly better than the reference's full sort
  at ``local_index.py:141``)

Scale (100 TB): items live directory-partitioned by
``_bucket = pmod(xxhash64(<bucket key>), n_buckets)``; the bucket key is
``id`` unless the owner declares an indexed column (the document index
keys its chunks by ``document_id``, so one document's chunks share a
bucket). The scan parallelizes per file split; the HOF cosine is an
interpreted projection per partition (``ZipWith`` and its lambda
variables are ``CodegenFallback``); top-k merges k rows per partition
on the driver. Metadata filters prune row groups via Parquet min/max
stats on the typed columns. DML is **partition-scoped**: a commit reads
only the buckets holding touched rows (partition-pruned scan) and
rewrites only those directories (dynamic partition overwrite) —
untouched bucket files are never opened, so upsert cost is O(touched
buckets), not O(table). Deletes by key values get their buckets from
the keys, with no table scan. ``n_buckets`` and the bucket key are
pinned in a ``_vectra_meta.json`` side-file at create time so every
writer agrees on the key→bucket map for the table's lifetime; a row's
key value must never change, or an upsert of its id would land in a
second bucket beside the old row.
"""

from __future__ import annotations

import logging
import time
import uuid
from collections.abc import Callable, Mapping, Sequence
from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from vectra_py_spark.filters import (
    FilterCompileError,
    NotExact,
    compile_filter,
    compile_mask,
)
from vectra_py_spark.functions.vector import cosine_to_query, l2_norm, query_norm
from vectra_py_spark.operators.similarity import (
    BROADCAST_BYTES_CONF,
    DEFAULT_BROADCAST_BYTES,
    _vector_set_bytes,
)
from vectra_py_spark.session import (
    hadoop_fs,
    hash_buckets,
    local_frame,
    read_side_file,
    write_side_file,
    xxhash_bucket,
)

__all__ = ["SparkVectorIndex", "ITEM_SCHEMA", "BUCKET_COL"]

# Internal partition column. Underscore-prefixed names are filtered from
# user-visible output by ``items()``; the meta side-file below is invisible
# to Spark's file listing for the same reason (``_``-prefixed = hidden).
BUCKET_COL = "_bucket"
META_FILE = "_vectra_meta.json"
DEFAULT_N_BUCKETS = 64  # fixture-scale default; O(10k) at 100 TB
LOG_KEYS = 5  # deleted keys named in a merge's log record; the rest are counted

log = logging.getLogger(__name__)

# IndexItem (``custom_types.py:43-49``): id, vector, norm, metadata.
# metadata_ref (the side-file pointer, ``metadataFile``) is dropped —
# full metadata rides in the row; columnar pruning makes the split moot.
ITEM_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), nullable=False),
        T.StructField("vector", T.ArrayType(T.DoubleType()), nullable=False),
        T.StructField("norm", T.DoubleType(), nullable=False),
        T.StructField("metadata", T.MapType(T.StringType(), T.StringType()), True),
    ]
)


def _metadata_resolver(df: DataFrame):
    """Field → Column: typed top-level column when present (pushdown-able),
    else ``metadata[field]`` (the reference's non-indexed metadata)."""
    cols = set(df.columns)

    def resolve(field: str):
        if field in cols:
            return F.col(field)
        return F.col("metadata").getItem(field)

    return resolve


def _valid(arr: pa.Array) -> np.ndarray:
    return arr.is_valid().to_numpy(zero_copy_only=False)


def _column_major(arr: pa.Array, dim: int | None) -> tuple[np.ndarray, np.ndarray]:
    """A list<double> column → ``(Xt, bad)``: the vectors as a
    ``(dim, n)`` float64 matrix (row ``j`` holds every vector's ``j``-th
    component, contiguous) and the rows Spark would score null: a null
    or ragged vector, or a null component."""
    n = len(arr)
    if dim is None:
        return np.zeros((0, n)), np.ones(n, dtype=bool)
    lengths = pc.fill_null(pc.list_value_length(arr), -1).to_numpy(zero_copy_only=False)
    flat = arr.flatten()
    if (lengths == dim).all() and flat.null_count == 0:
        Xt = flat.to_numpy().reshape(n, dim).T
        return np.ascontiguousarray(Xt), np.zeros(n, dtype=bool)
    Xt, bad = np.zeros((dim, n)), np.ones(n, dtype=bool)
    for i, v in enumerate(arr.to_pylist()):
        if v is not None and len(v) == dim and None not in v:
            Xt[:, i], bad[i] = v, False
    return Xt, bad


def _pick(x, keep: np.ndarray):
    if isinstance(x, (pa.Array, pa.Table)):
        return x.filter(pa.array(keep))
    return x[..., keep]  # the last axis is the row axis (also of Xt)


def _cat(a, b):
    if isinstance(a, pa.Table):
        return pa.concat_tables([a, b]).combine_chunks()
    if isinstance(a, pa.Array):
        return pa.concat_arrays([a, b])
    return np.concatenate([a, b], axis=-1)


def _rank(score: np.ndarray, ids: np.ndarray, k: int) -> np.ndarray:
    """Positions of the top ``k`` scores under (score DESC, id ASC),
    in rank order. Python's ``str`` order is code-point order, which is
    Spark's UTF-8 byte order."""
    m = len(score)
    k = min(k, m)
    if k == 0:
        return np.zeros(0, dtype=np.int64)
    cand = np.arange(m) if k == m else np.flatnonzero(score >= np.partition(score, m - k)[m - k])
    return cand[np.lexsort((ids[cand], -score[cand]))][:k]


class _Snapshot:
    """A driver copy of an index's rows, for single-query top-k.

    ``table`` holds the rows as Arrow (what a query hands back), ``Xt``
    the vectors column-major as float64, ``norm`` and ``ids`` the stored
    norms and ids, and ``columns`` the typed columns a filter mask reads
    (:func:`~vectra_py_spark.filters.compile_mask`). A row Spark cannot
    score (see :func:`_column_major`, or a null id) carries a NaN norm,
    so a query whose candidates include it falls back to the Spark plan.
    ``schema`` is the items DataFrame's schema, nullability included.
    """

    def __init__(self, table, Xt, norm, ids, columns, schema, dim) -> None:
        self.table, self.Xt, self.norm, self.ids = table, Xt, norm, ids
        self.columns, self.schema, self.dim = columns, schema, dim

    @classmethod
    def of(cls, table: pa.Table, dim: int | None, kinds: Mapping[str, str], schema):
        table = table.combine_chunks()

        def col(name: str) -> pa.Array:
            return table.column(name).combine_chunks()

        Xt, bad = _column_major(col("vector"), dim)
        norm = np.array(pc.fill_null(col("norm"), np.nan).to_numpy(zero_copy_only=False), dtype=np.float64)
        norm[bad | ~_valid(col("id"))] = np.nan
        columns = {}
        for name, kind in kinds.items():
            arr = col(name)
            data = arr if kind == "str" else pc.fill_null(arr, 0).to_numpy(zero_copy_only=False).astype(np.int64)
            columns[name] = (kind, data, _valid(arr))
        ids = col("id").to_numpy(zero_copy_only=False)
        return cls(table, Xt, norm, ids, columns, schema, dim)

    @property
    def n(self) -> int:
        return self.table.num_rows

    def nbytes(self) -> int:
        """The size estimate of ``_vector_set_bytes``: float64 payload +
        row overhead + id."""
        return self.n * ((self.dim or 0) * 8 + 24)

    def keys_in(self, key_col: str, keys: Sequence[Any]) -> np.ndarray:
        """Rows whose ``key_col`` is among ``keys``, as Spark's null-safe
        ``isin`` delete sees them."""
        try:
            return compile_mask({key_col: {"$in": list(keys)}}, self.columns, self.n)
        except FilterCompileError as e:
            raise NotExact(f"delete keys on {key_col!r}: {e}") from e

    def take(self, keep: np.ndarray) -> _Snapshot:
        columns = {
            name: (kind, _pick(data, keep), valid[keep])
            for name, (kind, data, valid) in self.columns.items()
        }
        return _Snapshot(
            _pick(self.table, keep), _pick(self.Xt, keep), self.norm[keep],
            self.ids[keep], columns, self.schema, self.dim,
        )

    def concat(self, other: _Snapshot) -> _Snapshot:
        if other.n == 0:
            return self
        if self.n == 0:
            return other
        if self.dim != other.dim:
            raise NotExact(f"rows of dimension {other.dim} added to {self.dim}")
        columns = {
            name: (kind, _cat(data, other.columns[name][1]), _cat(valid, other.columns[name][2]))
            for name, (kind, data, valid) in self.columns.items()
        }
        return _Snapshot(
            _cat(self.table, other.table), _cat(self.Xt, other.Xt),
            _cat(self.norm, other.norm), _cat(self.ids, other.ids),
            columns, self.schema, self.dim,
        )

    def scores(self, q: list[float], rows: np.ndarray | None) -> np.ndarray:
        """Spark's ``cosine_to_query`` over the candidate ``rows`` (all
        rows when None), bit for bit: the dot product accumulates left
        to right from 0.0 (``aggregate(zip_with)``), then divides by
        ``norm * q_norm``. Raises :class:`NotExact` where Spark would
        raise ``DIVIDE_BY_ZERO`` or score NaN."""
        norm = self.norm if rows is None else self.norm[rows]
        q_norm = query_norm(q)
        if q_norm == 0.0 or len(norm) == 0:
            return np.zeros(len(norm))  # cosine_to_query's literal 0.0
        if (norm == 0.0).any():
            raise NotExact("a candidate row has norm 0")
        Xt = self.Xt if rows is None else self.Xt[:, rows]
        acc, term = np.zeros(len(norm)), np.empty(len(norm))
        for j, qj in enumerate(q):
            np.multiply(Xt[j], qj, out=term)
            acc += term
        score = acc / (norm * q_norm)
        if np.isnan(score).any():
            raise NotExact("a candidate row scores NaN")
        return score


class SparkVectorIndex:
    """A vector index over a Parquet path (or a registered table name).

    The reference's begin/end/cancel copy-on-write protocol
    (``local_index.py:32-40,80-90``) maps to explicit staging: mutations
    accumulate in a driver-side batch and ``commit()`` runs ONE Spark
    write job (atomic by job commit). ``cancel_update`` = drop the batch.

    ``bucket_key`` (``"id"`` or an indexed field) is the column whose hash
    places a row in its bucket; it and ``n_buckets`` are pinned in the
    meta file at create time, and a reopen adopts the pinned values.

    ``query_items`` serves from a driver snapshot of the table (see
    :meth:`query_items`), loaded on the first query and kept current by
    this object's writes: like the ``items()`` cache, it assumes a single
    writer per index object.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        vector_dim: int | None = None,
        indexed_fields: Mapping[str, T.DataType] | None = None,
        n_buckets: int = DEFAULT_N_BUCKETS,
        bucket_key: str = "id",
    ) -> None:
        self.spark = spark
        self.path = path
        self.vector_dim = vector_dim
        self.indexed_fields = dict(indexed_fields or {})
        self.n_buckets = int(n_buckets)
        self.bucket_key = bucket_key
        self._check_bucket_key()
        self._meta_loaded = False
        self._pending: list[dict[str, Any]] = []
        self._pending_deletes: list[str] = []
        self._cached: DataFrame | None = None
        self._snap: _Snapshot | None = None
        self._snap_refused: str | None = None  # why no snapshot loads until the next write

    # -- schema ----------------------------------------------------------
    def _schema(self) -> T.StructType:
        fields = list(ITEM_SCHEMA.fields)
        for name, dtype in self.indexed_fields.items():
            fields.append(T.StructField(name, dtype, True))
        return T.StructType(fields)

    def _schema_with_bucket(self) -> T.StructType:
        fields = list(self._schema().fields)
        fields.append(T.StructField(BUCKET_COL, T.IntegerType(), True))
        return T.StructType(fields)

    # -- bucket layout ----------------------------------------------------
    def _check_bucket_key(self) -> None:
        if self.bucket_key != "id" and self.bucket_key not in self.indexed_fields:
            raise ValueError(
                f"bucket key {self.bucket_key!r} is neither 'id' nor an "
                "indexed field"
            )

    def _bucket_expr(self, key: Column | None = None) -> Column:
        """Bucket key → partition bucket. ``xxhash64`` is a deterministic
        Spark built-in, so every writer (batch commit, streaming
        merge_batch, document ingest) computes the same placement
        JVM-side — no Python copy of the hash."""
        self._ensure_meta()
        return xxhash_bucket(self.bucket_key if key is None else key, self.n_buckets)

    def _key_buckets(self, keys: Sequence[Any]) -> set[int]:
        """The buckets of bucket-key values, by Spark's own hash over a
        local relation of the keys (:func:`hash_buckets`): the projection
        folds on the driver, so this runs no job and scans no table."""
        if not keys:
            return set()
        self._ensure_meta()
        dtype = self._schema()[self.bucket_key].dataType
        return set(hash_buckets(self.spark, keys, dtype, self.n_buckets))

    def _write_meta(self) -> None:
        """Pin the layout (``n_buckets``, bucket key) in a side-file so a
        reopen with different defaults can't scatter one key across two
        buckets."""
        meta = {"version": 1, "n_buckets": self.n_buckets, "bucket_key": self.bucket_key}
        write_side_file(self.spark, f"{self.path}/{META_FILE}", meta)
        self._meta_loaded = True

    def _ensure_meta(self) -> None:
        """Adopt the table's pinned layout. Only an absent meta file means
        a fresh table (the constructor's values stand); a meta file that
        cannot be read or parsed raises ``ValueError`` rather than
        silently re-bucketing the table. A meta file without a bucket
        key predates keyed layouts: its table is keyed by ``id``."""
        if self._meta_loaded:
            return
        meta_path = f"{self.path}/{META_FILE}"
        meta = read_side_file(self.spark, meta_path)
        if meta is not None:
            try:
                n_buckets = int(meta["n_buckets"])
                bucket_key = meta.get("bucket_key", "id")
                if n_buckets < 1 or not isinstance(bucket_key, str):
                    raise ValueError(f"bad layout {meta!r}")
            except (KeyError, TypeError, ValueError) as e:
                raise ValueError(f"unreadable index meta file {meta_path}: {e}") from e
            self.n_buckets, self.bucket_key = n_buckets, bucket_key
            self._check_bucket_key()
        self._meta_loaded = True

    def _delete_bucket_dir(self, bucket: int) -> None:
        fs, jpath = hadoop_fs(self.spark, f"{self.path}/{BUCKET_COL}={bucket}")
        fs.delete(jpath, True)

    # -- lifecycle (S2, S3) ----------------------------------------------
    def _empty_table(self) -> DataFrame:
        return local_frame(self.spark, [], self._schema()).withColumn(
            BUCKET_COL, F.lit(None).cast("int")
        )

    def create(self, overwrite: bool = False) -> None:
        """S2: write an empty table with the declared schema and pin the
        bucket layout in the meta side-file."""
        mode = "overwrite" if overwrite else "errorifexists"
        self._drop_snapshot("create")
        self._empty_table().write.mode(mode).partitionBy(BUCKET_COL).parquet(self.path)
        self._write_meta()
        self._invalidate()

    def delete_index(self) -> None:
        """S3: drop the table (overwrite with nothing → empty dir)."""
        self._drop_snapshot("delete_index")
        self._empty_table().write.mode("overwrite").partitionBy(BUCKET_COL).parquet(self.path)
        self._write_meta()
        self._invalidate()

    def exists(self) -> bool:
        try:
            self.spark.read.schema(self._schema_with_bucket()).parquet(self.path).limit(1)
            return True
        except Exception:
            return False

    # -- load (S1) --------------------------------------------------------
    def _raw_items(self) -> DataFrame:
        """Items WITH the partition column — the merge path filters on
        ``_bucket`` here so Catalyst prunes untouched directories
        (``PartitionFilters`` in the scan, zero files opened elsewhere)."""
        self._ensure_meta()
        return self.spark.read.schema(self._schema_with_bucket()).parquet(self.path)

    def items(self, use_cache: bool = True) -> DataFrame:
        """S1: the items DataFrame. ``cache()`` is the Spark analog of the
        reference's memoized in-memory index (``local_index.py:161-172``)."""
        if self._cached is not None:
            return self._cached
        df = self._raw_items().drop(BUCKET_COL)
        if use_cache:
            df = df.cache()
            self._cached = df
        return df

    def _invalidate(self) -> None:
        self._snap_refused = None  # the table changed: its size may have too
        if self._cached is not None:
            self._cached.unpersist()
            self._cached = None

    # -- serving snapshot ---------------------------------------------------
    def _budget(self) -> int:
        return int(self.spark.conf.get(BROADCAST_BYTES_CONF, str(DEFAULT_BROADCAST_BYTES)))

    def _mask_kinds(self) -> dict[str, str]:
        """The columns a filter mask can read exactly: ``id`` and the
        BIGINT/INT/STRING indexed fields (a DOUBLE column is left out:
        Spark orders NaN above every number)."""
        kinds = {"id": "str"}
        for name, dtype in self.indexed_fields.items():
            if isinstance(dtype, (T.LongType, T.IntegerType)):
                kinds[name] = "num"
            elif isinstance(dtype, T.StringType):
                kinds[name] = "str"
        return kinds

    def _serving_snapshot(self) -> _Snapshot:
        """The loaded snapshot, else load it: one size check (count ×
        dim, as ``_vector_set_bytes`` estimates it) against the broadcast
        budget, then one ``toArrow()`` of the cached items. Raises
        :class:`NotExact` when the table is over the budget; that answer
        stands until the next write."""
        if self._snap is not None:
            return self._snap
        if self._snap_refused is not None:
            raise NotExact(self._snap_refused)
        items = self.items()
        size, budget = _vector_set_bytes(items, "vector"), self._budget()
        if size > budget:
            self._snap_refused = f"{size} bytes over the broadcast budget of {budget}"
            log.info("snapshot of %s refused: %s", self.path, self._snap_refused)
            raise NotExact(self._snap_refused)
        t0 = time.perf_counter()
        self._snap = _Snapshot.of(
            items.toArrow(), self._resolved_dim(), self._mask_kinds(), items.schema
        )
        log.info(
            "snapshot of %s loaded: %d rows, %d bytes in %.0f ms",
            self.path, self._snap.n, size, (time.perf_counter() - t0) * 1e3,
        )
        return self._snap

    def _drop_snapshot(self, by: str) -> None:
        if self._snap is not None:
            self._snap = None
            log.info("snapshot of %s dropped by %s", self.path, by)

    def _advance(self, snap: _Snapshot, delta: Callable[[_Snapshot], _Snapshot] | None) -> None:
        """Apply a successful write's delta to the snapshot it was taken
        from; drop the snapshot when the delta cannot say exactly what
        the write did, or leaves it over the budget."""
        try:
            if delta is None:
                raise NotExact("a write with no known delta")
            new = delta(snap)
            if new.nbytes() > self._budget():
                raise NotExact(f"growing to {new.nbytes()} bytes, over the broadcast budget")
        except NotExact as e:
            log.info("snapshot of %s dropped by %s", self.path, e)
            return
        self._snap = new

    def _staged_snapshot(self, table: pa.Table, snap: _Snapshot) -> _Snapshot:
        table = table.select(snap.table.column_names).cast(snap.table.schema)
        return _Snapshot.of(table, self.vector_dim, self._mask_kinds(), snap.schema)

    # -- mutations (D1-D4) ------------------------------------------------
    @staticmethod
    def _norm(vec: Sequence[float]) -> float:
        return float(sum(float(x) * float(x) for x in vec) ** 0.5)

    def _resolved_dim(self) -> int | None:
        """Lazily adopt the index dimension: explicit ctor arg, else the
        dimension of any committed row (one tiny head job, memoized)."""
        if self.vector_dim is None:
            head = self.items().select(F.size("vector").alias("d")).head(1)
            if head:
                self.vector_dim = int(head[0]["d"])
        return self.vector_dim

    def _stage(self, item: Mapping[str, Any]) -> dict[str, Any]:
        self._ensure_meta()
        if self.bucket_key != "id":
            # The is-new-wins window and the unique check see only the
            # touched buckets: an id staged under another key value than
            # its stored row's would be kept twice.
            raise ValueError(
                f"insert_item/upsert_item need an id-keyed index; this one "
                f"is keyed by {self.bucket_key!r} (use merge_batch with "
                "fresh ids)"
            )
        vec = [float(x) for x in item["vector"]]
        if self._resolved_dim() is None:
            self.vector_dim = len(vec)  # first vector defines the index dim
        if self.vector_dim is not None and len(vec) != self.vector_dim:
            # Ingest-time dimension check — improvement over the reference,
            # whose dimension is implicit and unchecked (SURVEY.md §1.2).
            raise ValueError(
                f"vector dim {len(vec)} != index dim {self.vector_dim}"
            )
        # A1: norm precomputed at write time (``local_index.py:209``).
        norm = self._norm(vec)
        if norm == 0.0:
            # Every cosine against it would divide by zero (Pinecone
            # rejects all-zero dense vectors for cosine too).
            raise ValueError("vector norm is 0 (all zeros): cosine is undefined")
        row = {
            "id": str(item.get("id") or uuid.uuid4()),
            "vector": vec,
            "norm": norm,
            "metadata": {
                str(k): str(v) for k, v in (item.get("metadata") or {}).items()
            },
        }
        md = item.get("metadata") or {}
        for name in self.indexed_fields:
            row[name] = md.get(name, item.get(name))
        return row

    def insert_item(self, item: Mapping[str, Any]) -> str:
        """D1: stage an insert; duplicate ids rejected at commit. Only on
        an ``id``-keyed index (``ValueError`` otherwise)."""
        row = self._stage(item)
        self._pending.append({**row, "_op": "insert"})
        return row["id"]

    def upsert_item(self, item: Mapping[str, Any]) -> str:
        """D2: stage an upsert; replaces an existing id at commit. Only on
        an ``id``-keyed index (``ValueError`` otherwise)."""
        row = self._stage(item)
        self._pending.append({**row, "_op": "upsert"})
        return row["id"]

    def delete_item(self, item_id: str) -> None:
        """D3: stage a delete."""
        self._pending_deletes.append(item_id)

    def cancel_update(self) -> None:
        """D4: discard staged mutations (reference ``cancel_update``)."""
        self._pending.clear()
        self._pending_deletes.clear()

    def _merge(
        self,
        staged: DataFrame | None,
        *,
        staged_buckets: set[int] = frozenset(),
        n_staged: int = 0,
        delete_keys: Sequence[Any] | None = None,
        key_col: str | None = None,
        delete_cond: Column | None = None,
        delete_scope: str = "existing",
        check_insert_ids: set[str] | None = None,
        delta: Callable[[_Snapshot], _Snapshot] | None = None,
    ) -> None:
        """Partition-scoped MERGE — the engine behind every mutation.

        Plain-Parquet MERGE equivalent of a Delta ``MERGE INTO``: read
        ONLY the touched buckets (``PartitionFilters`` prunes the rest);
        window-dedup ``row_number() over (partition by id order by
        is_new desc) = 1`` (SURVEY.md §2.8 D2); rewrite ONLY those
        directories (dynamic partition overwrite). Untouched bucket
        files are never opened for read or write, so commit cost is
        O(touched data), not O(table).

        ``staged`` (``n_staged`` rows) is already materialized (driver
        rows or a checkpoint) and the caller has found its
        ``staged_buckets``. The other touched buckets come from:
        - ``delete_keys``, values of ``key_col`` (default: the bucket
          key) whose rows are deleted: from the keys themselves when
          ``key_col`` is the bucket key, else from a column-pruned scan;
        - ``delete_cond``, an arbitrary delete predicate: from a
          column-pruned scan of the rows it matches.

        ``delete_scope``: ``"existing"`` deletes only pre-existing rows
        (document re-ingest: old chunks match the same ``document_id`` as
        the fresh ones); ``"merged"`` applies the delete after the merge
        (driver ``commit()``: a delete staged alongside an upsert of the
        same id wins).

        ``delta`` maps a loaded serving snapshot to the table the write
        leaves; it runs only after the write succeeded, and only while a
        snapshot is loaded.

        Logs one record under ``vectra_py_spark.index`` per merge that
        writes: the touched buckets, how they were found (``keys`` or a
        table ``scan``), the staged row count, the number of deleted keys
        and the first ``LOG_KEYS`` of them (or the delete predicate) and
        the buckets the merge emptied.
        """
        self._ensure_meta()  # the pinned bucket key decides keys vs scan
        key_col = key_col or self.bucket_key
        by_key = bool(delete_keys) and key_col == self.bucket_key
        if delete_keys:
            delete_cond = F.col(key_col).isin(*delete_keys)
        touched = set(staged_buckets)
        if by_key:
            touched |= self._key_buckets(delete_keys)
        raw = self._raw_items()
        scanned = delete_cond is not None and not by_key
        if scanned:
            # Column-pruned full scan over the predicate's columns only;
            # returns ≤ n_buckets ints.
            touched |= {
                int(r[0])
                for r in raw.filter(delete_cond)
                .select(BUCKET_COL)
                .distinct()
                .collect()
            }
        if not touched:
            return  # nothing staged, delete matched nothing
        existing = raw.filter(F.col(BUCKET_COL).isin(*touched))
        if delete_cond is not None and delete_scope == "existing":
            # keep rows where the predicate is not TRUE (null-safe: a null
            # predicate must not delete the row)
            existing = existing.filter(~F.coalesce(delete_cond, F.lit(False)))
        if staged is not None:
            # The unique-insert check rides the merge's own is-new-wins
            # window: it already sees every (existing, staged) id group,
            # so the clash flag is one more aggregate over it (count of
            # existing rows per id), checked on the CHECKPOINTED output
            # below before anything is written — one bucket scan, not two.
            w_id = Window.partitionBy("id")
            clash_col = (
                (F.sum(F.lit(1) - F.col("_new")).over(w_id) >= 1)
                & F.col("id").isin(*check_insert_ids)
                if check_insert_ids
                else F.lit(False)
            )
            staged = staged.withColumn(BUCKET_COL, self._bucket_expr())
            merged = (
                existing.withColumn("_new", F.lit(0))
                .unionByName(staged.withColumn("_new", F.lit(1)))
                .withColumn(
                    "_rn",
                    F.row_number().over(w_id.orderBy(F.desc("_new"))),
                )
                .withColumn("_clash", clash_col)
                .filter(F.col("_rn") == 1)
                .drop("_new", "_rn")
            )
        else:
            merged = existing.withColumn("_clash", F.lit(False))
        if delete_cond is not None and delete_scope == "merged":
            merged = merged.filter(~F.coalesce(delete_cond, F.lit(False)))

        # Materialize before overwriting our own input partitions; bounded
        # by the touched buckets. Spark's output committer gives per-job
        # atomicity; dynamic mode replaces only directories present in the
        # output.
        out = merged.localCheckpoint(eager=True)
        if check_insert_ids:
            # post-checkpoint filter over materialized candidate rows —
            # cheap, and nothing has been written yet
            if out.filter(F.col("_clash")).limit(1).count():
                raise ValueError("insert_item: id already exists (unique=True)")
        out = out.drop("_clash")
        # a write that fails part-way must not leave a stale snapshot
        snap, self._snap = self._snap, None
        (
            out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(BUCKET_COL)
            .parquet(self.path)
        )
        # Dynamic overwrite can't emit an EMPTY partition: a bucket whose
        # rows were all deleted produces no output directory, leaving the
        # stale one behind — remove it explicitly. A bucket that received
        # staged rows cannot empty unless the delete applies after the
        # merge (every staged row survives the is-new-wins window), so
        # the kept-bucket job runs only when some other bucket could
        # have: never on pure inserts/upserts, nor on a re-ingest whose
        # replaced documents all got new chunks.
        emptied: set[int] = set()
        may_empty = touched if delete_scope == "merged" else touched - staged_buckets
        if delete_cond is not None and may_empty:
            kept = {
                int(r[0])
                for r in out.select(BUCKET_COL).distinct().collect()
            }
            emptied = may_empty - kept
            for bucket in emptied:
                self._delete_bucket_dir(bucket)
        if emptied:
            # the write refreshed Spark's caches of this path before
            # these deletes; a cached read elsewhere (another handle's
            # items(), or a fresh read that reuses its cache) would
            # still list the deleted files
            self.spark.catalog.refreshByPath(self.path)
        self._invalidate()
        if snap is not None:
            self._advance(snap, delta)
        log.info(
            "merge %(path)s: buckets %(buckets)s found by %(found)s, "
            "%(staged)d staged rows, %(n_keys)d delete keys, deleted "
            "%(deleted)s, emptied %(emptied)s",
            {
                "path": self.path,
                "buckets": sorted(touched),
                "found": "scan" if scanned else "keys",
                "staged": n_staged,
                "n_keys": len(delete_keys or ()),
                "deleted": list(delete_keys)[:LOG_KEYS] if delete_keys else (
                    None if delete_cond is None else str(delete_cond)
                ),
                "emptied": sorted(emptied),
            },
        )

    def commit(self) -> None:
        """D4/S4: apply staged mutations in one partition-scoped MERGE.

        The staged rows enter Spark as a local relation, and their
        buckets (and, on an ``id``-keyed index, the deleted ids'
        buckets) come from their keys — no scan finds them.

        Concurrency caveat: plain parquet has no transaction log, so
        this MERGE assumes a SINGLE writer per index (readers are fine —
        untouched bucket files are never rewritten). Two concurrent
        commits can interleave bucket overwrites and lose one side's
        rows. For multi-writer deployments put the same bucket layout on
        Delta/Iceberg and route this merge through its MERGE INTO.
        """
        if not self._pending and not self._pending_deletes:
            return
        self._ensure_meta()  # stage and delete under the pinned bucket key
        staged = added = None
        check_ids = {r["id"] for r in self._pending if r["_op"] == "insert"}
        if self._pending:
            added = pa.Table.from_pylist(self._pending, schema=to_arrow_schema(self._schema()))
            staged = local_frame(self.spark, added, self._schema())
        ids, deleted = [r["id"] for r in self._pending], list(self._pending_deletes)

        def delta(snap: _Snapshot) -> _Snapshot:
            # delete_scope="merged": a staged row replaces every stored
            # row of its id, then the deletes apply to both
            if len(set(ids)) < len(ids):
                raise NotExact("a commit that staged one id twice (either row may win)")
            kept = snap.take(~snap.keys_in("id", ids + deleted))
            if added is None:
                return kept
            new = self._staged_snapshot(added, snap)
            return kept.concat(new.take(~new.keys_in("id", deleted)))

        self._merge(
            staged,
            staged_buckets=self._key_buckets([r[self.bucket_key] for r in self._pending]),
            n_staged=len(self._pending),
            delete_keys=deleted,
            key_col="id",
            delete_scope="merged",
            check_insert_ids=check_ids or None,
            delta=delta,
        )
        self.cancel_update()

    def delete_where(self, cond: Column) -> None:
        """Predicate delete: a column-pruned scan finds the buckets holding
        matching rows, and only those are rewritten. Drops the serving
        snapshot (a ``Column`` predicate has no driver twin)."""
        self._drop_snapshot("delete_where")
        self._merge(None, delete_cond=cond)

    def _keys_delta(
        self,
        keys: Sequence[Any] | None,
        key_col: str | None,
        staged: DataFrame | None = None,
        n_staged: int = 0,
    ) -> Callable[[_Snapshot], _Snapshot]:
        """The ``delete_scope="existing"`` delta of a delete by key values,
        plus an optional staged batch (``n_staged`` rows) that replaces
        its ids' stored rows."""
        key_col = key_col or self.bucket_key

        def delta(snap: _Snapshot) -> _Snapshot:
            keep = ~snap.keys_in(key_col, keys or [])
            if staged is None:
                return snap.take(keep)
            grown = snap.nbytes() + n_staged * ((self.vector_dim or 0) * 8 + 24)
            if grown > self._budget():  # never collect a batch that cannot fit
                raise NotExact(f"a batch of {n_staged} rows, over the broadcast budget")
            # the batch as written, norms included: collected only here,
            # while a snapshot is loaded
            new = self._staged_snapshot(staged.toArrow(), snap)
            taken = keep & snap.keys_in("id", new.ids.tolist())
            if self.bucket_key != "id" and taken.any():
                # the table dedups ids within a bucket only: a stored row
                # under another key value may stay beside the staged one
                staged_key = dict(zip(new.ids.tolist(), new.table.column(self.bucket_key).to_pylist()))
                stored = snap.table.column(self.bucket_key).filter(pa.array(taken)).to_pylist()
                if any(staged_key[i] != k for i, k in zip(snap.ids[taken].tolist(), stored)):
                    raise NotExact(f"a staged id stored under another {self.bucket_key!r}")
            return snap.take(keep & ~taken).concat(new)

        return delta

    def delete_by_keys(self, keys: Sequence[Any], key_col: str | None = None) -> None:
        """Delete every row whose ``key_col`` (default: the bucket key) is
        in ``keys`` (e.g. all chunks of a document). On the bucket key
        the buckets come from the keys, with no table scan."""
        keys = list(keys)
        self._merge(None, delete_keys=keys, key_col=key_col, delta=self._keys_delta(keys, key_col))

    def merge_batch(
        self,
        df: DataFrame,
        delete_keys: Sequence[Any] | None = None,
        key_col: str | None = None,
    ) -> None:
        """Bulk upsert a DataFrame of items — the distributed twin of
        ``upsert_item``+``commit`` for batches too large to stage on the
        driver, and the sink for streaming ingest
        (:func:`vectra_py_spark.streaming.ingest.stream_upsert` calls
        this per micro-batch).

        ``df`` needs ``id`` and ``vector``; ``norm`` is (re)computed,
        missing schema columns null-fill. Duplicate ids within the
        batch are rejected (which row should win is undefined), as are
        vectors of the wrong dimension or of norm 0 — same ingest-time
        checks as the row-at-a-time path. ``delete_keys`` additionally
        deletes the PRE-EXISTING rows whose ``key_col`` (default: the
        bucket key) is among them, in the same merge (document re-ingest
        drops the replaced doc's old chunks this way).

        On an index not keyed by ``id``, an id already in the table must
        keep its key value: the batch's rows are deduplicated only
        against the buckets it touches. Fresh ids (the document index's
        ``uuid()`` chunk ids) always hold.
        """
        staged = df.withColumn("vector", F.col("vector").cast("array<double>"))
        staged = staged.withColumn("norm", l2_norm(F.col("vector")))
        for f in self._schema().fields:
            if f.name not in staged.columns:
                staged = staged.withColumn(f.name, F.lit(None).cast(f.dataType))
        staged = staged.select(*[f.name for f in self._schema().fields])
        # Checkpoint BEFORE the validation jobs: the upstream pipeline
        # (possibly split+embed with uuid() ids) runs once, and the dup
        # check sees the same ids the merge will write.
        staged = staged.localCheckpoint(eager=True)
        # ONE aggregate answers every validation over the checkpointed
        # batch and finds its buckets: duplicates exist iff count !=
        # distinct ids; the batch is dimension-uniform iff min==max of
        # size(vector), which is exactly "adopt the first row's dim,
        # then require every row to match it".
        stats = staged.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("id").alias("n_ids"),
            F.min(F.size("vector")).alias("d_min"),
            F.max(F.size("vector")).alias("d_max"),
            F.min("norm").alias("norm_min"),
            F.collect_set(self._bucket_expr()).alias("buckets"),
        ).head()
        if int(stats["n"] or 0):
            if int(stats["n"]) != int(stats["n_ids"]):
                raise ValueError("merge_batch: duplicate id within batch")
            dim = self._resolved_dim()
            if stats["d_min"] is not None:  # min/max skip null vectors,
                # matching the old per-row filter's null semantics
                if dim is None:
                    self.vector_dim = dim = int(stats["d_min"])
                if int(stats["d_min"]) != dim or int(stats["d_max"]) != dim:
                    raise ValueError(
                        f"merge_batch: vector dimension != index dim {dim}"
                    )
            if stats["norm_min"] == 0.0:
                raise ValueError("merge_batch: vector norm is 0 (all zeros): cosine is undefined")
        self._merge(
            staged,
            staged_buckets=set(stats["buckets"]),
            n_staged=int(stats["n"]),
            delete_keys=delete_keys,
            key_col=key_col,
            delta=self._keys_delta(delete_keys, key_col, staged, int(stats["n"])),
        )

    # -- reads (P12-P14, A2) ---------------------------------------------
    def get_item(self, item_id: str) -> DataFrame:
        """P13: point lookup by id."""
        return self.items().filter(F.col("id") == F.lit(item_id)).limit(1)

    def list_items(self) -> DataFrame:
        """P14: all items."""
        return self.items()

    def list_items_by_metadata(self, filter_ast: Mapping[str, Any]) -> DataFrame:
        """P12: full filter scan, no ranking."""
        df = self.items()
        return df.filter(compile_filter(filter_ast, _metadata_resolver(df)))

    def get_index_stats(self) -> dict[str, Any]:
        """A2: ``{version, metadata_config, items}`` analog."""
        return {
            "version": 1,
            "metadata_config": {"indexed": sorted(self.indexed_fields)},
            "items": self.items().count(),
        }

    # -- query (V5, §3.1) -------------------------------------------------
    def query_items(
        self,
        vector: Sequence[float],
        top_k: int,
        filter_ast: Mapping[str, Any] | None = None,
        score_decimals: int | None = None,
    ) -> DataFrame:
        """V5: filter → cosine score → top-k, ties broken by id (the
        reference's sort is unstable on ties). A query vector whose
        dimension is not the index's raises ``ValueError``.

        While the live vectors fit the broadcast budget
        (``vectra_py_spark.similarity.broadcastBytes``), the query runs
        on a driver snapshot of the table, loaded on the first call and
        kept current by this object's writes: the filter compiles to a
        numpy mask, the dot product accumulates column by column in
        Spark's order, and the top-k rows come back as a local relation
        (``LocalTableScan``: collecting it runs no job) with the Spark
        plan's schema and bit-identical scores. The rows' order is rank
        order.

        The Spark plan answers instead when the table is over the
        budget, a filter leaf is not on a BIGINT/INT/STRING indexed
        column (or ``id``) with a literal of its kind, ``score_decimals``
        is set, or a candidate row has norm 0 or scores NaN. Each such
        query logs its reason at DEBUG under ``vectra_py_spark.index``.
        Its physical plan (verify with ``.explain``): Parquet scan with
        pushed filter → HOF cosine projection (interpreted: ``ZipWith``
        and its lambda variables are ``CodegenFallback``) →
        ``TakeOrderedAndProject(k)``. The query vector + its norm are
        plan literals (computed once, ``local_index.py:135``).
        """
        q = self._query_vector(vector)
        try:
            if score_decimals is not None:
                raise NotExact("score_decimals rounds in Spark (HALF_UP on decimals)")
            rows = self._snapshot_rows(q, top_k, filter_ast)
            return local_frame(self.spark, rows, self._snapshot_schema(q))
        except NotExact as e:
            log.debug("query_items on %s runs the Spark plan: %s", self.path, e)
        return self._spark_topk(q, top_k, filter_ast, score_decimals)

    def _query_vector(self, vector: Sequence[float]) -> list[float]:
        """The query as floats; ``ValueError`` unless its dimension is
        the index's."""
        q = [float(x) for x in vector]
        dim = self._resolved_dim()
        if dim is not None and len(q) != dim:
            raise ValueError(f"query vector dim {len(q)} != index dim {dim}")
        return q

    def _snapshot_rows(
        self, q: list[float], top_k: int, filter_ast: Mapping[str, Any] | None
    ) -> pa.Table:
        """The top-k rows of the serving snapshot with their ``score``,
        in rank order, bit for bit the Spark plan's. Raises
        :class:`NotExact` where the snapshot cannot promise that."""
        snap = self._serving_snapshot()
        rows = None
        if filter_ast:
            rows = np.flatnonzero(compile_mask(filter_ast, snap.columns, snap.n))
        if isinstance(top_k, bool) or not isinstance(top_k, int) or top_k < 0:
            raise NotExact(f"top_k {top_k!r}")
        score = snap.scores(q, rows)
        pick = _rank(score, snap.ids if rows is None else snap.ids[rows], top_k)
        out = snap.table.take(pick if rows is None else rows[pick])
        return out.append_column("score", pa.array(score[pick], pa.float64()))

    def _snapshot_schema(self, q: list[float]) -> T.StructType:
        """The Spark plan's schema of :meth:`_snapshot_rows` (a loaded
        snapshot's), nullability included."""
        nullable = query_norm(q) != 0.0  # a zero query scores the literal 0.0
        return T.StructType(
            self._snap.schema.fields + [T.StructField("score", T.DoubleType(), nullable)]
        )

    def _spark_topk(
        self,
        q: list[float],
        top_k: int,
        filter_ast: Mapping[str, Any] | None,
        score_decimals: int | None = None,
    ) -> DataFrame:
        df = self.items()
        if filter_ast:
            df = df.filter(compile_filter(filter_ast, _metadata_resolver(df)))
        score = cosine_to_query("vector", q, norm_col="norm")
        if score_decimals is not None:
            score = F.round(score, score_decimals)
        return (
            df.withColumn("score", score)
            .orderBy(F.desc("score"), F.asc("id"))
            .limit(top_k)
        )


def with_norm(df: DataFrame, vector_col: str = "vector") -> DataFrame:
    """A1 helper: attach the precomputed L2 norm at write time."""
    return df.withColumn("norm", l2_norm(F.col(vector_col)))
