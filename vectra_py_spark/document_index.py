"""SparkDocumentIndex — the document-RAG layer as two Parquet tables.

Re-expresses the reference's ``LocalDocumentIndex``
(``/root/reference/src/vectra_py/local_document_index.py``) — a
``catalog.json`` + per-document ``.txt``/``.json`` side files + a chunk
vector index — as:

- a ``documents`` table ``(document_id, uri, doc_type, text, metadata)``
  (catalog S7/S8 + text/metadata side files S9/S10 collapse into
  columns; uri↔id maps become lookups, V6)
- the chunk items table owned by :class:`~vectra_py_spark.index.SparkVectorIndex`
  with ``document_id/start_pos/end_pos`` as typed indexed columns
  (chunk metadata, ``custom_types.py:87-92``)

Ingest (D5, §3.2) is one pipeline per upsert batch (a dozen-odd small
Spark jobs: checkpoints, the catalog rewrite and the items MERGE):
documents → splitter ``mapInPandas`` (T1–T4) → embedding ``mapInPandas``
(E1/E3, token-budget batched A6) → norm (A1) → partition-scoped MERGE
into items. The chunks a batch replaces are found by document id: while
the catalog snapshot (below) is loaded and a size aggregate over the
batch's checkpoint shows its ``(document_id, uri, text)`` rows fit
beside both snapshots in the budget, those rows are collected, their
uris give the replaced ids and the rows keep the snapshot current, with
no probe of the documents table; otherwise the catalog is dropped and
a left-semi probe finds them.

Query (D7, §3.3): embed the query driver-side (E5) → V5 top-k chunks →
group by document (A4) → mean score (A5) → look up uri and text (V6) →
top documents (O2). While the chunk table's serving snapshot and a
catalog snapshot (``document_id → (uri, text)``, ``uri → document_id``)
together fit ``vectra_py_spark.similarity.broadcastBytes``, every step
runs on the driver: ``render_document_sections`` starts no Spark job
and ``query_documents`` hands back one local relation. Otherwise the
Spark plan answers: the top-k through ``coalesce(1)`` → ``groupBy`` →
``orderBy``/``limit`` → a semi-join and a broadcast join against the
documents table. Both give the same rows, bit for bit. Rendering
(D8/W1–W6) is driver-side either way.

Scale: the chunk table is bucketed by ``document_id`` hash, so all
chunks of one document, old and new, share one bucket: a re-ingest of k
documents by ``upsert_documents_df`` (stable ids) rewrites at most k
buckets, 2k on the list path (its new ids land elsewhere). The
documents table is one unpartitioned Parquet directory. Split/embed are
narrow maps; the Spark query plan's only wide op is the
``groupBy(document_id)`` over ≤ max_chunks rows (post-limit, trivial).
"""

from __future__ import annotations

import logging
import time
import uuid
from collections.abc import Callable, Mapping, Sequence
from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vectra_py_spark.embeddings import DeterministicEmbedder, embed_chunks, scrub_newlines
from vectra_py_spark.filters import NotExact
from vectra_py_spark.index import SparkVectorIndex
from vectra_py_spark.operators.similarity import broadcast_budget
from vectra_py_spark.render import RenderedSection, ScoredChunk, render_sections
from vectra_py_spark.session import local_frame
from vectra_py_spark.text.splitter import split_documents
from vectra_py_spark.text.tokenizers import get_tokenizer

__all__ = ["SparkDocumentIndex", "DOCUMENT_SCHEMA", "infer_doc_type"]

log = logging.getLogger(__name__)

_CHUNK_FIELDS = ("start_pos", "end_pos", "score", "id")  # O3: a chunk's sort key, in order

DOCUMENT_SCHEMA = T.StructType(
    [
        T.StructField("document_id", T.StringType(), False),
        T.StructField("uri", T.StringType(), False),
        T.StructField("doc_type", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("metadata", T.MapType(T.StringType(), T.StringType()), True),
    ]
)


def infer_doc_type(uri: str, explicit: str | None = None) -> str | None:
    """T8: explicit arg → URI extension after the last '.'
    (``local_document_index.py:143-152``)."""
    if explicit:
        return explicit.lower()
    if "." in uri.rsplit("/", 1)[-1]:
        return uri.rsplit(".", 1)[-1].lower() or None
    return None


def _utf8(s: str | None) -> int:
    return len(s.encode()) if s is not None else 0


def _over_budget(size: int, chunk_bytes: int, budget: int) -> str:
    return f"{size} bytes beside {chunk_bytes} chunk bytes, over the broadcast budget of {budget}"


def _row_bytes():
    """The Spark twin of ``_utf8`` summed over one catalog row."""
    return sum(
        (F.coalesce(F.octet_length(c), F.lit(0)) for c in ("document_id", "uri", "text")),
        F.lit(0),
    )


class _Catalog:
    """A driver copy of the documents table's lookups: ``by_id`` maps
    ``document_id → (uri, text)``, ``by_uri`` maps ``uri → document_id``.
    ``nbytes`` counts the UTF-8 bytes of every id, uri and text. Uris and
    ids are unique and never null; where a table or a write breaks that,
    :class:`NotExact` says so and the snapshot is not kept."""

    def __init__(self) -> None:
        self.by_id: dict[str, tuple[str, str | None]] = {}
        self.by_uri: dict[str, str] = {}
        self.nbytes = 0

    def add(self, table: pa.Table) -> None:
        """Add ``(document_id, uri, text)`` rows whose uris are not in
        the catalog."""
        cols = (table.column(c).to_pylist() for c in ("document_id", "uri", "text"))
        for doc_id, uri, text in zip(*cols):
            if doc_id is None or uri is None:
                raise NotExact("a document with a null document_id or uri")
            if uri in self.by_uri:
                raise NotExact(f"uri {uri!r} appears twice")
            if doc_id in self.by_id:
                raise NotExact(f"document_id {doc_id!r} appears twice")
            self.by_id[doc_id], self.by_uri[uri] = (uri, text), doc_id
            self.nbytes += _utf8(doc_id) + _utf8(uri) + _utf8(text)

    def replace(self, table: pa.Table) -> None:
        """Rows replace the rows of their uris, as the documents MERGE
        does."""
        self.remove(table.column("uri").to_pylist())
        self.add(table)

    def remove(self, uris: Sequence[str]) -> None:
        for uri in uris:
            doc_id = self.by_uri.pop(uri, None)
            if doc_id is not None:
                self.nbytes -= _utf8(doc_id) + _utf8(uri) + _utf8(self.by_id.pop(doc_id)[1])


class SparkDocumentIndex:
    def __init__(
        self,
        spark: SparkSession,
        base_path: str,
        embedder_factory=None,
        vector_dim: int = 64,
        chunk_size: int = 512,
        chunk_overlap: int = 0,
    ) -> None:
        self.spark = spark
        self.base_path = base_path
        self.docs_path = f"{base_path}/documents"
        self.vector_dim = vector_dim
        self.chunk_size = chunk_size
        self.chunk_overlap = chunk_overlap
        self.embedder_factory = embedder_factory or (
            lambda: DeterministicEmbedder(dim=vector_dim)
        )
        self.index = SparkVectorIndex(
            spark,
            f"{base_path}/items",
            vector_dim=vector_dim,
            indexed_fields={
                "document_id": T.StringType(),
                "start_pos": T.LongType(),
                "end_pos": T.LongType(),
            },
            bucket_key="document_id",
        )
        self._catalog: _Catalog | None = None
        self._catalog_refused: str | None = None  # why none loads until the next write

    # -- lifecycle --------------------------------------------------------
    def create(self, overwrite: bool = False) -> None:
        mode = "overwrite" if overwrite else "errorifexists"
        self._drop_catalog("create")
        local_frame(self.spark, [], DOCUMENT_SCHEMA).write.mode(mode).parquet(self.docs_path)
        self.index.create(overwrite=overwrite)

    def documents(self) -> DataFrame:
        return self.spark.read.schema(DOCUMENT_SCHEMA).parquet(self.docs_path)

    # -- catalog snapshot ---------------------------------------------------
    def _catalog_snapshot(self, chunk_bytes: int) -> _Catalog:
        """The loaded catalog snapshot while it still fits beside the
        ``chunk_bytes`` of the chunk snapshot in the broadcast budget,
        else load it: one size aggregate (id, uri and text bytes) against
        what the budget leaves beside the chunks, then one ``toArrow()``
        of ``(document_id, uri, text)``. Raises :class:`NotExact` when it
        is over the budget or a uri or id repeats; that answer stands
        until the next write."""
        budget = broadcast_budget(self.spark)
        if self._catalog is not None:
            if chunk_bytes + self._catalog.nbytes <= budget:
                return self._catalog
            # the chunk snapshot grew, or the budget shrank, since the load
            self._catalog_refused = _over_budget(self._catalog.nbytes, chunk_bytes, budget)
            self._catalog = None
            log.info("catalog of %s dropped by %s", self.base_path, self._catalog_refused)
            raise NotExact(self._catalog_refused)
        if self._catalog_refused is not None:
            raise NotExact(self._catalog_refused)
        t0 = time.perf_counter()
        docs = self.documents()
        size = docs.agg(F.sum(_row_bytes())).head()[0] or 0
        try:
            if chunk_bytes + size > budget:
                raise NotExact(_over_budget(size, chunk_bytes, budget))
            cat = _Catalog()
            cat.add(docs.select("document_id", "uri", "text").toArrow())
        except NotExact as e:
            self._catalog_refused = str(e)
            log.info("catalog of %s refused: %s", self.base_path, e)
            raise
        self._catalog = cat
        log.info(
            "catalog of %s loaded: %d documents, %d bytes in %.0f ms",
            self.base_path, len(cat.by_id), cat.nbytes, (time.perf_counter() - t0) * 1e3,
        )
        return cat

    def _drop_catalog(self, by: str) -> None:
        self._catalog_refused = None  # the table changes: retry the load after it
        if self._catalog is not None:
            self._catalog = None
            log.info("catalog of %s dropped by %s", self.base_path, by)

    def _chunk_bytes(self) -> int:
        """The bytes of the chunk table's serving snapshot, 0 unloaded."""
        snap = self.index._snap
        return snap.nbytes() if snap is not None else 0

    def _hold_catalog(self) -> _Catalog | None:
        """Take the catalog snapshot aside for a write, which must not
        leave it stale if it fails part-way; a refusal is retried after
        the write."""
        cat, self._catalog, self._catalog_refused = self._catalog, None, None
        return cat

    def _advance_catalog(self, cat: _Catalog, delta: Callable[[_Catalog], None]) -> None:
        """Apply a successful write's delta to the catalog snapshot it was
        taken from; drop it when the delta is not exact or leaves both
        snapshots over the budget."""
        try:
            delta(cat)
            total = cat.nbytes + self._chunk_bytes()
            if total > broadcast_budget(self.spark):
                raise NotExact(f"growing to {total} bytes with the chunks, over the broadcast budget")
        except NotExact as e:
            log.info("catalog of %s dropped by %s", self.base_path, e)
            return
        self._catalog = cat

    # -- V6: uri↔id lookups ----------------------------------------------
    def get_document_id(self, uri: str) -> str | None:
        """From the catalog snapshot while it is loaded (no job)."""
        if self._catalog is not None:
            return self._catalog.by_uri.get(uri)
        rows = (
            self.documents()
            .filter(F.col("uri") == F.lit(uri))
            .select("document_id")
            .limit(1)
            .collect()
        )
        return rows[0].document_id if rows else None

    def get_document_uri(self, document_id: str) -> str | None:
        """From the catalog snapshot while it is loaded (no job)."""
        if self._catalog is not None:
            hit = self._catalog.by_id.get(document_id)
            return hit[0] if hit else None
        rows = (
            self.documents()
            .filter(F.col("document_id") == F.lit(document_id))
            .select("uri")
            .limit(1)
            .collect()
        )
        return rows[0].uri if rows else None

    # -- D5: ingest -------------------------------------------------------
    def upsert_documents(self, docs: list[Mapping[str, Any]]) -> list[str]:
        """Batch ingest: split → embed → norm → MERGE into the chunk table.

        Each doc: ``{uri, text, doc_type?, metadata?, document_id?}``.
        Re-upserting a known uri replaces its document row and chunks
        (the reference deletes-then-inserts,
        ``local_document_index.py:137-141``). A call that names one uri,
        or one explicit ``document_id``, twice raises ``ValueError``
        before anything is written: only one row per uri can stay in the
        catalog, and the other's chunks would be orphaned.
        """
        for key, values in (
            ("uri", [d["uri"] for d in docs]),
            ("document_id", [str(d["document_id"]) for d in docs if d.get("document_id")]),
        ):
            if len(set(values)) < len(values):
                dup = next(v for i, v in enumerate(values) if v in values[:i])
                raise ValueError(f"upsert_documents: {key} {dup!r} appears twice in one batch")
        rows = []
        ids = []
        for d in docs:
            doc_id = str(d.get("document_id") or uuid.uuid4())
            ids.append(doc_id)
            rows.append(
                {
                    "document_id": doc_id,
                    "uri": d["uri"],
                    "doc_type": infer_doc_type(d["uri"], d.get("doc_type")),
                    "text": d.get("text"),
                    "metadata": {
                        str(k): str(v) for k, v in (d.get("metadata") or {}).items()
                    },
                }
            )
        self._ingest_staged(local_frame(self.spark, rows, DOCUMENT_SCHEMA))
        return ids

    def upsert_documents_df(
        self,
        docs_df: DataFrame,
        uri_col: str = "uri",
        text_col: str = "text",
        doc_type_col: str | None = None,
        metadata_cols: tuple[str, ...] = (),
    ) -> None:
        """Corpus-scale D5: the exact split → embed → partition-scoped
        MERGE pipeline of :meth:`upsert_documents`, staged straight
        from a DataFrame — a JSONL/CSV dump read by
        ``sources/textcorpus.py`` (or any corpus table) flows in without
        the batch round-tripping the driver, except where the catalog
        snapshot keeps it (below).

        ``document_id = md5(uri)``: deterministic, so re-ingesting a
        corpus REPLACES documents in place instead of duplicating them
        (the per-row ``uuid4`` of the list path would make bulk ingest
        non-idempotent). ``doc_type`` comes from ``doc_type_col`` when
        given, else from the uri extension (same T8 inference as the
        driver-side path, as a codegen'd expression).
        ``metadata_cols`` are folded into the string-map metadata.

        Batch hygiene: a NULL uri raises, as a missing uri does on the
        list path (silently ingesting an unaddressable document would
        orphan its chunks forever); duplicate uris within the batch keep
        ONE deterministic winner (smallest text — a dump that repeats a
        uri is re-crawl churn, and replace-by-uri means exactly one row
        per uri may land), where the list path raises instead; an
        empty/blank explicit doc_type falls back to extension inference
        like ``infer_doc_type``.

        Scale note: replace-by-uri deletion materializes the replaced
        ids driver-side — O(re-ingested docs that already exist), zero
        on a fresh corpus load. While the catalog snapshot is loaded,
        one size aggregate over the batch comes first: if the batch's
        ``(document_id, uri, text)`` fits beside both snapshots in the
        broadcast budget it is collected to keep the catalog current,
        else the catalog is dropped (logged) and a left-semi probe finds
        the replaced ids. For a full-corpus RE-ingest,
        recreate the index instead (strictly cheaper than merging 100%
        churn).
        """
        u = F.col(uri_col).cast("string")
        if docs_df.filter(u.isNull()).limit(1).count():
            raise ValueError(
                "upsert_documents_df: NULL uri in batch (an unaddressable "
                "document can never be looked up or replaced) — filter or "
                "fix upstream"
            )
        fname = F.element_at(F.split(u, "/"), -1)
        inferred = F.when(
            fname.contains("."),
            F.nullif(
                F.lower(F.element_at(F.split(fname, r"\."), -1)), F.lit("")
            ),
        )
        doc_type = (
            F.coalesce(
                F.nullif(
                    F.lower(F.col(doc_type_col).cast("string")), F.lit("")
                ),
                inferred,
            )
            if doc_type_col
            else inferred
        )
        meta = (
            F.create_map(
                *[
                    x
                    for c in metadata_cols
                    for x in (F.lit(c), F.col(c).cast("string"))
                ]
            )
            if metadata_cols
            # empty map, not NULL — the list path always writes a map
            else F.create_map().cast("map<string,string>")
        )
        staged = (
            docs_df.select(
                F.md5(u).alias("document_id"),
                u.alias("uri"),
                doc_type.alias("doc_type"),
                F.col(text_col).cast("string").alias("text"),
                meta.alias("metadata"),
            )
            .withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy("uri").orderBy(
                        F.col("text").asc_nulls_last()
                    )
                ),
            )
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        self._ingest_staged(staged)

    def _ingest_staged(self, staged: DataFrame) -> None:
        """Shared tail of both ingest paths: replace-by-uri document
        MERGE, distributed chunk+embed, one partition-scoped items
        MERGE (reference delete-then-insert semantics,
        ``local_document_index.py:137-141``)."""
        # Pin the staged rows ONCE: the frame is consumed three times
        # (replaced-ids probe, documents merge, chunk/embed) — without
        # this a DataFrame-sourced batch re-scans its source each time
        # and a nondeterministic source could hand each consumer a
        # different row set (orphan chunks / chunkless documents).
        staged = staged.localCheckpoint(eager=True)
        cat = self._hold_catalog()
        existing = self.documents()
        if cat is not None:
            # never collect a batch that cannot fit beside both snapshots
            size = staged.agg(F.sum(_row_bytes())).head()[0] or 0
            chunk_bytes, budget = self._chunk_bytes(), broadcast_budget(self.spark)
            if cat.nbytes + size + chunk_bytes > budget:
                log.info(
                    "catalog of %s dropped by a staged batch of %d bytes: %s", self.base_path,
                    size, _over_budget(cat.nbytes + size, chunk_bytes, budget),
                )
                cat = None
        if cat is not None:
            # the batch as written, collected only while the catalog is
            # loaded and it fits: its uris give the replaced ids, with no
            # probe job
            added = staged.select("document_id", "uri", "text").toArrow()
            uris = added.column("uri").to_pylist()
            replaced_ids = [cat.by_uri[u] for u in uris if u in cat.by_uri]
        else:
            replaced_ids = [
                r.document_id
                for r in existing.join(
                    staged.select("uri"), "uri", "left_semi"
                ).select("document_id").collect()
            ]
        # replace-by-uri upsert of document rows (window MERGE)
        merged = (
            existing.withColumn("_new", F.lit(0))
            .unionByName(staged.withColumn("_new", F.lit(1)))
            .withColumn(
                "_rn",
                F.row_number().over(Window.partitionBy("uri").orderBy(F.desc("_new"))),
            )
            .filter(F.col("_rn") == 1)
            .drop("_new", "_rn")
            .localCheckpoint(eager=True)
        )
        merged.write.mode("overwrite").parquet(self.docs_path)

        # chunk + embed the staged docs (one distributed pipeline)
        chunks = split_documents(
            staged,
            id_col="document_id",
            text_col="text",
            doc_type_col="doc_type",
            chunk_size=self.chunk_size,
            chunk_overlap=self.chunk_overlap,
            keep_separators=True,
        )
        embedded = embed_chunks(
            chunks,
            text_col="text",
            n_tokens_col="n_tokens",
            provider_factory=self.embedder_factory,
            dim=self.vector_dim,
        )
        items = embedded.select(
            F.expr("uuid()").alias("id"),
            F.col("vector"),
            F.col("norm"),
            F.create_map(
                F.lit("document_id"), F.col("document_id"),
                F.lit("start_pos"), F.col("start_pos").cast("string"),
                F.lit("end_pos"), F.col("end_pos").cast("string"),
            ).alias("metadata"),
            F.col("document_id"),
            F.col("start_pos"),
            F.col("end_pos"),
        )

        # drop chunks of replaced docs + append new chunks in ONE
        # partition-scoped MERGE: only buckets holding the replaced docs'
        # old chunks or the fresh chunks are rewritten.
        self.index.merge_batch(items, delete_keys=replaced_ids, key_col="document_id")
        if cat is not None:
            self._advance_catalog(cat, lambda c: c.replace(added))

    def upsert_document(
        self,
        uri: str,
        text: str,
        doc_type: str | None = None,
        metadata: Mapping[str, Any] | None = None,
    ) -> str:
        return self.upsert_documents(
            [{"uri": uri, "text": text, "doc_type": doc_type, "metadata": metadata}]
        )[0]

    # -- D6: delete -------------------------------------------------------
    def delete_document(self, uri: str) -> None:
        """Drop the document row and the chunks of ``uri``. Its id comes
        from the catalog snapshot while that is loaded."""
        doc_id = self.get_document_id(uri)
        if doc_id is None:
            return
        cat = self._hold_catalog()
        remaining_docs = (
            self.documents().filter(F.col("uri") != F.lit(uri)).localCheckpoint(True)
        )
        remaining_docs.write.mode("overwrite").parquet(self.docs_path)
        # partition-scoped: only the bucket of this doc's chunks rewrites
        self.index.delete_by_keys([doc_id], key_col="document_id")
        if cat is not None:
            self._advance_catalog(cat, lambda c: c.remove([uri]))

    # -- A3: stats --------------------------------------------------------
    def get_catalog_stats(self) -> dict[str, Any]:
        return {
            "version": 1,
            "documents": self.documents().count(),
            "chunks": self.index.items().count(),
            "metadata_config": {"indexed": ["document_id", "start_pos", "end_pos"]},
        }

    # -- D7/§3.3: query ---------------------------------------------------
    def _query_vector(self, query_text: str) -> list[float]:
        provider = self.embedder_factory()
        qvec = provider.create_embeddings([scrub_newlines(query_text)])[0]  # E5
        return self.index._query_vector(qvec)

    def _driver_documents(
        self,
        q: list[float],
        max_documents: int,
        max_chunks: int,
        filter_ast: Mapping[str, Any] | None,
        caller: str,
    ) -> list[tuple] | None:
        """The rows of :meth:`_spark_documents`, computed on the driver
        from the two snapshots: ``(document_id, uri, doc_score, chunks,
        text)``, ``chunks`` a list of ``(start_pos, end_pos, score, id)``.
        None, with the reason logged at DEBUG, where the Spark plan must
        answer: a snapshot over the budget, a filter the mask compiler
        does not cover exactly, a norm-0 or NaN candidate."""
        try:
            if isinstance(max_documents, bool) or not isinstance(max_documents, int) or max_documents < 0:
                raise NotExact(f"max_documents {max_documents!r}")
            top = self.index._snapshot_rows(q, max_chunks, filter_ast)
            catalog = self._catalog_snapshot(self._chunk_bytes())
            # A4: group in rank order, the order Spark's one-partition avg sums in
            groups: dict[str, list[tuple]] = {}
            cols = (top.column(c).to_pylist() for c in ("document_id", *_CHUNK_FIELDS))
            for doc_id, *chunk in zip(*cols):
                groups.setdefault(doc_id, []).append(tuple(chunk))
            if None in groups or any(None in c[:2] for cs in groups.values() for c in cs):
                raise NotExact("a chunk with a null document_id or position")
        except NotExact as e:
            log.debug("%s on %s runs the Spark plan: %s", caller, self.base_path, e)
            return None
        scored = []
        for doc_id, chunks in groups.items():
            total = 0.0
            for c in chunks:
                total += c[2]
            scored.append((total / len(chunks), doc_id, chunks))  # A5
        scored.sort(key=lambda t: (-t[0], t[1]))  # O2
        out = []
        for doc_score, doc_id, chunks in scored[:max_documents]:
            uri, text = catalog.by_id.get(doc_id, (None, None))  # V6, a left join
            out.append((doc_id, uri, doc_score, sorted(chunks), text))  # O3: sort_array
        return out

    def _documents_schema(self, q: list[float]) -> T.StructType:
        """The schema of :meth:`_spark_documents`, nullability included."""
        top = self.index._snapshot_schema(q)
        return T.StructType([
            top["document_id"],
            T.StructField("uri", T.StringType(), True),
            T.StructField("doc_score", T.DoubleType(), True),
            T.StructField(
                "chunks", T.ArrayType(T.StructType([top[c] for c in _CHUNK_FIELDS]), False), False
            ),
            T.StructField("text", T.StringType(), True),
        ])

    def _spark_documents(
        self,
        q: list[float],
        max_documents: int,
        max_chunks: int,
        filter_ast: Mapping[str, Any] | None,
    ) -> DataFrame:
        # One partition, in rank order: ``avg`` then sums each document's
        # scores in the same order whether the top-k is the Spark plan's
        # (one partition already) or the snapshot's local relation.
        topk = self.index.query_items(q, max_chunks, filter_ast).coalesce(1)
        grouped = (
            topk.groupBy("document_id")  # A4
            .agg(
                F.avg("score").alias("doc_score"),  # A5
                F.sort_array(
                    F.collect_list(F.struct(*_CHUNK_FIELDS))
                ).alias("chunks"),  # O3: chunks in document order
            )
        )
        winners = (
            grouped.orderBy(F.desc("doc_score"), F.asc("document_id"))  # O2
            .limit(max_documents)
        )
        # hydrate AFTER the limit (S6): semi-join shrinks the
        # corpus-sized documents relation (which carries full text) to
        # the ≤max_documents winners before anything is broadcast —
        # never a forced broadcast of an unbounded relation
        docs = self.documents().select("document_id", "uri", "text")
        docs_small = docs.join(
            F.broadcast(winners.select("document_id")),
            "document_id",
            "left_semi",
        )
        return (
            winners.join(F.broadcast(docs_small), "document_id", "left")  # V6
            .select("document_id", "uri", "doc_score", "chunks", "text")
            .orderBy(F.desc("doc_score"), F.asc("document_id"))
        )

    def query_documents(
        self,
        query_text: str,
        max_documents: int = 10,
        max_chunks: int = 50,
        filter_ast: Mapping[str, Any] | None = None,
    ) -> DataFrame:
        """Returns (document_id, uri, doc_score, chunks ARRAY<STRUCT>,
        text), ordered by (doc_score DESC, document_id). While both
        snapshots fit the budget, one local relation computed on the
        driver (see the module docstring); else the Spark plan."""
        q = self._query_vector(query_text)
        rows = self._driver_documents(q, max_documents, max_chunks, filter_ast, "query_documents")
        if rows is None:
            return self._spark_documents(q, max_documents, max_chunks, filter_ast)
        return local_frame(
            self.spark,
            [
                {
                    "document_id": doc_id, "uri": uri, "doc_score": doc_score,
                    "chunks": [dict(zip(_CHUNK_FIELDS, c)) for c in chunks], "text": text,
                }
                for doc_id, uri, doc_score, chunks, text in rows
            ],
            self._documents_schema(q),
        )

    def query_documents_hybrid(
        self,
        query_text: str,
        max_documents: int = 10,
        k_each: int = 50,
        rrf_k: int = 60,
        filter_ast: Mapping[str, Any] | None = None,
    ) -> DataFrame:
        """Hybrid retrieval at the document-index surface: the dense
        arm is the vector index's chunk top-k; the lexical arm is BM25
        over chunk texts reconstructed as substrings of the document
        text (chunk payloads are never stored twice); the two top-k
        lists RRF-fuse per chunk (1/(rrf_k + rank)), and a document
        scores its BEST chunk's fused score (max-pooling — summing
        chunk contributions would reward chunk COUNT whenever k_each
        exceeds a document's retrieved chunks, drowning relevance).

        Returns (document_id, uri, doc_score, n_chunks) ordered by
        doc_score DESC, document_id.

        ``filter_ast`` applies to BOTH arms and evaluates against the
        CHUNK metadata surface (``document_id``/``start_pos``/
        ``end_pos`` — doc-level metadata lives in the documents table,
        the same split as the reference); an unknown field rejects
        every chunk per the P11 missing-field rule.

        Scale: both arms end in ``TakeOrderedAndProject`` top-k; the
        RRF windows and the document group-by run over ≤ 2·k_each
        candidate rows. The lexical arm here is the self-contained
        full-scan BM25 — a serving deployment probes the standing
        inverted index instead (``operators/ranking.bm25_probe``; see
        the ``hybrid_probe`` registry entry for that composition).
        """
        import re

        from vectra_py_spark.operators import ranking as rk

        qvec = self._query_vector(query_text)

        wa = Window.orderBy(F.desc("score"), F.asc("id"))
        dense = (
            self.index.query_items(qvec, k_each, filter_ast)
            .select("id", "document_id", F.row_number().over(wa).alias("ra"))
        )

        items = self.index.items()
        if filter_ast:
            from vectra_py_spark.filters import compile_filter
            from vectra_py_spark.index import _metadata_resolver

            items = items.filter(
                compile_filter(filter_ast, _metadata_resolver(items))
            )
        # chunk-text reconstruction is a corpus×corpus equi-join (all
        # chunks against all document texts) — no broadcast hint: AQE
        # picks broadcast at small scale and sort-merge at corpus
        # scale; forcing a broadcast of the unbounded documents
        # relation (with its full text column) would OOM at 100 TB
        docs = self.documents().select("document_id", "text")
        ctext = (
            items.select("id", "document_id", "start_pos", "end_pos")
            .join(docs, "document_id")
            .select(
                "id",
                "document_id",
                F.expr(
                    "substring(text, cast(start_pos AS int) + 1, "
                    "cast(end_pos - start_pos AS int) + 1)"
                ).alias("ctext"),
            )
        )
        terms = [t for t in re.split(r"\s+", query_text.lower()) if t]
        wb = Window.orderBy(F.desc("bm25"), F.asc("id"))
        lex = (
            rk.bm25_topk(ctext, terms, k=k_each, text_col="ctext", id_col="id")
            .select("id", F.row_number().over(wb).alias("rb"))
        )

        fused = (
            dense.join(lex, "id", "full_outer")
            .withColumn(
                "rrf",
                F.coalesce(1.0 / (F.lit(rrf_k) + F.col("ra")), F.lit(0.0))
                + F.coalesce(1.0 / (F.lit(rrf_k) + F.col("rb")), F.lit(0.0)),
            )
        )
        # document_id rides the dense arm; lexical-only chunks recover
        # theirs from the (id → document_id) chunk table
        fused = (
            fused.join(
                items.select("id", F.col("document_id").alias("did")), "id"
            )
            .select("id", F.coalesce("document_id", "did").alias("document_id"), "rrf")
        )
        winners = (
            fused.groupBy("document_id")
            .agg(
                F.round(F.max("rrf"), 6).alias("doc_score"),
                F.count(F.lit(1)).alias("n_chunks"),
            )
            .orderBy(F.desc("doc_score"), F.asc("document_id"))
            .limit(max_documents)
        )
        # hydrate uris AFTER the limit (S6 pattern): semi-join shrinks
        # the corpus-sized uri relation to the ≤max_documents winners,
        # then the left join broadcasts that bounded slice — only
        # bounded relations are ever broadcast here
        uris = self.documents().select("document_id", "uri")
        uris_small = uris.join(
            F.broadcast(winners.select("document_id")),
            "document_id",
            "left_semi",
        )
        return (
            winners.join(F.broadcast(uris_small), "document_id", "left")
            .select("document_id", "uri", "doc_score", "n_chunks")
            .orderBy(F.desc("doc_score"), F.asc("document_id"))
        )

    def render_document_sections(
        self,
        query_text: str,
        max_documents: int = 10,
        max_chunks: int = 50,
        max_tokens: int = 2000,
        max_sections: int = 1,
        filter_ast: Mapping[str, Any] | None = None,
    ) -> list[tuple[str, str, float, list[RenderedSection]]]:
        """D8: the top documents of :meth:`query_documents` → driver-side
        W1–W6 rendering. While both snapshots fit the budget this starts
        no Spark job and builds no DataFrame.

        Returns ``[(document_id, uri, doc_score, sections)]``.
        """
        q = self._query_vector(query_text)
        rows = self._driver_documents(
            q, max_documents, max_chunks, filter_ast, "render_document_sections"
        )
        if rows is None:
            rows = [
                (r.document_id, r.uri, r.doc_score, [tuple(c) for c in r.chunks], r.text)
                for r in self._spark_documents(q, max_documents, max_chunks, filter_ast).collect()
            ]
        tokenizer = get_tokenizer()
        out = []
        for doc_id, uri, doc_score, chunks, text in rows:
            scored = [
                ScoredChunk(text="", score=score, start_pos=int(start), end_pos=int(end))
                for start, end, score, _ in chunks
            ]
            sections = render_sections(text or "", scored, tokenizer, max_tokens, max_sections)
            out.append((doc_id, uri, doc_score, sections))
        return out
