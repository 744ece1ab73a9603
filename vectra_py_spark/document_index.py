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
Spark jobs: checkpoints, the replaced-ids probe, the catalog rewrite and
the items MERGE): documents → splitter ``mapInPandas`` (T1–T4) →
embedding ``mapInPandas`` (E1/E3, token-budget batched A6) → norm (A1)
→ partition-scoped MERGE into items.
Query (D7, §3.3): embed query driver-side (E5) → V5 top-k-chunks →
group by document (A4) → mean score (A5) → join documents (V6) →
top documents (O2). Rendering (D8/W1–W6) stays driver-side.

Scale: the chunk table is bucketed by ``document_id`` hash, so all
chunks of one document, old and new, share one bucket: a re-ingest of k
documents by ``upsert_documents_df`` (stable ids) rewrites at most k
buckets, 2k on the list path (its new ids land elsewhere). The
documents table is one unpartitioned Parquet directory. Split/embed are
narrow maps; the query's only wide op is the ``groupBy(document_id)``
over ≤ max_chunks rows (post-limit, trivial).
"""

from __future__ import annotations

import uuid
from collections.abc import Mapping
from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vectra_py_spark.embeddings import DeterministicEmbedder, embed_chunks, scrub_newlines
from vectra_py_spark.index import SparkVectorIndex
from vectra_py_spark.render import RenderedSection, ScoredChunk, render_sections
from vectra_py_spark.session import local_frame
from vectra_py_spark.text.splitter import split_documents
from vectra_py_spark.text.tokenizers import get_tokenizer

__all__ = ["SparkDocumentIndex", "DOCUMENT_SCHEMA", "infer_doc_type"]

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

    # -- lifecycle --------------------------------------------------------
    def create(self, overwrite: bool = False) -> None:
        mode = "overwrite" if overwrite else "errorifexists"
        local_frame(self.spark, [], DOCUMENT_SCHEMA).write.mode(mode).parquet(self.docs_path)
        self.index.create(overwrite=overwrite)

    def documents(self) -> DataFrame:
        return self.spark.read.schema(DOCUMENT_SCHEMA).parquet(self.docs_path)

    # -- V6: uri↔id lookups ----------------------------------------------
    def get_document_id(self, uri: str) -> str | None:
        rows = (
            self.documents()
            .filter(F.col("uri") == F.lit(uri))
            .select("document_id")
            .limit(1)
            .collect()
        )
        return rows[0].document_id if rows else None

    def get_document_uri(self, document_id: str) -> str | None:
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

        Each doc: ``{uri, text, doc_type?, metadata?}``. Re-upserting a
        known uri replaces its document row and chunks (the reference
        deletes-then-inserts, ``local_document_index.py:137-141``).
        """
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
        ``sources/textcorpus.py`` (or any corpus table) flows in with
        nothing round-tripping the driver.

        ``document_id = md5(uri)``: deterministic, so re-ingesting a
        corpus REPLACES documents in place instead of duplicating them
        (the per-row ``uuid4`` of the list path would make bulk ingest
        non-idempotent). ``doc_type`` comes from ``doc_type_col`` when
        given, else from the uri extension (same T8 inference as the
        driver-side path, as a codegen'd expression).
        ``metadata_cols`` are folded into the string-map metadata.

        Batch hygiene (all matching the list path's semantics): a NULL
        uri raises (the list path fails loudly on a missing uri —
        silently ingesting an unaddressable document would orphan its
        chunks forever); duplicate uris within the batch keep ONE
        deterministic winner (smallest text — a dump that repeats a
        uri is re-crawl churn, and replace-by-uri means exactly one
        row per uri may land); empty/blank explicit doc_type falls
        back to extension inference like ``infer_doc_type``.

        Scale note: replace-by-uri deletion materializes the replaced
        ids driver-side — O(re-ingested docs that already exist), zero
        on a fresh corpus load. For a full-corpus RE-ingest, recreate
        the index instead (strictly cheaper than merging 100% churn).
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
        # replace-by-uri upsert of document rows (window MERGE)
        existing = self.documents()
        replaced_ids = [
            r.document_id
            for r in existing.join(
                staged.select("uri"), "uri", "left_semi"
            ).select("document_id").collect()
        ]
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
        doc_id = self.get_document_id(uri)
        if doc_id is None:
            return
        remaining_docs = (
            self.documents().filter(F.col("uri") != F.lit(uri)).localCheckpoint(True)
        )
        remaining_docs.write.mode("overwrite").parquet(self.docs_path)
        # partition-scoped: only the bucket of this doc's chunks rewrites
        self.index.delete_by_keys([doc_id], key_col="document_id")

    # -- A3: stats --------------------------------------------------------
    def get_catalog_stats(self) -> dict[str, Any]:
        return {
            "version": 1,
            "documents": self.documents().count(),
            "chunks": self.index.items().count(),
            "metadata_config": {"indexed": ["document_id", "start_pos", "end_pos"]},
        }

    # -- D7/§3.3: query ---------------------------------------------------
    def query_documents(
        self,
        query_text: str,
        max_documents: int = 10,
        max_chunks: int = 50,
        filter_ast: Mapping[str, Any] | None = None,
    ) -> DataFrame:
        """Returns (document_id, uri, doc_score, chunks ARRAY<STRUCT>)."""
        provider = self.embedder_factory()
        qvec = provider.create_embeddings([scrub_newlines(query_text)])[0]  # E5
        # One partition, in rank order: ``avg`` then sums each document's
        # scores in the same order whether the top-k is the Spark plan's
        # (one partition already) or the snapshot's local relation.
        topk = self.index.query_items(qvec, max_chunks, filter_ast).coalesce(1)
        grouped = (
            topk.groupBy("document_id")  # A4
            .agg(
                F.avg("score").alias("doc_score"),  # A5
                F.sort_array(
                    F.collect_list(
                        F.struct("start_pos", "end_pos", "score", "id")
                    )
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

        provider = self.embedder_factory()
        qvec = provider.create_embeddings([scrub_newlines(query_text)])[0]

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
        """D8: collected top docs → driver-side W1–W6 rendering.

        Returns ``[(document_id, uri, doc_score, sections)]``.
        """
        tokenizer = get_tokenizer()
        out = []
        for row in self.query_documents(
            query_text, max_documents, max_chunks, filter_ast
        ).collect():
            chunks = [
                ScoredChunk(
                    text="",
                    score=c.score,
                    start_pos=int(c.start_pos),
                    end_pos=int(c.end_pos),
                )
                for c in row.chunks
            ]
            sections = render_sections(
                row.text or "", chunks, tokenizer, max_tokens, max_sections
            )
            out.append((row.document_id, row.uri, row.doc_score, sections))
        return out
