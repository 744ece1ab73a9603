"""Document pipeline e2e: ingest → query → render (SURVEY.md §3.2/3.3)
with the deterministic embedder (hermetic, §5.4)."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from vectra_py_spark.document_index import SparkDocumentIndex, infer_doc_type

pytestmark = pytest.mark.slow  # excluded from the smoke tier

DOCS = [
    {
        "uri": "file:///corpus/fruit.md",
        "text": "Apples are sweet red fruit.\n\nOranges are citrus fruit with vitamin C.\n\n"
        "Bananas are yellow tropical fruit loved worldwide.",
        "metadata": {"topic": "fruit"},
    },
    {
        "uri": "file:///corpus/colors.txt",
        "text": "Red is a warm color.\n\nBlue is a cool color of sky and sea.\n\n"
        "Green is the color of grass and leaves.",
        "metadata": {"topic": "color"},
    },
    {
        "uri": "file:///corpus/space.txt",
        "text": "Planets orbit the sun.\n\nStars shine in distant galaxies.\n\n"
        "Telescopes observe the universe.",
        "metadata": {"topic": "space"},
    },
]


@pytest.fixture(scope="module")
def doc_index(spark):
    d = tempfile.mkdtemp()
    idx = SparkDocumentIndex(spark, f"{d}/docidx", vector_dim=64, chunk_size=64)
    idx.create()
    idx.upsert_documents(DOCS)
    yield idx
    shutil.rmtree(d, ignore_errors=True)


def test_infer_doc_type():
    assert infer_doc_type("http://x/a.md") == "md"
    assert infer_doc_type("http://x/a.HTML") == "html"
    assert infer_doc_type("file:///y/noext") is None
    assert infer_doc_type("a.md", explicit="py") == "py"


def test_ingest_created_chunks(doc_index):
    stats = doc_index.get_catalog_stats()
    assert stats["documents"] == 3
    assert stats["chunks"] >= 3
    items = doc_index.index.items().collect()
    docs_text = {d["uri"]: d["text"] for d in DOCS}
    uri_by_id = {
        r.document_id: r.uri for r in doc_index.documents().collect()
    }
    for it in items:
        assert len(it.vector) == 64
        assert it.norm == pytest.approx(1.0, rel=1e-9)
        # positions re-slice the source text exactly
        src = docs_text[uri_by_id[it.document_id]]
        assert src[int(it.start_pos) : int(it.end_pos) + 1]


def test_uri_id_roundtrip(doc_index):
    doc_id = doc_index.get_document_id("file:///corpus/fruit.md")
    assert doc_id is not None
    assert doc_index.get_document_uri(doc_id) == "file:///corpus/fruit.md"
    assert doc_index.get_document_id("file:///nope") is None


def test_query_documents_ranking(doc_index):
    res = doc_index.query_documents("citrus fruit vitamin", max_documents=2).collect()
    assert 1 <= len(res) <= 2
    # the fruit doc must win for a fruit query (word-hash embedder keeps
    # lexical overlap → similarity)
    assert res[0].uri == "file:///corpus/fruit.md"
    assert res[0].doc_score >= res[-1].doc_score


def test_render_sections_end_to_end(doc_index):
    rendered = doc_index.render_document_sections(
        "blue sky color", max_documents=1, max_tokens=2000
    )
    assert len(rendered) == 1
    doc_id, uri, score, sections = rendered[0]
    assert uri == "file:///corpus/colors.txt"
    assert sections and sections[0].text  # W1: whole doc fits budget
    assert sections[0].score == 1.0


def test_reupsert_replaces_chunks(doc_index):
    before = doc_index.get_catalog_stats()
    old_id = doc_index.get_document_id("file:///corpus/space.txt")
    n_old = doc_index.index.items().filter(F.col("document_id") == old_id).count()
    assert n_old >= 1
    new_id = doc_index.upsert_document(
        "file:///corpus/space.txt", "Rockets launch to orbit."
    )
    after = doc_index.get_catalog_stats()
    assert after["documents"] == before["documents"]
    # the list path gives the document a new uuid4 id, so its old chunks
    # sit in another bucket: all of them go, and the new text (shorter
    # than one chunk) adds exactly one
    assert after["chunks"] == before["chunks"] - n_old + 1
    ids = [r.document_id for r in doc_index.index.items().select("document_id").collect()]
    assert old_id not in ids and ids.count(new_id) == 1
    res = doc_index.query_documents("rockets orbit", max_documents=1).collect()
    assert res[0].uri == "file:///corpus/space.txt"


def test_delete_document(doc_index):
    doc_index.upsert_document("file:///tmp/extra.txt", "Extra doc about cheese.")
    n = doc_index.get_catalog_stats()["documents"]
    doc_index.delete_document("file:///tmp/extra.txt")
    stats = doc_index.get_catalog_stats()
    assert stats["documents"] == n - 1
    assert doc_index.get_document_id("file:///tmp/extra.txt") is None


def test_bulk_ingest_dataframe_path(spark, tmp_path):
    """upsert_documents_df: corpus DataFrame in, same query surface
    out; deterministic ids make re-ingest idempotent."""
    idx = SparkDocumentIndex(spark, str(tmp_path / "bulkidx"), vector_dim=16)
    idx.create()
    corpus = spark.createDataFrame(
        [
            ("s3://c/a.md", "alpha document body text here", "web"),
            ("s3://c/b.txt", "beta document entirely different", "web"),
            ("s3://c/noext", "gamma third text", "book"),
        ],
        ["uri", "text", "src"],
    )
    idx.upsert_documents_df(corpus, metadata_cols=("src",))
    docs = {r.uri: r for r in idx.documents().collect()}
    assert len(docs) == 3
    assert docs["s3://c/a.md"].doc_type == "md"
    assert docs["s3://c/noext"].doc_type is None
    assert docs["s3://c/b.txt"].metadata["src"] == "web"
    assert idx.get_catalog_stats()["documents"] == 3

    # re-ingest with one changed doc: replaced in place, not duplicated
    idx.upsert_documents_df(
        corpus.withColumn(
            "text",
            F.when(F.col("uri") == "s3://c/a.md",
                   F.lit("alpha body REVISED")).otherwise(F.col("text")),
        ),
        metadata_cols=("src",),
    )
    docs2 = idx.documents().collect()
    assert len(docs2) == 3
    assert {r.text for r in docs2 if r.uri == "s3://c/a.md"} == {
        "alpha body REVISED"
    }
    # retrieval works over the bulk-ingested corpus
    ranked = idx.query_documents("beta document", max_documents=2)
    assert len(ranked.collect()) >= 1


def test_bulk_ingest_batch_hygiene(spark, tmp_path):
    """NULL uris raise; duplicate uris keep one deterministic winner;
    blank explicit doc_type falls back to extension inference; default
    metadata is an empty map like the list path."""
    idx = SparkDocumentIndex(spark, str(tmp_path / "hyg"), vector_dim=16)
    idx.create()

    with pytest.raises(ValueError, match="NULL uri"):
        idx.upsert_documents_df(
            spark.createDataFrame(
                [(None, "text body")], "uri string, text string"
            )
        )

    dup = spark.createDataFrame(
        [
            ("u://a.md", "bbb later crawl content", ""),
            ("u://a.md", "aaa earlier crawl content", ""),
        ],
        ["uri", "text", "dt"],
    )
    idx.upsert_documents_df(dup, doc_type_col="dt")
    rows = idx.documents().collect()
    assert len(rows) == 1
    assert rows[0].text == "aaa earlier crawl content"  # deterministic
    assert rows[0].doc_type == "md"  # blank explicit → inferred
    assert rows[0].metadata == {}    # empty map, not NULL
    # exactly one uri's chunks in the items table
    assert idx.get_catalog_stats()["chunks"] >= 1
    doc_ids = {
        r.document_id for r in idx.index.items().select("document_id").collect()
    }
    assert doc_ids == {rows[0].document_id}


def test_query_documents_hybrid_lexical_arm_finds_exact_terms(spark, tmp_path):
    """Hybrid retrieval: the lexical arm must surface the document that
    literally contains the query terms even when the (deterministic)
    dense arm has no semantic signal. Uses its OWN index — the shared
    module fixture is mutated by earlier tests (space.txt's text is
    replaced), and with no lexical target the ranking would fall to
    dense ties broken by per-run random chunk uuids.

    Strict-win argument (uuid-proof): k_each ≥ total chunks, so every
    chunk is in the dense list; the lexical-rank-1 chunk therefore
    scores 1/(60+1) + 1/(60+r_dense) under max-pooling, strictly above
    any other document's best single-arm 1/(60+1)."""
    idx = SparkDocumentIndex(
        spark, f"{tmp_path}/hybidx", vector_dim=64, chunk_size=64
    )
    idx.create()
    for d in DOCS:
        idx.upsert_document(d["uri"], d["text"], metadata=d["metadata"])

    out = idx.query_documents_hybrid(
        "telescopes observe galaxies", max_documents=3
    ).collect()
    assert out and out[0].uri == "file:///corpus/space.txt"
    for r in out:
        assert r.doc_score > 0.0 and r.n_chunks >= 1

    # a different literal query flips the winner — lexical evidence,
    # not a fixture accident
    out2 = idx.query_documents_hybrid(
        "oranges citrus vitamin", max_documents=3
    ).collect()
    assert out2 and out2[0].uri == "file:///corpus/fruit.md"

    # filter_ast applies to BOTH arms. Chunk metadata carries
    # document_id/start_pos/end_pos (doc-level metadata lives in the
    # documents table — same split as the reference), so filter on the
    # chunk surface: restrict to the colors doc and the lexical space
    # winner cannot appear.
    colors_id = idx.get_document_id("file:///corpus/colors.txt")
    out3 = idx.query_documents_hybrid(
        "telescopes observe galaxies",
        max_documents=3,
        filter_ast={"document_id": {"$eq": colors_id}},
    ).collect()
    assert out3 and all(r.uri == "file:///corpus/colors.txt" for r in out3)
