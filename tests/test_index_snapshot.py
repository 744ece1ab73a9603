"""Serving snapshot of ``SparkVectorIndex.query_items``, and the document
reads of ``SparkDocumentIndex`` built on it with a catalog snapshot: the
driver must answer exactly as the Spark plan does — same rows, same
schema (nullability included), same score bits — before and after every
kind of write, and fall back where it cannot promise that."""

from __future__ import annotations

import logging
import time
import uuid
import warnings

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

import vectra_py_spark.document_index as document_index_mod
import vectra_py_spark.index as index_mod
from vectra_py_spark.document_index import DOCUMENT_SCHEMA, SparkDocumentIndex
from vectra_py_spark.filters import FilterCompileError
from vectra_py_spark.index import SparkVectorIndex
from vectra_py_spark.operators.similarity import BROADCAST_BYTES_CONF, DEFAULT_BROADCAST_BYTES
from vectra_py_spark.session import local_frame

from tests.conftest import SF_ORACLE

FIELDS = {"label": T.LongType(), "tag": T.StringType()}

# every typed-column shape the mask covers, on columns that hold nulls
# (P11: a null never matches, not even $ne/$nin), plus a metadata-map
# field, which runs the Spark plan
FILTERS = [
    None,
    {"label": 3},
    {"label": {"$eq": 7}},
    {"label": {"$in": [1, 2, 9]}},
    {"label": {"$nin": [1, 2]}},
    {"label": {"$gt": 4.5}},
    {"tag": {"$ne": "t2"}},
    {"$or": [{"label": {"$lte": 2}}, {"tag": "t1"}]},
    {"$and": [{"tag": {"$in": ["t0", "t2"]}}, {"label": {"$gte": 3}}]},
    {"id": {"$in": ["3", "30", "300", "dup-b"]}},
    {"m": "1"},
]


def _corpus(spark):
    """The sf0.01 embeddings with a nullable BIGINT ``label``, a nullable
    STRING ``tag`` and a metadata map; two extra rows repeat row 3's
    vector under other ids, so the top score ties and id breaks it."""
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    rows = emb.select(
        F.col("vec_id").cast("string").alias("id"),
        F.col("embedding").cast("array<double>").alias("vector"),
        F.when(F.col("vec_id") % 7 != 0, F.col("label").cast("long")).alias("label"),
        F.when(
            F.col("vec_id") % 5 != 0,
            F.concat(F.lit("t"), (F.col("vec_id") % 3).cast("string")),
        ).alias("tag"),
        F.create_map(F.lit("m"), (F.col("vec_id") % 4).cast("string")).alias("metadata"),
    )
    dups = rows.filter(F.col("id") == "3").select(
        F.explode(F.array(F.lit("dup-b"), F.lit("dup-a"))).alias("id"),
        "vector", "label", "tag", "metadata",
    )
    return rows.unionByName(dups)


def _queries(spark, n):
    rng = np.random.default_rng(7)
    row3 = (
        spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
        .filter("vec_id = 3").head()["embedding"]
    )
    return [list(map(float, row3))] + [rng.standard_normal(64).tolist() for _ in range(n - 1)]


def _assert_same(got, want):
    """Rows, schema (nullability included) and score bits."""
    assert got.schema == want.schema
    g, w = got.collect(), want.collect()
    assert g == w
    assert [r["score"].hex() for r in g] == [r["score"].hex() for r in w]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def sf_index(spark, tmp_path_factory):
    ix = SparkVectorIndex(
        spark, str(tmp_path_factory.mktemp("snap") / "ix"), indexed_fields=FIELDS, n_buckets=8
    )
    ix.create()
    ix.merge_batch(_corpus(spark))
    return ix


@pytest.fixture
def budget(spark):
    """Set the broadcast budget for one test; restore it after."""
    try:
        saved = spark.conf.get(BROADCAST_BYTES_CONF)
    except Exception:
        saved = None

    def set_budget(n: int) -> None:
        spark.conf.set(BROADCAST_BYTES_CONF, str(n))

    yield set_budget
    if saved is None:
        spark.conf.unset(BROADCAST_BYTES_CONF)
    else:
        spark.conf.set(BROADCAST_BYTES_CONF, saved)


def test_snapshot_matches_spark_plan(spark, sf_index):
    queries = _queries(spark, 44)
    for i, q in enumerate(queries):
        flt = FILTERS[i % len(FILTERS)]
        got = sf_index.query_items(q, 10, flt)
        if flt is None or "m" not in flt:
            assert "LocalTableScan" in _plan(got), flt  # served by the snapshot
        _assert_same(got, sf_index._spark_topk(q, 10, flt))
    # the tie on row 3's vector is broken by id
    top = [r["id"] for r in sf_index.query_items(queries[0], 3).collect()]
    assert top == ["3", "dup-a", "dup-b"]
    # k > N returns every row, in rank order
    big = sf_index.query_items(queries[1], 10_000)
    assert big.count() == 502
    _assert_same(big, sf_index._spark_topk(queries[1], 10_000, None))
    # a zero query scores every row the literal 0.0 (non-nullable)
    zero = [0.0] * 64
    _assert_same(sf_index.query_items(zero, 5, {"label": 1}), sf_index._spark_topk(zero, 5, {"label": 1}))


def test_invalid_filters_raise_alike(spark, sf_index):
    q = _queries(spark, 1)[0]
    for bad in ({"$nor": []}, {"label": {"$gt": "x"}}, {"label": {"$in": 3}}, {"m": {}}):
        for run in (sf_index.query_items, sf_index._spark_topk):
            with pytest.raises(FilterCompileError):
                run(q, 5, bad).collect()


def test_empty_index(spark, tmp_path):
    ix = SparkVectorIndex(spark, str(tmp_path / "e"), vector_dim=3, indexed_fields=FIELDS)
    ix.create()
    got = ix.query_items([1.0, 2.0, 3.0], 5, {"label": 1})
    assert got.collect() == []
    assert got.schema == ix._spark_topk([1.0, 2.0, 3.0], 5, {"label": 1}).schema


def test_snapshot_follows_writes(spark, tmp_path):
    """After each write the kept-current snapshot answers exactly as a
    fresh index object's Spark plan over the same path."""
    path = str(tmp_path / "w")
    ix = SparkVectorIndex(spark, path, indexed_fields=FIELDS, n_buckets=8)
    ix.create()
    ix.merge_batch(_corpus(spark))
    queries = _queries(spark, 6)

    def check(loaded: bool = True) -> None:
        assert (ix._snap is not None) == loaded
        fresh = SparkVectorIndex(spark, path, indexed_fields=FIELDS)
        for i, q in enumerate(queries):
            flt = FILTERS[i % 9]
            got = ix.query_items(q, 10, flt)
            assert "LocalTableScan" in _plan(got)
            _assert_same(got, fresh._spark_topk(q, 10, flt))

    check(loaded=False)  # loads the snapshot
    rng = np.random.default_rng(3)
    for i in (1, 2, 3, 4):  # upsert existing ids (row 3's vector moves away)
        ix.upsert_item({"id": str(i), "vector": rng.standard_normal(64).tolist(),
                        "metadata": {"label": i, "tag": "t2"}})
    ix.upsert_item({"id": "new-1", "vector": queries[2], "metadata": {"label": 5}})
    ix.delete_item("10")
    ix.delete_item("dup-a")
    ix.commit()
    check()
    # a staged upsert and a delete of the same id: the delete wins
    ix.upsert_item({"id": "new-2", "vector": queries[3]})
    ix.delete_item("new-2")
    ix.commit()
    check()
    batch = local_frame(
        spark,
        [{"id": f"b{i}", "vector": rng.standard_normal(64).tolist(), "tag": "t0"} for i in range(5)]
        + [{"id": "11", "vector": queries[4], "tag": "t1"}],
        T.StructType([
            T.StructField("id", T.StringType()),
            T.StructField("vector", T.ArrayType(T.DoubleType())),
            T.StructField("tag", T.StringType()),
        ]),
    )
    ix.merge_batch(batch, delete_keys=["t1"], key_col="tag")
    check()
    ix.delete_by_keys(["12", "13", "b0"])
    check()
    ix.delete_by_keys([4], key_col="label")
    check()
    ix.delete_where(F.col("label") == 6)
    check(loaded=False)  # a predicate delete drops it; the check reloads it
    check()


def test_norm_zero_row_falls_back_to_spark_error(spark, tmp_path):
    """A row stored with norm 0 (written before ingest rejected them)
    makes the Spark plan raise; the snapshot must not answer instead."""
    ix = SparkVectorIndex(spark, str(tmp_path / "z"), vector_dim=2, n_buckets=2)
    ix.create()
    ix.insert_item({"id": "a", "vector": [1.0, 0.0]})
    ix.commit()
    legacy = local_frame(spark, [{"id": "z", "vector": [0.0, 0.0], "norm": 0.0}], ix._schema())
    ix._merge(legacy, staged_buckets=ix._key_buckets(["z"]), n_staged=1)
    for run in (ix.query_items, ix._spark_topk):
        with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
            run([1.0, 1.0], 1, None).collect()


def test_wrong_dimension_query_raises(spark, tmp_path, budget):
    ix = SparkVectorIndex(spark, str(tmp_path / "d"), n_buckets=2)
    ix.create()
    ix.insert_item({"id": "z7", "vector": [1.0, 2.0, 3.0]})
    ix.insert_item({"id": "z8", "vector": [3.0, 2.0, 1.0]})
    ix.commit()
    with pytest.raises(ValueError, match="query vector dim 2 != index dim 3"):
        ix.query_items([1.0, 0.0], 2)
    budget(0)  # the Spark plan's side
    reopened = SparkVectorIndex(spark, ix.path)
    with pytest.raises(ValueError, match="query vector dim 2 != index dim 3"):
        reopened.query_items([1.0, 0.0], 2)
    assert [r["id"] for r in reopened.query_items([3.0, 2.0, 1.0], 1).collect()] == ["z8"]


def test_all_zero_vectors_are_rejected_at_ingest(spark, tmp_path):
    ix = SparkVectorIndex(spark, str(tmp_path / "zz"), vector_dim=2, n_buckets=2)
    ix.create()
    with pytest.raises(ValueError, match="norm is 0"):
        ix.insert_item({"id": "z", "vector": [0.0, 0.0]})
    ix.insert_item({"id": "a", "vector": [1.0, 0.0]})
    ix.commit()
    batch = spark.createDataFrame(
        [("b", [0.0, 1.0]), ("z", [0.0, 0.0])], "id string, vector array<double>"
    )
    with pytest.raises(ValueError, match="norm is 0"):
        ix.merge_batch(batch)
    assert [r["id"] for r in ix.items(use_cache=False).collect()] == ["a"]
    # every query still answers
    assert [r["id"] for r in ix.query_items([1.0, 1.0], 5).collect()] == ["a"]


def test_empty_writes_and_document_rows_plan_local_relations(spark, tmp_path, monkeypatch):
    """The empty-table writes of both index kinds and the document list
    path build their frames as local relations, not pickled RDDs."""
    frames = []
    real = index_mod.local_frame

    def spy(*args, **kwargs):
        df = real(*args, **kwargs)
        frames.append(df)
        return df

    monkeypatch.setattr(index_mod, "local_frame", spy)
    monkeypatch.setattr(document_index_mod, "local_frame", spy)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        di = SparkDocumentIndex(spark, str(tmp_path / "di"), vector_dim=8, chunk_size=32)
        di.create()  # documents table + chunk table
        di.upsert_documents([{"uri": "u://a.txt", "text": "alpha beta gamma"}])
        di.index.delete_index()
    assert len(frames) >= 4
    for df in frames + [di.index._empty_table()]:
        plan = _plan(df)
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert not [w for w in caught if "fallback" in str(w.message)]


def test_snapshot_decisions_are_logged(spark, tmp_path, caplog, budget):
    ix = SparkVectorIndex(spark, str(tmp_path / "l"), vector_dim=2, indexed_fields=FIELDS, n_buckets=2)
    ix.create()
    ix.insert_item({"id": "a", "vector": [1.0, 0.0], "metadata": {"label": 1}})
    ix.commit()
    batch = spark.createDataFrame([("b", [0.0, 1.0]), ("c", [1.0, 1.0])], "id string, vector array<double>")
    with caplog.at_level(logging.DEBUG, logger="vectra_py_spark.index"):
        ix.query_items([1.0, 1.0], 1).collect()  # loads: 1 row of 40 bytes
        ix.query_items([1.0, 1.0], 1, {"m": "x"}).collect()
        ix.query_items([1.0, 1.0], 1, score_decimals=3).collect()
        budget(100)
        ix.merge_batch(batch)  # 40 + 2 × 40 bytes: dropped, never collected
        ix.query_items([1.0, 1.0], 1).collect()  # 120 bytes: refused
        budget(1000)
        ix.upsert_item({"id": "d", "vector": [2.0, 1.0]})
        ix.commit()  # a write: the refusal is retried
        ix.query_items([1.0, 1.0], 1).collect()  # loads again
        ix.delete_where(F.col("label") == 2)
    got = [(r.levelname, r.getMessage()) for r in caplog.records if r.name == "vectra_py_spark.index"]
    info = [m for lvl, m in got if lvl == "INFO" and m.startswith("snapshot")]
    assert len(info) == 5, info
    assert "loaded: 1 rows, 40 bytes in " in info[0] and info[0].endswith(" ms")
    assert info[1].endswith("dropped by a batch of 2 rows, over the broadcast budget")
    assert info[2].endswith("refused: 120 bytes over the broadcast budget of 100")
    assert "loaded: 4 rows, 160 bytes" in info[3]
    assert info[4].endswith("dropped by delete_where")
    debug = [m for lvl, m in got if lvl == "DEBUG"]
    assert "runs the Spark plan: filter field 'm' is not a typed indexed column" in debug[0]
    assert "score_decimals" in debug[1]
    assert debug[2].endswith("120 bytes over the broadcast budget of 100")
    assert len(debug) == 3


RAG_DOCS = {
    f"u://doc{i}.txt": " ".join(f"w{(i * 7 + j) % 23}x{j % 5}" for j in range(60)) for i in range(5)
}


def test_render_parity(spark, tmp_path, budget):
    """``render_document_sections`` renders the same from the snapshot
    (kept current across a replace-by-uri) as from the Spark plan."""
    base = str(tmp_path / "rag")
    di = SparkDocumentIndex(spark, base, vector_dim=16, chunk_size=24)
    di.create()
    di.upsert_documents_df(spark.createDataFrame(sorted(RAG_DOCS.items()), "uri string, text string"))
    # many chunks per document in the top-k, so a document's doc_score
    # (an avg) depends on the order its chunk scores are summed in
    queries = [f"w{i}x{i % 5} w{(3 * i + 1) % 23}x{i % 3}" for i in range(10)]

    def renders(index):
        return [index.render_document_sections(q, max_documents=3, max_chunks=40) for q in queries]

    def check() -> None:
        snap = renders(di)
        assert di.index._snap is not None
        budget(0)
        try:
            assert renders(SparkDocumentIndex(spark, base, vector_dim=16, chunk_size=24)) == snap
        finally:
            budget(256 * 1024 * 1024)

    check()
    uri = "u://doc2.txt"
    di.upsert_documents_df(
        spark.createDataFrame([(uri, RAG_DOCS[uri] + " w3x1 w3x1")], "uri string, text string")
    )
    check()


def _assert_same_documents(got, want):
    """``query_documents`` frames: schema, rows in order, and the bits of
    every document and chunk score."""
    assert got.schema == want.schema
    g, w = got.collect(), want.collect()
    assert g == w

    def bits(rows):
        return [(r["doc_score"].hex(), [c["score"].hex() for c in r["chunks"]]) for r in rows]

    assert bits(g) == bits(w)


def test_document_queries_match_spark_plan(spark, tmp_path, budget):
    """``query_documents`` and ``render_document_sections`` answered on
    the driver from the two snapshots, kept current across every
    document write, equal the Spark plan (budget 0, a fresh object) bit
    for bit: rows, order, schema, doc_score."""
    base = str(tmp_path / "dq")
    di = SparkDocumentIndex(spark, base, vector_dim=16, chunk_size=24)
    di.create()
    twin = "w3x1 w5x2 w7x3"  # one chunk each: the twins' doc_scores tie
    docs = sorted(RAG_DOCS.items()) + [("u://twin-b.txt", twin), ("u://twin-a.txt", twin)]
    di.upsert_documents_df(spark.createDataFrame(docs, "uri string, text string"))
    queries = [twin] + [f"w{i}x{i % 5} w{(3 * i + 1) % 23}x{i % 3}" for i in range(4)]
    uris = {u for u, _ in docs}  # every uri ever ingested
    seen_tie = False

    def check(filter_ast=None, max_documents=3) -> None:
        nonlocal seen_tie
        got = [di.query_documents(q, max_documents, 40, filter_ast) for q in queries]
        rendered = [
            di.render_document_sections(q, max_documents, 40, filter_ast=filter_ast) for q in queries
        ]
        assert di._catalog is catalog  # kept current, never reloaded
        budget(0)
        try:
            ref = SparkDocumentIndex(spark, base, vector_dim=16, chunk_size=24)
            for q, g, r in zip(queries, got, rendered):
                assert "LocalTableScan" in _plan(g)
                want = ref.query_documents(q, max_documents, 40, filter_ast)
                assert "LocalTableScan" not in _plan(want)
                _assert_same_documents(g, want)
                assert r == ref.render_document_sections(q, max_documents, 40, filter_ast=filter_ast)
                scores = [row["doc_score"] for row in g.collect()]
                seen_tie |= len(set(scores)) < len(scores)
            for uri in sorted(uris) + ["u://absent.txt"]:
                doc_id = di.get_document_id(uri)
                assert doc_id == ref.get_document_id(uri)
                assert di.get_document_uri(doc_id or "absent") == ref.get_document_uri(doc_id or "absent")
            # the writes replaced every old chunk: one chunk per position
            # of a catalog document (parity alone cannot see that: both
            # sides read the same table)
            chunks = [(r["document_id"], r["start_pos"]) for r in ref.index.items().collect()]
            assert len(set(chunks)) == len(chunks)
            assert {d for d, _ in chunks} - {"orphan"} == {r["document_id"] for r in ref.documents().collect()}
        finally:
            budget(DEFAULT_BROADCAST_BYTES)

    di.render_document_sections(queries[0])  # loads both snapshots
    catalog = di._catalog
    check()
    assert seen_tie
    ids = [di.get_document_id(u) for u in ("u://doc1.txt", "u://doc3.txt", "u://twin-a.txt")]
    check({"document_id": {"$in": ids}}, max_documents=5)
    # replace-by-uri on the DataFrame path (same id) and on the list path (a new id)
    di.upsert_documents_df(
        spark.createDataFrame([("u://doc2.txt", RAG_DOCS["u://doc2.txt"] + " w3x1 w3x1")], "uri string, text string")
    )
    di.upsert_documents([
        {"uri": "u://doc3.txt", "text": "w9x4 w3x1 " * 20},
        {"uri": "u://new.txt", "text": "w5x2 w7x3 w1x1"},
    ])
    uris.add("u://new.txt")
    check()
    di.delete_document("u://twin-b.txt")  # its lookups stay checked: None now
    check()
    # an orphan chunk (its document_id is in no catalog row): uri and
    # text come back null, as from the Spark plan's left join
    orphan = local_frame(
        spark,
        [{"id": "orphan-1", "vector": di._query_vector(queries[1]), "document_id": "orphan",
          "start_pos": 0, "end_pos": 3}],
        T.StructType([
            T.StructField("id", T.StringType()),
            T.StructField("vector", T.ArrayType(T.DoubleType())),
            T.StructField("document_id", T.StringType()),
            T.StructField("start_pos", T.LongType()),
            T.StructField("end_pos", T.LongType()),
        ]),
    )
    di.index.merge_batch(orphan)
    check()
    assert di.query_documents(queries[1], 3, 40).collect()[0]["uri"] is None


def test_in_budget_render_runs_no_spark_job(spark, tmp_path, budget):
    di = SparkDocumentIndex(spark, str(tmp_path / "nj"), vector_dim=16, chunk_size=24)
    di.create()
    di.upsert_documents_df(spark.createDataFrame(sorted(RAG_DOCS.items()), "uri string, text string"))
    q = "w1x1 w8x3"
    di.render_document_sections(q, max_documents=3)  # loads both snapshots
    sc, tag = spark.sparkContext, uuid.uuid4().hex
    sc.setJobGroup(f"driver-{tag}", "in-budget render")
    try:
        assert di.render_document_sections(q, max_documents=3)
        assert di.query_documents(q, 3).collect()
        assert di.get_document_uri(di.get_document_id("u://doc1.txt")) == "u://doc1.txt"
        # the same render on the Spark plan, as a control that jobs show
        budget(0)
        sc.setJobGroup(f"spark-{tag}", "Spark-plan render")
        SparkDocumentIndex(spark, di.base_path, vector_dim=16, chunk_size=24).render_document_sections(q, 3)
    finally:
        sc._jsc.clearJobGroup()
    # job events reach the status tracker in order: once the control's
    # jobs show, any job the driver path started would show too
    st, deadline = sc.statusTracker(), time.monotonic() + 30
    while not st.getJobIdsForGroup(f"spark-{tag}") and time.monotonic() < deadline:
        time.sleep(0.1)
    assert st.getJobIdsForGroup(f"spark-{tag}")
    assert list(st.getJobIdsForGroup(f"driver-{tag}")) == []


def test_list_path_rejects_a_repeated_uri_or_id(spark, tmp_path):
    """Two documents with one uri in one call used to both be chunked
    while the catalog kept one of them: the other's chunks were orphans
    that ``delete_document`` could never remove."""
    di = SparkDocumentIndex(spark, str(tmp_path / "dup"), vector_dim=8, chunk_size=16)
    di.create()
    with pytest.raises(ValueError, match="uri 'u://a.txt' appears twice"):
        di.upsert_documents([{"uri": "u://a.txt", "text": "alpha"}, {"uri": "u://a.txt", "text": "beta gamma"}])
    with pytest.raises(ValueError, match="document_id 'x' appears twice"):
        di.upsert_documents([
            {"uri": "u://a.txt", "text": "alpha", "document_id": "x"},
            {"uri": "u://b.txt", "text": "beta", "document_id": "x"},
        ])
    assert di.documents().count() == 0
    assert di.index.items(use_cache=False).count() == 0
    di.upsert_documents([{"uri": "u://a.txt", "text": "alpha"}, {"uri": "u://b.txt", "text": "beta"}])
    di.delete_document("u://a.txt")
    catalog = {r["document_id"] for r in di.documents().collect()}
    chunks = {r["document_id"] for r in di.index.items(use_cache=False).collect()}
    assert chunks == catalog and len(catalog) == 1


def test_catalog_and_render_decisions_are_logged(spark, tmp_path, caplog, budget):
    base = str(tmp_path / "cl")
    di = SparkDocumentIndex(spark, base, vector_dim=4, chunk_size=8)
    di.create()
    di.upsert_documents_df(
        spark.createDataFrame([("u://a.txt", "w1 w2 w3"), ("u://b.txt", "w4 w5")], "uri string, text string")
    )
    render = di.render_document_sections
    with caplog.at_level(logging.DEBUG, logger="vectra_py_spark.document_index"):
        render("w1 w2")  # loads: 2 documents of 32 + 9 + 8 and 32 + 9 + 5 bytes
        render("w1 w2", filter_ast={"foo": "x"})
        c0, k0 = di.index._snap.nbytes(), di._catalog.nbytes
        # one more document of one chunk: the chunks alone still fit
        grown_c, grown_k = c0 + (4 * 8 + 24), k0 + 32 + 9 + 2
        budget(grown_c + grown_k - 1)
        di.upsert_documents_df(spark.createDataFrame([("u://c.txt", "w6")], "uri string, text string"))
        render("w1 w2")  # refused: the next write retries
        render("w1 w2")
        budget(DEFAULT_BROADCAST_BYTES)
        di.delete_document("u://c.txt")
        render("w1 w2")  # loads again
        budget(0)  # a fresh object: its chunk snapshot is over the budget
        SparkDocumentIndex(spark, base, vector_dim=4, chunk_size=8).render_document_sections("w1")
        budget(DEFAULT_BROADCAST_BYTES)
        di.create(overwrite=True)
        local_frame(
            spark,
            [{"document_id": i, "uri": "u://d.txt", "text": "w1"} for i in ("d1", "d2")],
            DOCUMENT_SCHEMA,
        ).write.mode("append").parquet(di.docs_path)
        assert render("w1") == []
        legacy = local_frame(
            spark,
            [{"id": "z", "vector": [0.0] * 4, "norm": 0.0, "document_id": "d1", "start_pos": 0, "end_pos": 1}],
            di.index._schema(),
        )
        di.index._merge(legacy, staged_buckets=di.index._key_buckets(["d1"]), n_staged=1)
        with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
            render("w1")
    got = [(r.levelname, r.getMessage()) for r in caplog.records if r.name == "vectra_py_spark.document_index"]
    info = [m for lvl, m in got if lvl == "INFO"]
    assert len(info) == 6, "\n".join(info)
    assert info[0].startswith(f"catalog of {base} loaded: 2 documents, 95 bytes in ")
    assert info[0].endswith(" ms")
    assert info[1].endswith(f"dropped by growing to {grown_c + grown_k} bytes with the chunks, over the broadcast budget")
    assert info[2].endswith(
        f"refused: {grown_k} bytes beside {grown_c} chunk bytes, over the broadcast budget of {grown_c + grown_k - 1}"
    )
    assert "loaded: 2 documents, 95 bytes in " in info[3]
    assert info[4] == f"catalog of {base} dropped by create"
    assert info[5] == f"catalog of {base} refused: uri 'u://d.txt' appears twice"
    debug = [m for lvl, m in got if lvl == "DEBUG"]
    prefix = f"render_document_sections on {base} runs the Spark plan: "
    assert all(m.startswith(prefix) for m in debug), debug
    reasons = [m[len(prefix):] for m in debug]
    assert reasons[0] == "filter field 'foo' is not a typed indexed column"
    assert reasons[1] == reasons[2] == info[2].split("refused: ")[1]
    assert reasons[3].endswith(" bytes over the broadcast budget of 0")
    assert reasons[4] == "uri 'u://d.txt' appears twice"
    assert reasons[5] == "a candidate row has norm 0"
    assert len(reasons) == 6


def test_ingest_over_the_budget_drops_the_catalog_uncollected(spark, tmp_path, caplog, budget, monkeypatch):
    """A loaded catalog must not make an ingest collect a batch that
    cannot fit beside both snapshots: the catalog is dropped, unread,
    and the left-semi probe still finds the replaced ids."""
    base = str(tmp_path / "big")
    di = SparkDocumentIndex(spark, base, vector_dim=4, chunk_size=8)
    di.create()
    di.upsert_documents_df(
        spark.createDataFrame([("u://a.txt", "w1 w2 w3"), ("u://b.txt", "w4 w5")], "uri string, text string")
    )
    di.render_document_sections("w1 w2")  # loads both snapshots
    c0, k0 = di.index._snap.nbytes(), di._catalog.nbytes
    batch = [("u://a.txt", "w6 " * 200), ("u://c.txt", "w7")]
    size = sum(32 + len(u) + len(t) for u, t in batch)
    budget(c0 + k0 + size - 1)
    collected = []
    real = type(di.documents()).toArrow

    def spy(df):
        collected.append(df.columns)
        return real(df)

    monkeypatch.setattr(type(di.documents()), "toArrow", spy)
    with caplog.at_level(logging.INFO, logger="vectra_py_spark.document_index"):
        di.upsert_documents_df(spark.createDataFrame(batch, "uri string, text string"))
    monkeypatch.undo()
    assert ["document_id", "uri", "text"] not in collected
    assert di._catalog is None
    got = [r.getMessage() for r in caplog.records if r.name == "vectra_py_spark.document_index"]
    assert got == [
        f"catalog of {base} dropped by a staged batch of {size} bytes: {k0 + size} bytes beside "
        f"{c0} chunk bytes, over the broadcast budget of {c0 + k0 + size - 1}"
    ]
    catalog = {r["document_id"]: r["uri"] for r in di.documents().collect()}
    chunks = {r["document_id"] for r in di.index.items(use_cache=False).collect()}
    assert sorted(catalog.values()) == ["u://a.txt", "u://b.txt", "u://c.txt"]
    assert chunks == set(catalog)
    budget(DEFAULT_BROADCAST_BYTES)
    assert di.render_document_sections("w6")[0][1] == "u://a.txt"  # loads again
    assert di._catalog.by_uri == {u: d for d, u in catalog.items()}


def test_a_loaded_catalog_over_the_budget_is_dropped(spark, tmp_path, caplog, budget):
    """Both snapshots must fit the budget together on every read, not
    only when the catalog loads."""
    base = str(tmp_path / "shrink")
    di = SparkDocumentIndex(spark, base, vector_dim=4, chunk_size=8)
    di.create()
    di.upsert_documents_df(
        spark.createDataFrame([("u://a.txt", "w1 w2 w3"), ("u://b.txt", "w4 w5")], "uri string, text string")
    )
    want = di.render_document_sections("w1 w2")  # loads both snapshots
    c0, k0 = di.index._snap.nbytes(), di._catalog.nbytes
    budget(c0 + k0 - 1)  # the chunks alone still fit
    with caplog.at_level(logging.DEBUG, logger="vectra_py_spark.document_index"):
        assert di.render_document_sections("w1 w2") == want
        assert di.render_document_sections("w1 w2") == want  # refused, with no job
    assert di._catalog is None and di.index._snap is not None
    reason = f"{k0} bytes beside {c0} chunk bytes, over the broadcast budget of {c0 + k0 - 1}"
    got = [(r.levelname, r.getMessage()) for r in caplog.records if r.name == "vectra_py_spark.document_index"]
    fallback = f"render_document_sections on {base} runs the Spark plan: {reason}"
    assert got == [
        ("INFO", f"catalog of {base} dropped by {reason}"), ("DEBUG", fallback), ("DEBUG", fallback),
    ]
