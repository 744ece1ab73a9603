"""Serving snapshot of ``SparkVectorIndex.query_items``: the driver
snapshot must answer exactly as the Spark plan does — same rows, same
schema (nullability included), same score bits — before and after every
kind of write, and fall back where it cannot promise that."""

from __future__ import annotations

import logging
import warnings

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

import vectra_py_spark.document_index as document_index_mod
import vectra_py_spark.index as index_mod
from vectra_py_spark.document_index import SparkDocumentIndex
from vectra_py_spark.filters import FilterCompileError
from vectra_py_spark.index import SparkVectorIndex
from vectra_py_spark.operators.similarity import BROADCAST_BYTES_CONF
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
