"""Partition-scoped MERGE (`SparkVectorIndex._merge`) — VERDICT r1 #2.

The whole point: a commit touches ONLY the bucket directories containing
staged or deleted ids. Untouched partition files must remain
byte-identical (never rewritten, never even opened for write), emptied
buckets must disappear, and the id→bucket map must be pinned across
reopens.
"""

from __future__ import annotations

import hashlib
import json
import logging
import os
import warnings

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vectra_py_spark.document_index import SparkDocumentIndex
from vectra_py_spark.index import BUCKET_COL, LOG_KEYS, SparkVectorIndex
from vectra_py_spark.session import local_frame


def _snapshot(path: str) -> dict[str, dict[str, str]]:
    """{bucket_dir: {filename: sha256}} for every parquet part file."""
    out: dict[str, dict[str, str]] = {}
    for entry in os.listdir(path):
        full = os.path.join(path, entry)
        if not (entry.startswith(f"{BUCKET_COL}=") and os.path.isdir(full)):
            continue
        files = {}
        for fn in os.listdir(full):
            if fn.endswith(".parquet"):
                with open(os.path.join(full, fn), "rb") as f:
                    files[fn] = hashlib.sha256(f.read()).hexdigest()
        out[entry] = files
    return out


def _write_meta_file(path: str, text: str) -> None:
    """Replace an index's meta file by hand (and drop the local file
    system's checksum of the old one, which would no longer match)."""
    with open(os.path.join(path, "_vectra_meta.json"), "w") as f:
        f.write(text)
    crc = os.path.join(path, "._vectra_meta.json.crc")
    if os.path.exists(crc):
        os.remove(crc)


def _bucket_of(spark, item_id: str, n_buckets: int) -> int:
    return (
        spark.range(1)
        .select(
            F.pmod(F.xxhash64(F.lit(item_id)), F.lit(n_buckets)).cast("int")
        )
        .head()[0]
    )


@pytest.fixture
def idx(spark, tmp_path):
    ix = SparkVectorIndex(spark, str(tmp_path / "idx"), vector_dim=2, n_buckets=8)
    ix.create()
    for i in range(32):
        ix.insert_item({"id": f"k{i:02d}", "vector": [float(i), 1.0]})
    ix.commit()
    return ix


class TestPartitionScopedMerge:
    def test_upsert_rewrites_only_touched_bucket(self, spark, idx):
        before = _snapshot(idx.path)
        assert len(before) > 1, "fixture must span several buckets"
        idx.upsert_item({"id": "k00", "vector": [99.0, 99.0]})
        idx.commit()
        after = _snapshot(idx.path)
        touched = f"{BUCKET_COL}={_bucket_of(spark, 'k00', 8)}"
        assert after[touched] != before[touched]
        for d in before:
            if d != touched:
                assert after[d] == before[d], f"untouched {d} was rewritten"
        row = idx.get_item("k00").head()
        assert row.vector == [99.0, 99.0]
        assert idx.items().count() == 32

    def test_delete_rewrites_only_touched_bucket(self, spark, idx):
        before = _snapshot(idx.path)
        idx.delete_item("k01")
        idx.commit()
        after = _snapshot(idx.path)
        touched = f"{BUCKET_COL}={_bucket_of(spark, 'k01', 8)}"
        for d in before:
            if d != touched:
                assert after[d] == before[d]
        assert idx.items().count() == 31
        assert idx.get_item("k01").count() == 0

    def test_emptied_bucket_dir_is_removed(self, spark, idx):
        # delete every id in one bucket → its directory must disappear
        target = _bucket_of(spark, "k00", 8)
        doomed = [
            r.id
            for r in idx._raw_items()
            .filter(F.col(BUCKET_COL) == target)
            .select("id")
            .collect()
        ]
        for i in doomed:
            idx.delete_item(i)
        idx.commit()
        assert f"{BUCKET_COL}={target}" not in _snapshot(idx.path)
        assert idx.items().count() == 32 - len(doomed)

    def test_emptied_bucket_leaves_no_stale_cache(self, spark, idx):
        # Another handle cached items(); the commit that empties a bucket
        # deletes its directory after the write refreshed Spark's caches
        # of the path. Neither that handle's read nor a fresh handle's
        # (Spark reuses a cached read of the same path) may list the
        # deleted files.
        other = SparkVectorIndex(spark, idx.path, vector_dim=2)
        assert other.items().count() == 32
        target = _bucket_of(spark, "k00", 8)
        doomed = [
            r.id
            for r in idx._raw_items()
            .filter(F.col(BUCKET_COL) == target)
            .select("id")
            .collect()
        ]
        for i in doomed:
            idx.delete_item(i)
        idx.commit()
        assert f"{BUCKET_COL}={target}" not in _snapshot(idx.path)
        left = 32 - len(doomed)
        assert other.items().count() == left
        fresh = SparkVectorIndex(spark, idx.path, vector_dim=2)
        assert fresh.items().count() == left
        other._invalidate()
        fresh._invalidate()

    def test_delete_where_predicate(self, idx):
        idx.delete_where(F.col("id") < F.lit("k10"))
        assert idx.items().count() == 22
        # no-match predicate is a no-op (no buckets touched, no write job)
        before = _snapshot(idx.path)
        idx.delete_where(F.col("id") == F.lit("zzz"))
        assert _snapshot(idx.path) == before

    def test_merge_read_is_partition_pruned(self, spark, idx):
        plan = (
            idx._raw_items()
            .filter(F.col(BUCKET_COL).isin(3))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "PartitionFilters" in plan and f"{BUCKET_COL}#" in plan

    def test_n_buckets_pinned_across_reopen(self, spark, idx):
        # reopening with a DIFFERENT default must adopt the pinned layout,
        # or the same id would hash to two different directories
        re = SparkVectorIndex(spark, idx.path, vector_dim=2, n_buckets=999)
        re.upsert_item({"id": "k00", "vector": [5.0, 5.0]})
        re.commit()
        assert re.n_buckets == 8
        assert re.items().count() == 32  # replaced in place, not duplicated
        assert re.get_item("k00").head().vector == [5.0, 5.0]

    def test_insert_duplicate_still_rejected(self, idx):
        idx.insert_item({"id": "k05", "vector": [1.0, 2.0]})
        with pytest.raises(ValueError, match="already exists"):
            idx.commit()
        idx.cancel_update()

    def test_dim_mismatch_still_rejected(self, idx):
        with pytest.raises(ValueError, match="dim"):
            idx.insert_item({"id": "new", "vector": [1.0, 2.0, 3.0]})

    def test_merge_batch_delete_cond_single_merge(self, spark, idx):
        staged = spark.createDataFrame(
            [("n1", [7.0, 7.0]), ("n2", [8.0, 8.0])], "id string, vector array<double>"
        )
        idx.merge_batch(staged, delete_keys=["k02", "k03"])
        ids = {r.id for r in idx.items().select("id").collect()}
        assert {"n1", "n2"} <= ids and not {"k02", "k03"} & ids
        assert len(ids) == 32

    def test_commit_finds_buckets_from_keys_and_logs_them(self, spark, idx, caplog):
        caplog.set_level(logging.INFO, logger="vectra_py_spark.index")
        idx.upsert_item({"id": "k04", "vector": [4.0, 4.0]})
        idx.delete_item("k05")
        idx.commit()
        (rec,) = [r for r in caplog.records if r.name == "vectra_py_spark.index"]
        assert rec.args["found"] == "keys"
        assert rec.args["buckets"] == sorted(
            {_bucket_of(spark, "k04", 8), _bucket_of(spark, "k05", 8)}
        )
        assert rec.args["staged"] == 1
        assert (rec.args["n_keys"], rec.args["deleted"]) == (1, ["k05"])
        assert rec.args["emptied"] == []

    def test_delete_where_scans_and_logs_emptied_bucket(self, spark, idx, caplog):
        target = _bucket_of(spark, "k00", 8)
        caplog.set_level(logging.INFO, logger="vectra_py_spark.index")
        idx.delete_where(F.col(BUCKET_COL) == F.lit(target))
        (rec,) = [r for r in caplog.records if r.name == "vectra_py_spark.index"]
        assert rec.args["found"] == "scan"
        assert rec.args["buckets"] == rec.args["emptied"] == [target]
        assert rec.args["staged"] == rec.args["n_keys"] == 0

    def test_merge_log_names_only_the_first_keys(self, idx, caplog):
        caplog.set_level(logging.INFO, logger="vectra_py_spark.index")
        doomed = [f"k{i:02d}" for i in range(12)]
        idx.delete_by_keys(doomed)
        (rec,) = [r for r in caplog.records if r.name == "vectra_py_spark.index"]
        assert rec.args["n_keys"] == 12
        assert rec.args["deleted"] == doomed[:LOG_KEYS]
        assert idx.items(use_cache=False).count() == 20

    def test_garbage_meta_file_raises(self, spark, idx):
        _write_meta_file(idx.path, "{not json")
        with pytest.raises(ValueError, match="meta"):
            SparkVectorIndex(spark, idx.path, vector_dim=2).items()
        _write_meta_file(idx.path, json.dumps({"version": 1}))  # no n_buckets
        with pytest.raises(ValueError, match="meta"):
            SparkVectorIndex(spark, idx.path, vector_dim=2).items()

    def test_meta_without_key_reads_as_id_keyed(self, spark, idx):
        _write_meta_file(idx.path, json.dumps({"version": 1, "n_buckets": 8}))
        re = SparkVectorIndex(
            spark, idx.path, vector_dim=2, n_buckets=3,
            indexed_fields={"g": T.StringType()}, bucket_key="g",
        )
        re._ensure_meta()
        assert (re.n_buckets, re.bucket_key) == (8, "id")

    def test_reopen_with_other_key_commits_under_pinned_key(self, spark, idx):
        """A reopen whose constructor names another bucket key (and gives
        ``vector_dim``, so nothing reads the table before ``commit()``)
        must place and find the staged rows by the pinned ``id`` key."""
        assert _bucket_of(spark, "zz", 8) != _bucket_of(spark, "k00", 8)
        before = {r.id for r in idx.items(use_cache=False).select("id").collect()}
        re = SparkVectorIndex(
            spark, idx.path, vector_dim=2,
            indexed_fields={"g": T.StringType()}, bucket_key="g",
        )
        re.upsert_item({"id": "k00", "vector": [9.0, 9.0], "metadata": {"g": "zz"}})
        re.commit()
        rows = re.items(use_cache=False).select("id", "vector").collect()
        assert sorted(r.id for r in rows) == sorted(before)
        assert [r.vector for r in rows if r.id == "k00"] == [[9.0, 9.0]]

    def test_row_staging_refuses_a_non_id_keyed_index(self, spark, tmp_path):
        """The is-new-wins window only sees touched buckets, so an id that
        moved to another key's bucket would be kept twice: row staging is
        for id-keyed indexes only."""
        ix = SparkVectorIndex(
            spark, str(tmp_path / "g"), vector_dim=2,
            indexed_fields={"g": T.StringType()}, bucket_key="g",
        )
        ix.create()
        for stage in (ix.insert_item, ix.upsert_item):
            with pytest.raises(ValueError, match="id-keyed"):
                stage({"id": "a", "vector": [1.0, 0.0], "metadata": {"g": "x"}})


def test_local_frame_plans_as_local_relation(spark):
    schema = T.StructType(
        [
            T.StructField("id", T.StringType(), False),
            T.StructField("metadata", T.MapType(T.StringType(), T.StringType()), True),
            T.StructField("cat", T.LongType(), True),
        ]
    )
    rows = [
        {"id": "a", "metadata": None, "cat": None},
        {"id": "b", "metadata": {"k": "v"}, "cat": 2**62 + 1},
    ]
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        df = local_frame(spark, rows, schema)
        plan = df._jdf.queryExecution().executedPlan().toString()
        got = [r.asDict() for r in df.collect()]
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    assert not [w for w in caught if "fallback" in str(w.message)]
    assert got == rows  # the BIGINT survives exactly, nulls stay null


DOC_TEXTS = {
    f"u://doc{i}.txt": " ".join(f"word{i}x{j}" for j in range(40)) for i in range(6)
}


def _doc_corpus(spark, texts):
    return spark.createDataFrame(sorted(texts.items()), "uri string, text string")


def _chunk_counts(di):
    return {
        r["document_id"]: r["count"]
        for r in di.index.items(use_cache=False).groupBy("document_id").count().collect()
    }


def test_document_reingest_rewrites_only_its_bucket(spark, tmp_path):
    di = SparkDocumentIndex(spark, str(tmp_path / "di"), vector_dim=8, chunk_size=16)
    di.create()
    di.upsert_documents_df(_doc_corpus(spark, DOC_TEXTS))
    counts = _chunk_counts(di)
    before = _snapshot(di.index.path)
    uri = "u://doc2.txt"
    doc_id = hashlib.md5(uri.encode()).hexdigest()
    di.upsert_documents_df(_doc_corpus(spark, {uri: DOC_TEXTS[uri] + " appended"}))
    after = _snapshot(di.index.path)
    touched = f"{BUCKET_COL}={_bucket_of(spark, doc_id, di.index.n_buckets)}"
    assert after[touched] != before[touched]
    assert {d: f for d, f in after.items() if d != touched} == {
        d: f for d, f in before.items() if d != touched
    }
    assert _chunk_counts(di) == {**counts, doc_id: counts[doc_id] + 1}


def test_legacy_id_keyed_chunk_table_replaces_cleanly(spark, tmp_path):
    """A chunk table whose meta file names no bucket key (written before
    keyed layouts) stays keyed by id: replace-by-uri and delete find the
    old chunks by scan and leave no orphan or duplicate."""
    base = str(tmp_path / "legacy")
    SparkDocumentIndex(spark, base, vector_dim=8, chunk_size=16).create()
    _write_meta_file(
        os.path.join(base, "items"), json.dumps({"version": 1, "n_buckets": 64})
    )
    di = SparkDocumentIndex(spark, base, vector_dim=8, chunk_size=16)
    di.upsert_documents_df(_doc_corpus(spark, DOC_TEXTS))
    assert di.index.bucket_key == "id"
    counts = _chunk_counts(di)
    edited = {u: t + " more words" for u, t in list(DOC_TEXTS.items())[:3]}
    di.upsert_documents_df(_doc_corpus(spark, edited))
    want = dict(counts)
    for u in edited:
        want[hashlib.md5(u.encode()).hexdigest()] += 1
    assert _chunk_counts(di) == want
    items = di.index.items(use_cache=False)
    assert items.count() == items.select("id").distinct().count()
    di.delete_document("u://doc0.txt")
    del want[hashlib.md5(b"u://doc0.txt").hexdigest()]
    assert _chunk_counts(di) == want
    # a fresh handle whose first call is a delete adopts the pinned id key
    # before it decides how to find the document's chunks
    SparkDocumentIndex(spark, base, vector_dim=8, chunk_size=16).delete_document(
        "u://doc1.txt"
    )
    del want[hashlib.md5(b"u://doc1.txt").hexdigest()]
    assert _chunk_counts(di) == want
