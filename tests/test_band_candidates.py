"""The band-candidate kernel (`operators/bands.py`) and its callers:
the kernel's contract on tiny frames, near-dup answers that must not
depend on partitioning or on where Arrow batch boundaries fall, probe
coordinates that run no Spark job, and index directory layouts that
stay readable by the probes."""

from __future__ import annotations

import os
import time
import uuid

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tests.conftest import SF_SMOKE
from vectra_py_spark.operators import bands
from vectra_py_spark.operators import dedup as dd
from vectra_py_spark.operators.audiofp import (
    audio_probe,
    audio_write_index,
    fingerprints,
)
from vectra_py_spark.operators.imagehash import (
    _PHASH_META_FILE,
    phash_neardup_pairs,
    phash_probe,
    phash_write_index,
)
from vectra_py_spark.operators.videohash import video_match_pairs, video_write_index
from vectra_py_spark.session import hash_buckets, local_frame

_BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"


# -- the kernel's contract ---------------------------------------------------
def test_band_pairs_carries_renamed_columns_and_orders_pairs(spark):
    rows = local_frame(spark, [
        (1, 10, "x"), (2, 20, "x"), (3, 30, "x"), (4, 40, "y"),
    ], "id BIGINT, fp BIGINT, k STRING")
    pairs = bands.band_pairs(rows, ["k"], "id", {"fp": "fp"})
    assert pairs.columns == ["k", "id_a", "fp_a", "id_b", "fp_b"]
    got = sorted(tuple(r) for r in pairs.collect())
    assert got == [("x", 1, 10, 2, 20), ("x", 1, 10, 3, 30), ("x", 2, 20, 3, 30)]
    # id_stem renames the id; the key may be several columns
    terms = local_frame(spark, [("ab", "a", 1), ("ac", "a", 1), ("ad", "a", 2)],
                        "t STRING, v STRING, w INT")
    assert sorted(tuple(r) for r in bands.band_pairs(
        terms, ["v", "w"], "t", id_stem="term"
    ).select("term_a", "term_b").collect()) == [("ab", "ac")]


def test_band_pairs_asymmetric_rule(spark):
    """The store-vs-batch rule of incremental dedup: a new row pairs
    with every stored row and with new rows of smaller id, never the
    reverse and never stored with stored."""
    rows = local_frame(spark, [(1, 0), (2, 0), (3, 1), (4, 1)],
                       "id BIGINT, is_new INT").withColumn("k", F.lit(0))
    rule = (F.col("new_b") == 1) & (
        (F.col("new_a") == 0)
        | ((F.col("new_a") == 1) & (F.col("id_a") < F.col("id_b")))
    )
    got = sorted(
        (r.id_a, r.id_b) for r in bands.band_pairs(
            rows, ["k"], "id", {"is_new": "new"}, rule=rule
        ).collect()
    )
    assert got == [(1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]


def test_pigeonhole_geometry_and_its_one_error(spark):
    assert bands.pigeonhole(7, 64) == (8, 8, 255)
    assert bands.pigeonhole(1, 16) == (2, 8, 255)
    with pytest.raises(ValueError, match=r"radius\+1 \(5\) must divide bits \(64\)"):
        bands.pigeonhole(4, 64)
    with pytest.raises(ValueError, match=r"must divide SIMHASH_BITS \(16\)"):
        dd.simhash_neardup(spark.range(1), radius=2)
    for call in (
        lambda: dd.simhash_neardup_sql(radius=4),
        lambda: dd.incremental_dedup_sql("doc_id > 1", radius=2),
        lambda: phash_neardup_pairs(spark.range(1), radius=4),
        lambda: video_match_pairs(spark.range(1), radius=4),
    ):
        with pytest.raises(ValueError, match="must divide"):
            call()


def test_block_rows_match_their_driver_twin(spark):
    fps = [0, 1, -1, 2**63 - 1, -(2**63), 0x0123456789ABCDEF, -12345]
    for radius in (1, 3, 7):
        geometry = bands.pigeonhole(radius, 64)
        rows = local_frame(spark, [(i, fp) for i, fp in enumerate(fps)],
                           "id BIGINT, fp BIGINT")
        got = sorted(
            (r.id, r.block_idx, r.block_val)
            for r in bands.block_rows(rows, "fp", geometry).collect()
        )
        want = sorted(
            (i, bi, bv) for i, fp in enumerate(fps)
            for bi, bv in bands.block_keys(fp, 64, geometry)
        )
        assert got == want


def test_best_offset_keeps_most_aligned_then_smallest_offset(spark):
    m = local_frame(spark, [
        ("a", 5), ("a", 5), ("a", 3), ("a", 3), ("a", 9),  # tie → offset 3
        ("b", 1), ("b", 2),                                  # below min 2
    ], "k STRING, off INT")
    got = bands.best_offset(m, ["k"], F.col("off"), 2).collect()
    assert [tuple(r) for r in got] == [("a", 3, 2)]
    assert bands.best_offset(m, ["k"], F.col("off"), 2).columns == [
        "k", "offset", "n_aligned"
    ]


def test_hamming(spark):
    df = local_frame(spark, [(0, -1), (5, 6)], "a BIGINT, b BIGINT")
    assert [r[0] for r in df.select(bands.hamming("a", "b")).collect()] == [64, 2]


# -- layout invariance at sf0.001 --------------------------------------------
def _neardup_answers(spark, docs):
    fp = F.xxhash64("text")
    hashes = docs.select(
        F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias("media_id"),
        fp.alias("phash"),
    ).unionByName(
        docs.filter(F.col("doc_id") % 10 == 0).select(
            F.concat(F.lit("c"), F.col("doc_id").cast("string")).alias("media_id"),
            fp.bitwiseXOR(F.expr("shiftleft(1L, cast(doc_id % 64 AS INT))"))
            .alias("phash"),
        )
    )
    terms = docs.select(
        F.explode(F.split(F.lower("text"), r"\s+")).alias("t")
    ).filter(F.length("t") >= 4).distinct()
    terms = terms.unionByName(
        terms.select(F.expr("concat(substr(t, 1, 2), substr(t, 4))").alias("t"))
    ).distinct()
    answers = {
        "minhash_lsh_pairs": dd.minhash_lsh_pairs(docs, threshold=0.5),
        "simhash_neardup": dd.simhash_neardup(docs, radius=1),
        "incremental_dedup": dd.incremental_dedup(
            docs.filter(F.col("doc_id") % 5 != 0),
            docs.filter(F.col("doc_id") % 5 == 0), radius=1,
        ),
        "winnow_matches": dd.winnow_matches(docs, min_shared=2),
        "typo_pairs": dd.typo_pairs(terms, term_col="t"),
        "phash_neardup_pairs": phash_neardup_pairs(hashes, radius=7),
    }
    return {k: sorted(tuple(r) for r in df.collect()) for k, df in answers.items()}


def test_neardup_answers_are_layout_invariant(spark):
    """One partition vs seven, one row per Arrow batch vs 10,000: every
    band-candidate caller returns identical rows."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select("doc_id", "text")
    layouts = {"coalesce1": docs.coalesce(1), "repart7": docs.repartition(7)}
    saved = spark.conf.get(_BATCH_CONF)
    got = {}
    try:
        for batch in ("1", "10000"):
            spark.conf.set(_BATCH_CONF, batch)
            for name, df in layouts.items():
                got[(name, batch)] = _neardup_answers(spark, df)
    finally:
        spark.conf.set(_BATCH_CONF, saved)
    ref = got[("coalesce1", "10000")]
    assert all(ref.values()), {k: len(v) for k, v in ref.items()}
    for key, answers in got.items():
        assert answers == ref, key


# -- probe coordinates: no Spark job -----------------------------------------
@pytest.mark.parametrize("dtype, values", [
    (T.StringType(), ["alpha", "beta", "", None, "alpha", "don't"]),
    (T.LongType(), [0, 1, -1, 2**63 - 1, None, 1 << 41]),
])
def test_hash_buckets_match_spark_and_run_no_job(spark, dtype, values):
    n = 64
    sc, tag = spark.sparkContext, uuid.uuid4().hex
    sc.setJobGroup(f"driver-{tag}", "hash_buckets")
    try:
        got = hash_buckets(spark, values, dtype, n)
        # the control: the same hash over a scanned relation runs jobs
        sc.setJobGroup(f"spark-{tag}", "pmod(xxhash64) over a range")
        ref = spark.range(len(values)).select(
            F.pmod(F.xxhash64(F.element_at(
                F.array(*[F.lit(v).cast(dtype) for v in values]),
                (F.col("id") + 1).cast("int"),
            )), F.lit(n)).cast("int")
        ).orderBy("id").collect()
    finally:
        sc._jsc.clearJobGroup()
    assert got == [r[0] for r in ref]
    assert all(0 <= b < n for b in got)
    st, deadline = sc.statusTracker(), time.monotonic() + 30
    while not st.getJobIdsForGroup(f"spark-{tag}") and time.monotonic() < deadline:
        time.sleep(0.1)
    assert st.getJobIdsForGroup(f"spark-{tag}")
    assert list(st.getJobIdsForGroup(f"driver-{tag}")) == []


# -- index layouts ----------------------------------------------------------
def _dirs(path):
    return sorted(d for d in os.listdir(path) if "=" in d)


def test_text_index_layouts_and_probes(spark, tmp_path):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").filter(
        F.col("doc_id") < 60
    )
    text = docs.filter(F.col("doc_id") == 7).select("text").head()[0]

    mpath = str(tmp_path / "minhash")
    dd.minhash_write_index(docs, mpath)
    assert {d.split("=")[0] for d in _dirs(mpath)} == {"band"}
    sub = os.path.join(mpath, _dirs(mpath)[0])
    assert {d.split("=")[0] for d in _dirs(sub)} == {"bucket"}
    hits = {r.doc_id: r.est_jaccard
            for r in dd.minhash_probe(spark, mpath, text).collect()}
    assert hits[7] == 1.0

    wpath = str(tmp_path / "winnow")
    dd.winnow_write_index(docs, wpath)
    assert {d.split("=")[0] for d in _dirs(wpath)} == {"bucket"}
    assert 7 in {r.doc_id for r in dd.winnow_probe(spark, wpath, text).collect()}
    assert dd.winnow_probe(spark, wpath, "x").collect() == []


def test_block_index_layout_and_legacy_probe(spark, tmp_path):
    """The pHash/video block layout is ``block_idx=/block_val=``, and a
    block index laid out by hand the way earlier releases wrote it
    (no side file) probes to the same answer as a fresh one."""
    fps = [0x0123456789ABCDEF, 0x0123456789ABCDEE, -77, 2**40 + 3]
    hashes = local_frame(spark, [(f"m{i}", fp) for i, fp in enumerate(fps)],
                         "media_id STRING, phash BIGINT")
    path = str(tmp_path / "phash")
    phash_write_index(hashes, path, radius=3)
    assert {d.split("=")[0] for d in _dirs(path)} == {"block_idx"}
    sub = os.path.join(path, _dirs(path)[0])
    assert {d.split("=")[0] for d in _dirs(sub)} == {"block_val"}
    fresh = [tuple(r) for r in phash_probe(spark, path, fps[0], radius=3).collect()]
    assert fresh == [("m0", 0), ("m1", 1)]

    legacy = str(tmp_path / "legacy")
    (
        hashes.select(F.col("media_id"), F.col("phash").alias("fp"))
        .select("media_id", "fp", F.explode(F.array(*[F.lit(i) for i in range(4)]))
                .alias("block_idx"))
        .withColumn("block_val",
                    F.expr("shiftright(fp, 16 * block_idx) & 65535").cast("int"))
        .write.partitionBy("block_idx", "block_val").parquet(legacy)
    )
    assert not os.path.exists(os.path.join(legacy, _PHASH_META_FILE))
    assert [tuple(r) for r in
            phash_probe(spark, legacy, fps[0], radius=3).collect()] == fresh
    # a malformed side file refuses, naming the file
    with open(os.path.join(legacy, _PHASH_META_FILE), "w") as f:
        f.write("{not json")
    with pytest.raises(ValueError, match=f"unreadable side file .*{_PHASH_META_FILE}"):
        phash_probe(spark, legacy, fps[0], radius=3)

    vpath = str(tmp_path / "video")
    video_write_index(hashes.withColumn("frame_idx", F.lit(0)), vpath, radius=3)
    assert {d.split("=")[0] for d in _dirs(vpath)} == {"block_idx"}


def _chirps(seed: int, seconds: float = 1.0, sr: int = 8000) -> np.ndarray:
    rng = np.random.default_rng(seed)
    n = int(seconds * sr) // 8
    t = np.arange(n) / sr
    segs = []
    for _ in range(8):
        f0, f1 = rng.uniform(200, 3200, size=2)
        segs.append(0.4 * np.sin(2 * np.pi * (f0 * t + (f1 - f0) * t**2 / (2 * t[-1]))))
    return np.concatenate(segs)


def test_audio_index_layout_and_probe(spark, tmp_path):
    from vectra_py_spark.operators.audio import encode_audio_payload

    sr = 8000
    clips = {"a": _chirps(1), "b": _chirps(2)}
    rows = [(mid, h, t) for mid, x in clips.items() for h, t in fingerprints(x, sr)]
    fp = local_frame(spark, rows, "media_id STRING, hash BIGINT, t INT")
    path = str(tmp_path / "audio")
    audio_write_index(fp, path)
    assert {d.split("=")[0] for d in _dirs(path)} == {"bucket"}
    pcm = (np.clip(clips["a"][1024:], -1, 1) * 32767).astype(np.int64)[:, None]
    got = audio_probe(spark, path, encode_audio_payload(pcm, sr, "wav"),
                      min_matches=10).collect()
    assert [(r.media_id, r.offset) for r in got] == [("a", 2)]


def test_local_frame_is_the_only_driver_rows_path():
    """``createDataFrame(`` appears in the package only inside
    ``session.local_frame``: every other site would plan driver rows as
    a pickled Python RDD whose every read starts Python workers."""
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "vectra_py_spark"
    session = pkg / "session.py"
    (fn,) = [n for n in ast.parse(session.read_text()).body
             if isinstance(n, ast.FunctionDef) and n.name == "local_frame"]
    hits = [
        (path.relative_to(pkg).as_posix(), no)
        for path in sorted(pkg.rglob("*.py"))
        for no, line in enumerate(path.read_text().splitlines(), 1)
        if "createDataFrame(" in line
    ]
    assert hits
    outside = [(p, no) for p, no in hits
               if p != "session.py" or not fn.lineno <= no <= fn.end_lineno]
    assert outside == []
