"""The approximate top-k candidate layer (`operators/similarity.py`):
LSH signatures, IVF cell assignment and probes, finished by
`cosine_topk`. Answers must not depend on partitioning or on where
Arrow batch boundaries fall, and the shared LSH signature kernel must
refuse ragged vector columns for both of its callers."""

from __future__ import annotations

import pytest

from tests.conftest import SF_ORACLE
from vectra_py_spark.operators import similarity as sim
from vectra_py_spark.plans.entry_queries import seeded_query_vector

_BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"


def _ann_answers(spark, emb, path):
    q = seeded_query_vector(64, 7)
    sim.ivf_write_index(emb, path, n_cells=8)
    return {
        "lsh_topk": sim.lsh_topk(emb, q, k=10).collect(),
        "ivf_topk": sim.ivf_topk(emb, q, k=10, n_cells=8, nprobe=2).collect(),
        "ivf_topk_indexed": sim.ivf_topk_indexed(
            spark, path, q, k=10, n_cells=8, nprobe=2
        ).collect(),
        "ivf_cell_balance": sim.ivf_cell_balance(emb).collect(),
    }


def test_ann_answers_are_layout_invariant(spark, tmp_path):
    """sf0.01: one partition vs seven, one row per Arrow batch vs
    10,000 — every candidate path returns identical rows."""
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    layouts = {"coalesce1": emb.coalesce(1), "repart7": emb.repartition(7)}
    saved = spark.conf.get(_BATCH_CONF)
    got = {}
    try:
        for batch in ("1", "10000"):
            spark.conf.set(_BATCH_CONF, batch)
            for name, df in layouts.items():
                path = str(tmp_path / f"ivf_{name}_{batch}")
                got[(name, batch)] = _ann_answers(spark, df, path)
    finally:
        spark.conf.set(_BATCH_CONF, saved)
    ref = got[("coalesce1", "10000")]
    assert all(len(rows) for rows in ref.values())
    for key, answers in got.items():
        assert answers == ref, key


def _ragged(spark):
    rows = [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0, 0.5])]
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    ).coalesce(1)


def _assert_ragged_refused(action):
    with pytest.raises(Exception) as info:
        action()
    # raised inside the Python worker: the driver sees the original
    # ValueError's type and message wrapped in a PythonException
    msg = str(info.value)
    assert isinstance(info.value, ValueError) or "ValueError" in msg
    assert "ragged vector column" in msg


def test_lsh_similarity_join_refuses_ragged_vectors(spark):
    df = _ragged(spark)
    _assert_ragged_refused(
        lambda: sim.lsh_similarity_join(
            df, threshold=0.5, dim=4, verify="join"
        ).collect()
    )
    # the broadcast verify collects the vectors on the driver first,
    # where numpy refuses the ragged matrix
    with pytest.raises(ValueError):
        sim.lsh_similarity_join(df, threshold=0.5, dim=4).collect()


def test_lsh_topk_refuses_ragged_vectors(spark):
    df = _ragged(spark)
    _assert_ragged_refused(
        lambda: sim.lsh_topk(
            df, [1.0, 0.0, 0.0, 0.0], k=1, extra_cols=()
        ).collect()
    )
