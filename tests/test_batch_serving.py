"""Batched exact top-k (``cosine_topk_batch``) in its two placements: a
cached, in-budget frame is scored on the driver, and that answer must be
the Spark plan's — same rows, score bits and schema — whatever the
partitioning, Arrow batch size or BLAS block shape. Everywhere the
driver cannot promise that, the Spark plan runs and says why."""

from __future__ import annotations

import logging
import math
import threading
import time
import uuid

import numpy as np
import pytest

import vectra_py_spark.operators.similarity as sim
from vectra_py_spark.operators.similarity import (
    BROADCAST_BYTES_CONF,
    _round_half_away,
    _rounded_dots,
    _topk_block,
    _unit_rows,
    cosine_topk_batch,
    resolve_similarity_strategy,
)

DIM = 8
SCHEMA = "vec_id bigint, embedding array<double>"
BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"
LOGGER = "vectra_py_spark.similarity"


def _conf_setter(spark, key):
    try:
        saved = spark.conf.get(key)
    except Exception:
        saved = None

    def set_value(v) -> None:
        spark.conf.set(key, str(v))

    return set_value, lambda: spark.conf.unset(key) if saved is None else spark.conf.set(key, saved)


@pytest.fixture
def budget(spark):
    """Set the broadcast budget for one test; restore it after."""
    set_budget, restore = _conf_setter(spark, BROADCAST_BYTES_CONF)
    yield set_budget
    restore()


@pytest.fixture
def batch_rows(spark):
    """Set the Arrow batch size for one test; restore it after."""
    set_rows, restore = _conf_setter(spark, BATCH_CONF)
    yield set_rows
    restore()


@pytest.fixture(autouse=True)
def empty_slot():
    """Every test starts and ends with no driver copy held."""
    sim._batch_slot.update(copy=None, refused=None)
    yield
    sim._batch_slot.update(copy=None, refused=None)


def _vectors(n: int, seed: int) -> np.ndarray:
    """2-dp components, so rounded scores tie often; row 17 is zero and
    rows 40/41 repeat row 3's direction (tied scores, the id breaks
    them)."""
    X = np.random.default_rng(seed).standard_normal((n, DIM)).round(2)
    X[17] = 0.0
    X[40], X[41] = X[3], 2 * X[3]
    return X


def _rows(X: np.ndarray, first_id: int = 1000) -> list[tuple[int, list[float]]]:
    ids = np.random.default_rng(len(X)).permutation(np.arange(first_id, first_id + len(X)))
    return [(int(i), x.tolist()) for i, x in zip(ids, X)]


def _queries(X: np.ndarray, n: int) -> list[list[float]]:
    Q = np.random.default_rng(99).standard_normal((n, DIM)).round(2)
    Q[0] = X[3]  # rows 3, 40 and 41 tie on top
    if n > 1:
        Q[1] = 0.0  # a zero query: every score is 0.0
    return Q.tolist()


def _uncached(df):
    """``df`` under another plan, which the cache manager does not
    match: the Spark placement over the same rows."""
    return df.filter("vec_id IS NOT NULL")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _bits(rows) -> list[tuple]:
    return [(r[0], r[1], r[2].hex()) for r in rows]


def _messages(caplog, level=None) -> list[str]:
    return [r.getMessage() for r in caplog.records
            if r.name == LOGGER and (level is None or r.levelname == level)]


@pytest.mark.parametrize("layout", ["coalesce1", "repartition7"])
@pytest.mark.parametrize("per_batch", [1, 10000])
def test_driver_placement_matches_the_spark_plan(spark, budget, batch_rows, layout, per_batch):
    X = _vectors(60, 14)
    base = spark.createDataFrame(_rows(X), SCHEMA)
    df = (base.coalesce(1) if layout == "coalesce1" else base.repartition(7)).cache()
    df.count()
    batch_rows(per_batch)
    # a one-row Arrow batch hands the finisher one batch per survivor, so
    # Q = 100 runs once: 60 rows × 100 queries is 6,000 batches
    cases = [(_queries(X, 1), 2), (_queries(X, 1), 400), (_queries(X, 100), 5)]
    budget(0)  # today's plan, over every Arrow batch of the cached layout
    want = []
    for q, k in cases:
        out = cosine_topk_batch(df, q, k)
        assert "LocalTableScan" not in _plan(out)
        want.append((out.schema, out.collect()))
    budget(1 << 30)
    try:
        for (q, k), (schema, rows) in zip(cases, want):
            got = cosine_topk_batch(df, q, k)
            assert "LocalTableScan" in _plan(got)  # the driver placement
            assert got.schema == schema
            assert _bits(got.collect()) == _bits(rows)
            assert len(rows) == len(q) * min(k, len(X))
    finally:
        df.unpersist()
    # the zero row scores 0.0 with every query; the zero query ranks by id
    top = [r for r in want[2][1] if r.query_id == 1]
    assert [r.score for r in top] == [0.0] * 5
    assert [r.vec_id for r in top] == sorted(r[0] for r in _rows(X))[:5]


def test_empty_frame_in_both_placements(spark, budget):
    df = spark.createDataFrame([], SCHEMA).cache()
    df.count()
    try:
        budget(1 << 30)
        got = cosine_topk_batch(df, [[1.0] * DIM], 3)
        assert len(sim._batch_slot["copy"].ids) == 0  # the driver placement
        # the Spark plan; its empty scan folds to a local relation too
        want = cosine_topk_batch(_uncached(df), [[1.0] * DIM], 3)
        assert got.collect() == want.collect() == []
        assert got.schema == want.schema
    finally:
        df.unpersist()


@pytest.mark.parametrize("placement", ["spark", "driver"])
def test_cosine_topk_batch_boundary_tie_keeps_smaller_id(spark, placement):
    """A rounded-score tie exactly at the k boundary must keep the
    smaller id (the oracle's ORDER BY score DESC, id ASC) even when the
    tie sits inside one partition's partial top-k."""
    rows = [
        (10, [1.0, 0.0]),
        (3, [1.0, 0.0]),     # exact tie with id 10
        (7, [0.99, 0.14]),   # also high, distinct score
        (50, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).coalesce(1)
    if placement == "driver":
        df = df.cache()
    try:
        out = sim.cosine_topk_batch(df, [[1.0, 0.0]], k=2)
        assert ("LocalTableScan" in _plan(out)) == (placement == "driver")
        assert [r.vec_id for r in out.collect()] == [3, 10]
    finally:
        df.unpersist()


@pytest.mark.parametrize("nq", [1, 100])
def test_block_scores_are_bit_identical_across_block_shapes(nq):
    """BLAS dots differ in their last bits between block shapes (and
    BLAS thread counts); the scorer's rounded scores must not, whether
    the rows arrive as one matrix or as Arrow batches of 1, 7 or 10,000
    rows (Q = 1 takes numpy's gemv path)."""
    rng = np.random.default_rng(5)
    M = rng.standard_normal((20011, 64))
    M[11] = 0.0
    ids = np.arange(len(M), dtype=np.int64)
    Mu, Qu = _unit_rows(M), _unit_rows(rng.standard_normal((nq, 64)))
    r, c = np.divmod(np.arange(len(M) * nq), nq)
    full = _rounded_dots((Mu @ Qu.T).ravel(), Mu, Qu, r, c)
    whole = _topk_block(ids, Mu, Qu, 10)
    for rows in (1, 7, 10000):
        starts = range(0, len(M), rows)
        split = np.concatenate([_unit_rows(M[s:s + rows]) @ Qu.T for s in starts]).ravel()
        assert _rounded_dots(split, Mu, Qu, r, c).tobytes() == full.tobytes(), rows
        # the blocks' survivors, merged, are the whole matrix's answer
        blocks = [_topk_block(ids[s:s + rows], _unit_rows(M[s:s + rows]), Qu, 10) for s in starts]
        merged = sim._first_k(*(np.concatenate(a) for a in zip(*blocks)), 10)
        assert [a.tobytes() for a in merged] == [b.tobytes() for b in whole], rows


def test_a_dot_on_a_rounding_boundary_rounds_one_way():
    """Rows built so their cosine with the query is a 6-dp half step
    (or zero) up to the last bit: BLAS results a few ulps apart round
    two ways under ``_round_half_away`` alone, but one way in the
    scorer."""
    rng = np.random.default_rng(3)
    q = _unit_rows(rng.standard_normal((1, 64)))[0]
    targets = [0.1234565, -0.0000005, 0.0, 0.5000005, -0.9999995]
    rows = []
    for b in targets:
        u = rng.standard_normal(64)
        u -= (u @ q) * q
        u /= np.linalg.norm(u)
        rows.append(math.sqrt(1 - b * b) * u + b * q)
    Mu, Qu = np.array(rows), np.tile(q, (len(rows), 1))
    S = np.einsum("ij,ij->i", Mu, Qu)
    shifted = [S]
    for steps in (1, 2, 3):
        up, down = S.copy(), S.copy()
        for _ in range(steps):
            up, down = np.nextafter(up, np.inf), np.nextafter(down, -np.inf)
        shifted += [up, down]
    r, c = np.arange(len(rows)), np.zeros(len(rows), dtype=np.int64)
    naive = {_round_half_away(s).tobytes() for s in shifted}
    assert len(naive) > 1  # the boundaries are real: plain rounding is order-dependent
    stable = {_rounded_dots(s, Mu, Qu, r, c).tobytes() for s in shifted}
    assert len(stable) == 1
    want = [_round_half_away(math.fsum(m * q) + 0.0) for m in Mu]
    assert _rounded_dots(S, Mu, Qu, r, c).tolist() == want


def _jobs_of(spark, run_driver, run_control) -> tuple[list, list]:
    """Job ids of ``run_driver`` and of ``run_control``, each in its own
    job group. Job events reach the status tracker in order: once the
    control's jobs show, any job the driver call started shows too."""
    sc, tag = spark.sparkContext, uuid.uuid4().hex
    try:
        sc.setJobGroup(f"driver-{tag}", "in-budget batch top-k")
        run_driver()
        sc.setJobGroup(f"spark-{tag}", "Spark-plan batch top-k")
        run_control()
    finally:
        sc._jsc.clearJobGroup()
    st, deadline = sc.statusTracker(), time.monotonic() + 30
    while not st.getJobIdsForGroup(f"spark-{tag}") and time.monotonic() < deadline:
        time.sleep(0.1)
    return list(st.getJobIdsForGroup(f"driver-{tag}")), list(st.getJobIdsForGroup(f"spark-{tag}"))


def test_in_budget_batch_runs_no_spark_job(spark, tmp_path, budget):
    X = _vectors(200, 2)
    path = str(tmp_path / "emb")
    spark.createDataFrame(_rows(X), SCHEMA).repartition(2).write.parquet(path)
    df = spark.read.parquet(path).cache()
    q = _queries(X, 100)
    try:
        budget(1 << 30)
        cosine_topk_batch(df, q, 10).collect()  # loads the copy
        again = spark.read.parquet(path)  # the same cached plan, another object
        driver, control = _jobs_of(
            spark,
            lambda: (cosine_topk_batch(df, q, 10).collect(), cosine_topk_batch(again, q, 10).collect()),
            lambda: cosine_topk_batch(_uncached(df), q, 10).collect(),
        )
        assert control and driver == []
    finally:
        df.unpersist()


def test_each_fallback_runs_the_spark_plan_and_says_why(spark, budget, caplog):
    budget(1 << 30)
    plain = [(1, [1.0, 0.0]), (2, [0.0, 1.0])]
    real_ids = [(float(i), v) for i, v in plain]
    cases = {
        "the input is not cached": spark.createDataFrame(plain, SCHEMA),
        "a null vec_id": spark.createDataFrame([(None, [1.0, 0.0])] + plain, SCHEMA),
        "a null embedding": spark.createDataFrame([(3, None)] + plain, SCHEMA),
        "a null element in embedding": spark.createDataFrame([(3, [1.0, None])] + plain, SCHEMA),
        "ragged embedding (2 to 3 elements)": spark.createDataFrame([(3, [1.0, 0.0, 1.0])] + plain, SCHEMA),
        "vec_id is double, not an integer": spark.createDataFrame(real_ids, "vec_id double, embedding array<double>"),
        "queries of dimension 3 against vectors of 2": spark.createDataFrame(plain, SCHEMA),
    }
    with caplog.at_level(logging.DEBUG, logger=LOGGER):
        for reason, df in cases.items():
            if reason != "the input is not cached":
                df = df.cache()
            dim = 3 if reason.startswith("queries") else 2
            try:
                out = cosine_topk_batch(df, [[1.0] * dim], 1)
                assert "LocalTableScan" not in _plan(out), reason
            finally:
                df.unpersist()
            assert _messages(caplog, "DEBUG")[-1] == f"cosine_topk_batch runs the Spark plan: {reason}"
        # Spark Connect DataFrames have no py4j handle
        assert sim._driver_copy(object(), "vec_id", "embedding") == (None, "no py4j gateway (Spark Connect)")
        # the fallback answers as the driver would have
        df = spark.createDataFrame(real_ids, "vec_id double, embedding array<double>").cache()
        try:
            assert [tuple(r) for r in cosine_topk_batch(df, [[1.0, 0.2]], 2).collect()] == [
                (0, 1, 0.980581), (0, 2, 0.196116)
            ]
        finally:
            df.unpersist()


def test_over_budget_refusal_is_logged_once_per_entry_and_budget(spark, budget, caplog):
    df = spark.createDataFrame([(1, [1.0, 0.0]), (2, [0.0, 1.0])], SCHEMA).cache()
    df.count()
    try:
        with caplog.at_level(logging.DEBUG, logger=LOGGER):
            budget(79)  # 2 rows × (2 × 8 + 24) = 80 bytes
            for _ in range(2):
                assert "LocalTableScan" not in _plan(cosine_topk_batch(df, [[1.0, 0.0]], 1))
            budget(80)
            assert "LocalTableScan" in _plan(cosine_topk_batch(df, [[1.0, 0.0]], 1))
            budget(79)  # the held copy no longer fits
            assert "LocalTableScan" not in _plan(cosine_topk_batch(df, [[1.0, 0.0]], 1))
    finally:
        df.unpersist()
    info = _messages(caplog, "INFO")
    entry = sim._batch_slot["refused"][0][0][1]
    assert info[0] == f"cosine_topk_batch keeps the Spark plan on cache entry {entry}: 80 bytes over the broadcast budget of 79"
    assert info[1].startswith(f"cosine_topk_batch scores cache entry {entry} on the driver: 2 rows, 80 bytes within the broadcast budget of 80, loaded in ")
    assert info[2] == f"driver copy of cache entry {entry} dropped: 80 bytes over the broadcast budget of 79"
    assert len(info) == 3  # the refusal at 79 stands: no second size check
    debug = _messages(caplog, "DEBUG")
    assert debug == ["cosine_topk_batch runs the Spark plan: 80 bytes over the broadcast budget of 79"] * 3


def test_the_copy_follows_the_cache_entry(spark, tmp_path, budget, caplog):
    """A Spark overwrite of the source path recaches it: the next call
    answers from the new rows and the old copy is dropped. After
    ``unpersist()`` the Spark plan runs and no copy is held."""
    budget(1 << 30)
    path = str(tmp_path / "emb")
    old, new = _vectors(60, 4), _vectors(50, 5)
    spark.createDataFrame(_rows(old), SCHEMA).write.parquet(path)
    df = spark.read.parquet(path).cache()
    q = _queries(old, 3)
    with caplog.at_level(logging.INFO, logger=LOGGER):
        first = cosine_topk_batch(df, q, 4).collect()
        entry = sim._batch_slot["copy"].key[1]
        spark.createDataFrame(_rows(new, 5000), SCHEMA).write.mode("overwrite").parquet(path)
        got = cosine_topk_batch(df, q, 4)
        assert "LocalTableScan" in _plan(got)
        rows = got.collect()
        assert rows != first and {r.vec_id for r in rows} <= {i for i, _ in _rows(new, 5000)}
        assert _bits(rows) == _bits(cosine_topk_batch(_uncached(df), q, 4).collect())
        assert sim._batch_slot["copy"].key[1] != entry
        df.unpersist()
        out = cosine_topk_batch(df, q, 4)
        assert "LocalTableScan" not in _plan(out) and _bits(out.collect()) == _bits(rows)
        assert sim._batch_slot["copy"] is None
    info = _messages(caplog, "INFO")
    assert info[1] == f"driver copy of cache entry {entry} dropped: its cache entry is gone"
    assert "on the driver: 50 rows" in info[2]
    assert info[3].endswith("dropped: its cache entry is gone") and len(info) == 4


def test_a_gone_copy_is_dropped_once_by_concurrent_callers(spark, monkeypatch, caplog):
    """Callers that all find the held copy's cache entry gone check and
    drop it one at a time: it is dropped once, and no caller sees it
    half-dropped."""
    df = spark.createDataFrame([(1, [1.0, 0.0])], SCHEMA)  # not cached
    gone = sim._DriverCopy((spark.sparkContext.applicationId, -1, "vec_id", "embedding"),
                           np.zeros(0, np.int64), np.zeros((0, 2)), 0)
    sim._batch_slot["copy"] = gone

    def checked_slowly(spark, key) -> bool:
        time.sleep(0.05)  # long enough for every caller to reach the check
        return False

    monkeypatch.setattr(sim, "_cache_live", checked_slowly)
    answers = []

    def caller() -> None:
        try:
            answers.append(sim._driver_copy(df, "vec_id", "embedding"))
        except Exception as e:  # reported by the assertion below
            answers.append(repr(e))

    threads = [threading.Thread(target=caller) for _ in range(4)]
    with caplog.at_level(logging.INFO, logger=LOGGER):
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=30)
    assert not any(th.is_alive() for th in threads)
    assert answers == [(None, "the input is not cached")] * 4
    assert _messages(caplog) == ["driver copy of cache entry -1 dropped: its cache entry is gone"]


def test_auto_strategy_choice_is_logged(spark, budget, caplog):
    df = spark.createDataFrame([(1, [1.0, 0.0]), (2, [0.0, 1.0])], SCHEMA)
    with caplog.at_level(logging.INFO, logger=LOGGER):
        budget(80)
        assert resolve_similarity_strategy(df, "auto", "embedding", "matmul", "hof") == "matmul"
        budget(79)
        assert resolve_similarity_strategy(df, "auto", "embedding", "matmul", "hof") == "hof"
        assert resolve_similarity_strategy(df, "hof", "embedding", "matmul", "hof") == "hof"
    assert _messages(caplog) == [
        "strategy auto resolved to matmul: 80 bytes of vectors against the broadcast budget of 80",
        "strategy auto resolved to hof: 80 bytes of vectors against the broadcast budget of 79",
    ]
