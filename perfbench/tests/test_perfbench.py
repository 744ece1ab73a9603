"""Tests of the benchmark itself (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path
from types import SimpleNamespace

import numpy as np
import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

from vbench import check, gen, spec, workloads  # noqa: E402
from vbench.trace import Tracer  # noqa: E402

BENCHMARK = json.loads((HERE.parent.parent / "BENCHMARK.json").read_text())


# -- metric names -------------------------------------------------------------
def _fake_run() -> workloads.Run:
    spark = SimpleNamespace(sparkContext=None)
    run = workloads.Run(
        spark=spark, tracer=Tracer(spark, "serve", enabled=False),
        seed=1, seconds=1.0, work=Path("."),
    )
    run.samples["query"] += [10.0 + i % 7 for i in range(20)]
    run.samples["write"] += [20.0, 21.0]
    run.samples["fresh"] += [30.0]
    run.setup_times += [3.0, 1.0, 1.1]
    run.bulk_units, run.bulk_seconds, run.space_amp = 100.0, 2.0, 1.1
    return run


def test_workload_names_match_benchmark_json():
    assert [w["name"] for w in BENCHMARK["workloads"]] == list(spec.WORKLOADS)
    assert list(workloads.WORKLOADS) == list(spec.WORKLOADS)


def test_end_to_end_names_and_units_match_benchmark_json():
    declared = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
    assert declared == spec.END_TO_END
    values, _ = workloads.end_to_end(_fake_run())
    line = spec.result_line(True, 1, 0, values, spec.END_TO_END)
    assert {k: v["unit"] for k, v in line["metrics"].items()} == declared


def test_per_layer_names_and_units_match_benchmark_json():
    declared = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}
    assert declared == spec.PER_LAYER
    values = workloads.per_layer(_fake_run(), session_s=5.0)
    line = spec.result_line(True, 1, 0, values, spec.PER_LAYER)
    assert {k: v["unit"] for k, v in line["metrics"].items()} == declared


def test_result_line_refuses_a_missing_metric():
    values, _ = workloads.end_to_end(_fake_run())
    values.pop("setup_s")
    with pytest.raises(ValueError):
        spec.result_line(True, 1, 0, values, spec.END_TO_END)


# -- generators ---------------------------------------------------------------
GENERATORS = {
    "vector_rows": lambda s: gen.vector_rows(s, 50),
    "query_vectors": lambda s: gen.query_vectors(s, 20),
    "category_draws": lambda s: gen.category_draws(s, 20),
    "edit_batch": lambda s: gen.edit_batch(s, 2, np.arange(100), 4, 2),
    "documents": lambda s: gen.documents(s, 5),
    "edited_subset": lambda s: gen.edited_subset(s, gen.documents(s, 20), 0.2, 1),
    "query_texts": lambda s: gen.query_texts(s, 10),
}


def _same(a, b) -> bool:
    if isinstance(a, tuple):
        return all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, np.ndarray):
        return a.shape == b.shape and bool(np.array_equal(a, b))
    return a == b


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_generator_is_deterministic_per_seed(name):
    make = GENERATORS[name]
    assert _same(make(7), make(7))


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_generator_differs_across_seeds(name):
    make = GENERATORS[name]
    assert not _same(make(7), make(8))


# -- checkers -----------------------------------------------------------------
def _topk_case():
    rng = np.random.default_rng(0)
    ids = np.array([f"v{i:03d}" for i in range(200)])
    scores = rng.standard_normal(200)
    order = np.lexsort((ids, -scores))[:10]
    got = [(ids[i], float(scores[i])) for i in order]
    return got, ids, scores


def test_check_topk_accepts_the_exact_answer():
    got, ids, scores = _topk_case()
    assert check.check_topk(got, ids, scores, 10) is None


def test_check_topk_rejects_two_ids_swapped():
    got, ids, scores = _topk_case()
    bad = list(got)
    (a, sa), (b, sb) = bad[2], bad[5]
    bad[2], bad[5] = (b, sa), (a, sb)
    assert check.check_topk(bad, ids, scores, 10) is not None


def test_check_topk_rejects_two_rows_swapped():
    got, ids, scores = _topk_case()
    bad = list(got)
    bad[2], bad[5] = bad[5], bad[2]
    assert check.check_topk(bad, ids, scores, 10) is not None


def test_check_topk_rejects_a_dropped_row():
    got, ids, scores = _topk_case()
    assert check.check_topk(got[:3] + got[4:], ids, scores, 10) is not None


def test_check_topk_rejects_a_missing_better_row():
    got, ids, scores = _topk_case()
    order = np.lexsort((ids, -scores))
    nxt = order[10]
    bad = got[:9] + [(ids[nxt], float(scores[nxt]))]
    assert check.check_topk(bad, ids, scores, 10) is not None


def test_check_topk_breaks_exact_ties_by_id():
    ids = np.array(["a", "b", "c"])
    scores = np.array([0.5, 0.5, 0.1])
    assert check.check_topk([("a", 0.5), ("b", 0.5)], ids, scores, 2) is None
    assert check.check_topk([("b", 0.5), ("a", 0.5)], ids, scores, 2) is not None


def _table_case():
    model = {f"id{i}": ((float(i), float(i) + 0.5), i % 3) for i in range(5)}
    return dict(model), model


def test_check_table_accepts_equal_state():
    got, model = _table_case()
    assert check.check_table(got, model) is None


def test_check_table_rejects_a_dropped_row():
    got, model = _table_case()
    got.pop("id3")
    assert check.check_table(got, model) is not None


def test_check_table_rejects_two_ids_swapped():
    got, model = _table_case()
    got["id1"], got["id2"] = got["id2"], got["id1"]
    assert check.check_table(got, model) is not None


def test_check_chunk_counts():
    want = {"d1": 3, "d2": 2}
    assert check.check_chunk_counts({"d1": 3, "d2": 2}, want) is None
    assert check.check_chunk_counts({"d1": 3, "d2": 1}, want) is not None  # chunk dropped
    assert check.check_chunk_counts({"d1": 3, "d2": 2, "old": 1}, want) is not None  # orphan


def _documents_case():
    uri_to_id = {"u1": "d1", "u2": "d2"}
    scores = {"c1": 0.9, "c2": 0.7, "c3": 0.6, "c4": 0.1}
    got = [
        ("d1", "u1", 0.8, [("c1", 0.9), ("c2", 0.7)]),
        ("d2", "u2", 0.6, [("c3", 0.6)]),
    ]
    return got, scores, uri_to_id


def test_check_documents_accepts_the_exact_answer():
    got, scores, uri_to_id = _documents_case()
    assert check.check_documents(got, scores, 0.5, uri_to_id, 5) is None


def test_check_documents_rejects_two_documents_swapped():
    got, scores, uri_to_id = _documents_case()
    assert check.check_documents(got[::-1], scores, 0.5, uri_to_id, 5) is not None


def test_check_documents_rejects_a_dropped_chunk():
    got, scores, uri_to_id = _documents_case()
    bad = [("d1", "u1", 0.8, [("c1", 0.9)])] + got[1:]
    assert check.check_documents(bad, scores, 0.5, uri_to_id, 5) is not None


def test_check_documents_rejects_a_chunk_outside_the_top():
    got, scores, uri_to_id = _documents_case()
    bad = got[:1] + [("d2", "u2", 0.1, [("c4", 0.1)])]
    assert check.check_documents(bad, scores, 0.5, uri_to_id, 5) is not None


# -- statistics ---------------------------------------------------------------
def test_tail_leaves_ten_samples_beyond():
    vals = list(range(1, 41))
    p, v = spec.tail(vals)
    assert v == 30 and sum(x > v for x in vals) == 10 and p == 75.0
    assert spec.tail(vals[:20]) == (50.0, 10.5)
    with pytest.raises(ValueError):
        spec.tail([])


# -- timed window -------------------------------------------------------------
def test_timed_window_runs_a_count_of_cycles_sized_from_seconds():
    run = workloads.Run(
        spark=None, tracer=SimpleNamespace(gc_ms=lambda: 0.0),
        seed=1, seconds=20.0, work=Path("."),
    )
    done = []
    run.timed_window(4.0, [lambda: done.append("a"), lambda: done.append("b")])
    assert done == ["a", "b"] * 5
    done.clear()
    run.seconds = 1.0
    run.timed_window(4.0, [lambda: done.append("a")])
    assert done == ["a"]  # at least one cycle


def test_timed_window_stops_past_its_cap():
    run = workloads.Run(
        spark=None, tracer=SimpleNamespace(gc_ms=lambda: 0.0),
        seed=1, seconds=0.0, work=Path("."),
    )
    done = []
    run.timed_window(1.0, [lambda: done.append(1)] * 3)
    assert done == []
