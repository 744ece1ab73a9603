"""Filter-compiler truth table incl. P11 missing-field semantics and the
§2.9 intent-vs-bug decisions (SURVEY.md §2.2, FIXTURES.md §4)."""

from __future__ import annotations

import pytest

import numpy as np

from vectra_py_spark.filters import (
    FilterCompileError,
    NotExact,
    compile_filter,
    compile_mask,
    filter_to_sql,
)

ROWS = [
    # (id, category, priority, flag)
    (1, "a", 10, True),
    (2, "b", -5, False),
    (3, "c", None, True),
    (4, None, 7, None),
    (5, "a", 0, False),
]
COLS = ["id", "category", "priority", "flag"]


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(ROWS, COLS)


def ids(df, flt):
    out = df.filter(compile_filter(flt)).select("id").collect()
    return sorted(r.id for r in out)


def test_implicit_eq(df):
    assert ids(df, {"category": "a"}) == [1, 5]


def test_explicit_eq_ne(df):
    assert ids(df, {"category": {"$eq": "b"}}) == [2]
    # P11: $ne on a NULL field is FALSE (row 4 excluded) — not SQL 3VL.
    assert ids(df, {"category": {"$ne": "a"}}) == [2, 3]


def test_numeric_comparisons(df):
    assert ids(df, {"priority": {"$gt": 0}}) == [1, 4]
    assert ids(df, {"priority": {"$gte": 7}}) == [1, 4]
    assert ids(df, {"priority": {"$lt": 0}}) == [2]
    assert ids(df, {"priority": {"$lte": 0}}) == [2, 5]


def test_float_comparison_allowed(df):
    # §2.9.3: the reference wrongly demands int; intent allows floats.
    assert ids(df, {"priority": {"$gt": 0.5}}) == [1, 4]


def test_in_nin(df):
    assert ids(df, {"category": {"$in": ["a", "c"]}}) == [1, 3, 5]
    # P11: $nin on NULL field is FALSE — row 4 excluded despite "not in".
    assert ids(df, {"category": {"$nin": ["a", "c"]}}) == [2]


def test_bool_eq(df):
    assert ids(df, {"flag": True}) == [1, 3]
    # P11: NULL flag never matches, even $ne.
    assert ids(df, {"flag": {"$ne": True}}) == [2, 5]


def test_and_or(df):
    assert ids(df, {"$and": [{"category": "a"}, {"priority": {"$gt": 5}}]}) == [1]
    assert ids(df, {"$or": [{"category": "b"}, {"priority": {"$gte": 10}}]}) == [1, 2]


def test_multi_key_conjunction(df):
    assert ids(df, {"category": "a", "flag": False}) == [5]


def test_range_same_field(df):
    assert ids(df, {"priority": {"$gte": 0, "$lt": 10}}) == [4, 5]


def test_none_filter_value_rejects_all(df):
    assert ids(df, {"category": None}) == []


def test_unknown_op_falls_back_to_eq(df):
    assert ids(df, {"category": {"$weird": "a"}}) == [1, 5]


def test_empty_filter_matches_all(df):
    assert ids(df, {}) == [1, 2, 3, 4, 5]
    assert ids(df, None) == [1, 2, 3, 4, 5]


def test_in_requires_list(df):
    with pytest.raises(FilterCompileError):
        compile_filter({"category": {"$in": "a"}})
    # §2.9.2 intent: booleans excluded from membership lists.
    with pytest.raises(FilterCompileError):
        compile_filter({"flag": {"$in": [True]}})


def test_numeric_op_rejects_non_number():
    with pytest.raises(FilterCompileError):
        compile_filter({"priority": {"$gt": "high"}})
    with pytest.raises(FilterCompileError):
        compile_filter({"priority": {"$gt": True}})


def test_unknown_logical_op():
    with pytest.raises(FilterCompileError):
        compile_filter({"$nor": [{"category": "a"}]})


@pytest.mark.slow
def test_sql_rendering_matches_spark(spark, df):
    """filter_to_sql must stay in lockstep with compile_filter."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t (id INT, category VARCHAR, priority INT, flag BOOLEAN)"
    )
    con.executemany("INSERT INTO t VALUES (?, ?, ?, ?)", ROWS)
    filters = [
        {"category": "a"},
        {"category": {"$ne": "a"}},
        {"priority": {"$gt": 0}},
        {"priority": {"$gte": 0, "$lt": 10}},
        {"category": {"$in": ["a", "c"]}},
        {"category": {"$nin": ["a", "c"]}},
        {"flag": {"$ne": True}},
        {"$or": [{"category": "b"}, {"priority": {"$gte": 10}}]},
        {"$and": [{"category": "a"}, {"priority": {"$gt": 5}}]},
        {"category": "a", "flag": False},
        {"category": None},
    ]
    for flt in filters:
        sql_ids = sorted(
            r[0]
            for r in con.execute(
                f"SELECT id FROM t WHERE {filter_to_sql(flt)}"
            ).fetchall()
        )
        assert ids(df, flt) == sql_ids, f"divergence for {flt}"
    con.close()


# ---------------------------------------------------------------------------
# Property: compiled Column tree ≡ a pure-Python evaluator of the
# reference's INTENDED semantics (SURVEY.md §2.2 incl. P11 null rules)
# ---------------------------------------------------------------------------
from hypothesis import given, settings
from hypothesis import strategies as st


def _py_eval(flt, row) -> bool:
    """Reference-intent evaluator (item_selector.py:52-127, bugs fixed)."""

    def leaf(field, cond) -> bool:
        value = row.get(field)
        if not isinstance(cond, dict):
            cond = {"$eq": cond}
        for op, arg in cond.items():
            if value is None:
                return False  # P11: missing field rejects, even $ne/$nin
            if op == "$eq":
                ok = value == arg
            elif op == "$ne":
                ok = value != arg
            elif op == "$gt":
                ok = value > arg
            elif op == "$gte":
                ok = value >= arg
            elif op == "$lt":
                ok = value < arg
            elif op == "$lte":
                ok = value <= arg
            elif op == "$in":
                ok = value in arg
            elif op == "$nin":
                ok = value not in arg
            else:
                ok = value == arg  # P10 fallback
            if not ok:
                return False
        return True

    if "$and" in flt:
        return all(_py_eval(f, row) for f in flt["$and"])
    if "$or" in flt:
        return any(_py_eval(f, row) for f in flt["$or"])
    return all(leaf(k, v) for k, v in flt.items())


_FIELDS = ["a", "b"]
_num = st.integers(min_value=-3, max_value=3)
_leaf_cond = st.one_of(
    _num,
    st.fixed_dictionaries({"$eq": _num}),
    st.fixed_dictionaries({"$ne": _num}),
    st.fixed_dictionaries({"$gt": _num}),
    st.fixed_dictionaries({"$gte": _num}),
    st.fixed_dictionaries({"$lt": _num}),
    st.fixed_dictionaries({"$lte": _num}),
    st.fixed_dictionaries({"$in": st.lists(_num, min_size=1, max_size=3)}),
    st.fixed_dictionaries({"$nin": st.lists(_num, min_size=1, max_size=3)}),
)
_simple = st.dictionaries(st.sampled_from(_FIELDS), _leaf_cond, min_size=1, max_size=2)
_filter = st.one_of(
    _simple,
    st.fixed_dictionaries({"$and": st.lists(_simple, min_size=1, max_size=2)}),
    st.fixed_dictionaries({"$or": st.lists(_simple, min_size=1, max_size=2)}),
)


_PROP_ROWS = [
    {"id": i, "a": a, "b": b}
    for i, (a, b) in enumerate(
        (a, b)
        for a in [None, -2, 0, 1, 3]
        for b in [None, -1, 0, 2]
    )
]


@pytest.fixture(scope="module")
def prop_rows(spark):
    rows = _PROP_ROWS
    df = spark.createDataFrame(
        [(r["id"], r["a"], r["b"]) for r in rows], "id int, a int, b int"
    ).cache()
    df.count()
    return rows, df


@settings(max_examples=60, deadline=None)
@given(flt=_filter)
@pytest.mark.slow  # heavyweight e2e/equivalence — full-suite tier
def test_property_compiled_matches_python(prop_rows, flt):
    rows, df = prop_rows
    expected = {r["id"] for r in rows if _py_eval(flt, r)}
    got = {r.id for r in df.filter(compile_filter(flt)).collect()}
    assert got == expected, flt


@settings(max_examples=300, deadline=None)
@given(flt=_filter)
def test_property_mask_matches_python(flt):
    """The numpy-mask target of the same walk keeps the reference-intent
    semantics, P11 included (the slow test above pins the Column target
    to the same evaluator)."""
    rows = _PROP_ROWS
    columns = {
        f: (
            "num",
            np.array([r[f] or 0 for r in rows], dtype=np.int64),
            np.array([r[f] is not None for r in rows]),
        )
        for f in _FIELDS
    }
    mask = compile_mask(flt, columns, len(rows))
    got = {r["id"] for r, hit in zip(rows, mask) if hit}
    assert got == {r["id"] for r in rows if _py_eval(flt, r)}, flt


def test_mask_refuses_what_it_cannot_match_exactly():
    """Leaves whose Spark casts or NaN ordering a mask would not
    reproduce raise NotExact; structural errors raise the same
    FilterCompileError as compile_filter."""
    columns = {"n": ("num", np.array([1, 2]), np.array([True, True]))}
    for flt in ({"m": 1}, {"n": "1"}, {"n": True}, {"n": float("nan")}, {"n": {"$in": [1, "a"]}}):
        with pytest.raises(NotExact):
            compile_mask(flt, columns, 2)
    for flt in ({"$nor": []}, {"n": {"$gt": "x"}}, {"n": {}}, [1]):
        with pytest.raises(FilterCompileError) as mask_err:
            compile_mask(flt, columns, 2)
        with pytest.raises(FilterCompileError) as col_err:
            compile_filter(flt)
        assert str(mask_err.value) == str(col_err.value)
