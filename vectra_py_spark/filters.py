"""Mongo-subset metadata-filter AST → Spark ``Column`` compiler, with a
second target that evaluates the same AST as a numpy mask.

Re-expresses the reference's interpreted filter evaluator
(``/root/reference/src/vectra_py/item_selector.py:52-127``, SURVEY.md
§2.2 P1–P11) as a compiled Catalyst expression tree, so predicates push
down into the Parquet scan (row-group skipping + column pruning) instead
of being evaluated row-at-a-time in Python.

Supported operators (Pinecone/Mongo subset, ``custom_types.py:53-64``):

- ``$and`` / ``$or`` — arrays of sub-filters
- ``$eq`` / ``$ne`` — any scalar (int | float | str | bool)
- ``$gt`` / ``$gte`` / ``$lt`` / ``$lte`` — numeric comparisons
- ``$in`` / ``$nin`` — membership in a list of strings/numbers
- plain ``{field: value}`` — implicit ``$eq``
- unknown ``$op`` inside a dict — treated as ``$eq`` (reference fallback,
  ``item_selector.py:125-127``)

Intended-vs-written divergences (SURVEY.md §2.9) resolved toward intent:
the reference's broken dispatch (`metadataFilter`, §2.9.1), inverted
bool guard on ``$in``/``$nin`` (§2.9.2) and int-only numeric guards
(§2.9.3) are implemented as *intended*: membership over non-bool
scalars, comparisons over any number.

**Missing-field semantics (P11)** — the load-bearing divergence from SQL
three-valued logic: the reference rejects an item whose filtered field is
absent for EVERY operator, including ``$ne`` and ``$nin``
(``item_selector.py:97-98``). In SQL, ``col <> 5`` is NULL (filtered out)
for NULL col — which happens to match — but ``NOT col IN (...)`` is also
NULL-out, and a naive ``~isin`` would keep nothing anyway; we make the
rule explicit with ``isNotNull() &`` on every leaf so the compiled tree
is correct under negation/``$or`` composition too.

Scale: a compiled predicate is pure Catalyst — codegen'd, pushed into
the scan, and partition-prunable; zero Python in the executor hot path.

One walk (``_walk``) validates the AST and combines the leaves; it has
two leaf targets. :func:`compile_filter` builds the ``Column``;
:func:`compile_mask` evaluates the filter over a driver snapshot's typed
columns (``SparkVectorIndex.query_items``) and raises :class:`NotExact`
for a leaf it cannot evaluate exactly as Spark would, so the caller
falls back to the ``Column``.
"""

from __future__ import annotations

import math
import operator
from collections.abc import Callable, Mapping, Sequence
from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["compile_filter", "compile_mask", "FilterCompileError", "NotExact"]

_NUMERIC_OPS = frozenset({"$gt", "$gte", "$lt", "$lte"})
_COMPARE = {
    "$eq": operator.eq,
    "$ne": operator.ne,
    "$gt": operator.gt,
    "$gte": operator.ge,
    "$lt": operator.lt,
    "$lte": operator.le,
}
_ARROW_COMPARE = {"$eq": pc.equal, "$ne": pc.not_equal}


class FilterCompileError(ValueError):
    """Raised for a structurally invalid filter AST."""


class NotExact(Exception):
    """A driver-side evaluation cannot promise Spark's exact answer; the
    caller falls back to the Spark plan. The message is the reason."""


ColumnResolver = Callable[[str], Column]
Leaf = Callable[[str, str, Any], Any]
Const = Callable[[bool], Any]
MaskColumn = tuple[str, Any, np.ndarray]


def _default_resolver(field: str) -> Column:
    return F.col(field)


def _require_scalar(op: str, value: Any) -> None:
    if not isinstance(value, (int, float, str, bool)):
        raise FilterCompileError(
            f"{op} requires an int/float/str/bool value, got {type(value).__name__}"
        )


def _require_number(op: str, value: Any) -> None:
    # Intent semantics (SURVEY.md §2.9.3): any number, not just int.
    # bool is an int subclass in Python; the reference's upstream excludes
    # booleans from ordered comparisons.
    if isinstance(value, bool) or not isinstance(value, (int, float)):
        raise FilterCompileError(f"{op} requires a numeric value, got {value!r}")


def _require_membership_list(op: str, value: Any) -> Sequence[Any]:
    if not isinstance(value, (list, tuple)) or any(
        isinstance(v, bool) or not isinstance(v, (int, float, str)) for v in value
    ):
        # Intent semantics (§2.9.2): list of strings/numbers, booleans excluded.
        raise FilterCompileError(f"{op} requires a list of strings/numbers")
    return value


def _checked_leaf(field: str, op: str, value: Any, leaf: Leaf, const: Const):
    """Validate one ``{field: {op: value}}`` leaf and hand it to the
    target's ``leaf`` with a normalized operator: ``$eq``, ``$ne``, one
    of the ordered comparisons, or ``$in``/``$nin`` with a list. The
    validation lives here, once, so every target raises the same
    ``FilterCompileError`` for the same filter."""
    if value is None:
        # Reference: a None filter value rejects the item (`select` walks into
        # metadata_filter with value None → every branch returns False).
        return const(False)
    if op in ("$in", "$nin"):
        return leaf(field, op, list(_require_membership_list(op, value)))
    if op in _NUMERIC_OPS:
        _require_number(op, value)
        return leaf(field, op, value)
    _require_scalar(op, value)
    # Unknown-op fallback = $eq (`item_selector.py:125-127`).
    return leaf(field, "$ne" if op == "$ne" else "$eq", value)


def _walk_field(field: str, spec: Any, leaf: Leaf, const: Const):
    if isinstance(spec, Mapping):
        # {"field": {"$op": v, ...}} — conjunction over the ops in the dict
        # (reference evaluates each key through metadata_filter and ANDs).
        parts = [_checked_leaf(field, op, v, leaf, const) for op, v in spec.items()]
        if not parts:
            raise FilterCompileError(f"empty operator dict for field {field!r}")
        out = parts[0]
        for p in parts[1:]:
            out = out & p
        return out
    # Plain value — implicit $eq (`item_selector.py:70-72`).
    return _checked_leaf(field, "$eq", spec, leaf, const)


def _walk(filter_ast: Mapping[str, Any] | None, leaf: Leaf, const: Const):
    """The one walk over a filter AST. A target supplies ``leaf(field,
    op, value)`` for a validated comparison and ``const(bool)``; its
    results combine with ``&`` and ``|``, which both Spark ``Column``s
    and numpy boolean arrays implement."""
    if filter_ast is None or len(filter_ast) == 0:
        return const(True)
    if not isinstance(filter_ast, Mapping):
        raise FilterCompileError(f"filter must be a dict, got {type(filter_ast).__name__}")

    parts = []
    for key, value in filter_ast.items():
        if key in ("$and", "$or"):
            if not isinstance(value, Sequence) or isinstance(value, (str, bytes)):
                raise FilterCompileError(f"{key} requires a list of filters")
            sub = [_walk(f, leaf, const) for f in value]
            acc = const(key == "$and")
            for s in sub:
                acc = acc & s if key == "$and" else acc | s
            parts.append(acc)
        elif key.startswith("$"):
            raise FilterCompileError(f"unknown logical operator {key!r}")
        else:
            parts.append(_walk_field(key, value, leaf, const))

    out = parts[0]
    for p in parts[1:]:
        out = out & p  # top level is a conjunction (`item_selector.py:57-69`)
    return out


def compile_filter(
    filter_ast: Mapping[str, Any] | None,
    resolve: ColumnResolver | None = None,
) -> Column:
    """Compile a Mongo-subset filter dict to a single boolean ``Column``.

    ``resolve`` maps a field name to a ``Column`` — the default is a plain
    top-level column; index callers pass a resolver that falls back to
    ``metadata[field]`` for non-projected fields (the Spark analog of the
    reference's indexed/side-file metadata split, SURVEY.md §1.1).
    """
    resolve = resolve or _default_resolver

    def leaf(field: str, op: str, value: Any) -> Column:
        # The reference's missing-field rule (P11, `item_selector.py:97-98`):
        # absent metadata never matches, for every operator — hence the
        # explicit ``isNotNull() &`` guard.
        col = resolve(field)
        if op == "$in":
            cmp = col.isin(*value) if value else F.lit(False)
        elif op == "$nin":
            cmp = ~col.isin(*value) if value else F.lit(True)
        else:
            cmp = _COMPARE[op](col, F.lit(value))
        return col.isNotNull() & cmp

    return _walk(filter_ast, leaf, F.lit)


def _literal_kind(value: Any) -> str | None:
    """``"num"`` for an int64-range int or a non-NaN float, ``"str"`` for
    a string: the literals whose Spark comparison numpy/Arrow reproduce
    exactly on a column of the same kind."""
    if isinstance(value, bool):
        return None
    if isinstance(value, int):
        return "num" if -(2**63) <= value < 2**63 else None
    if isinstance(value, float):
        return None if math.isnan(value) else "num"
    return "str" if isinstance(value, str) else None


def compile_mask(
    filter_ast: Mapping[str, Any] | None,
    columns: Mapping[str, MaskColumn],
    n: int,
) -> np.ndarray:
    """Compile the same filter AST to a boolean numpy mask over ``n``
    driver rows — the second target of the walk behind
    :func:`compile_filter`, so a structurally invalid filter raises the
    same ``FilterCompileError``.

    ``columns`` maps a field to ``("num", int64 values, valid mask)``
    (a BIGINT or INT column, nulls filled) or ``("str", Arrow string
    array, valid mask)``. A leaf on any other field, or whose literal
    is not of its column's kind (int/float on ``num``, str on ``str``),
    raises :class:`NotExact`: Spark's casts and NaN ordering are not
    reproduced here. Every leaf keeps the P11 rule (null never matches).
    """

    def leaf(field: str, op: str, value: Any) -> np.ndarray:
        if field not in columns:
            raise NotExact(f"filter field {field!r} is not a typed indexed column")
        kind, data, valid = columns[field]
        lits = value if op in ("$in", "$nin") else [value]
        if any(_literal_kind(v) != kind for v in lits):
            raise NotExact(f"filter {op} {value!r} on the {kind} column {field!r}")
        if op in ("$in", "$nin"):
            if not value:
                hit = np.zeros(n, dtype=bool)
            elif kind == "num":
                hit = np.isin(data, value)
            else:
                hit = _arrow_bool(pc.is_in(data, value_set=pa.array(value, pa.string())))
            cmp = hit if op == "$in" else ~hit
        elif kind == "num":
            cmp = _COMPARE[op](data, value)
        else:
            cmp = _arrow_bool(_ARROW_COMPARE[op](data, pa.scalar(value, pa.string())))
        return valid & cmp

    return _walk(filter_ast, leaf, lambda b: np.full(n, b))


def _arrow_bool(arr) -> np.ndarray:
    return pc.fill_null(arr, False).to_numpy(zero_copy_only=False)


def filter_to_sql(
    filter_ast: Mapping[str, Any] | None,
    field_sql: Callable[[str], str] | None = None,
) -> str:
    """Render the same filter AST as ANSI SQL (for DuckDB oracles/tests).

    Mirrors :func:`compile_filter` exactly, including the P11
    missing-field guard (`field IS NOT NULL AND ...`).
    """
    if filter_ast is None or len(filter_ast) == 0:
        return "TRUE"
    field_sql = field_sql or (lambda f: f)

    def lit(v: Any) -> str:
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, str):
            escaped = v.replace("'", "''")
            return f"'{escaped}'"
        return repr(v)

    def leaf(field: str, op: str, v: Any) -> str:
        f = field_sql(field)
        if v is None:
            return "FALSE"
        if op in ("$eq", "$ne"):
            sym = "=" if op == "$eq" else "<>"
            return f"({f} IS NOT NULL AND {f} {sym} {lit(v)})"
        if op in _NUMERIC_OPS:
            sym = {"$gt": ">", "$gte": ">=", "$lt": "<", "$lte": "<="}[op]
            return f"({f} IS NOT NULL AND {f} {sym} {lit(v)})"
        if op == "$in":
            if not v:
                return "FALSE"
            return f"({f} IS NOT NULL AND {f} IN ({', '.join(lit(x) for x in v)}))"
        if op == "$nin":
            if not v:
                return f"({f} IS NOT NULL)"
            return f"({f} IS NOT NULL AND {f} NOT IN ({', '.join(lit(x) for x in v)}))"
        return f"({f} IS NOT NULL AND {f} = {lit(v)})"

    def walk(ast: Mapping[str, Any]) -> str:
        terms: list[str] = []
        for key, value in ast.items():
            if key == "$and":
                terms.append("(" + " AND ".join(walk(f) for f in value) + ")")
            elif key == "$or":
                terms.append("(" + " OR ".join(walk(f) for f in value) + ")")
            elif isinstance(value, Mapping):
                terms.append(
                    "(" + " AND ".join(leaf(key, op, v) for op, v in value.items()) + ")"
                )
            else:
                terms.append(leaf(key, "$eq", value))
        return "(" + " AND ".join(terms) + ")" if len(terms) > 1 else terms[0]

    return walk(filter_ast)
