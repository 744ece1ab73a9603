"""Vector similarity as Catalyst higher-order-function expressions.

Re-expresses the reference's Python-loop vector math
(``/root/reference/src/vectra_py/item_selector.py:9-50`` — dot product,
L2 norm, cosine, normalized cosine; SURVEY.md §2.3 V1–V4) as Spark SQL
higher-order functions (``zip_with`` / ``aggregate`` / ``transform``).

Why expressions and not a pandas UDF: at query time the pattern is a
1×N semi-join (one literal query vector against every row). A HOF
expression runs in the JVM — no Python worker, no Arrow hop, no
serialization of the vector column — and feeds directly into
``TakeOrderedAndProject`` for top-k. It is interpreted, not compiled:
``ZipWith``/``ArrayAggregate`` and their lambda variables are
``CodegenFallback``, so the projection holding them runs outside
whole-stage codegen (no ``*(n)`` marker in the physical plan). A
vectorized numpy matmul UDF wins only for N×M all-pairs scoring, which
lives in :mod:`vectra_py_spark.operators.similarity`.

All math is done in DOUBLE regardless of the stored element type
(test fixtures store FLOAT) so scores are engine-portable and match the
DuckDB oracle bit-for-bit after rounding.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "vector_literal",
    "to_double_array",
    "dot",
    "l2_norm",
    "cosine_similarity",
    "normalized_cosine",
    "cosine_to_query",
    "query_norm",
    "project_expr",
]


def vector_literal(vec: Sequence[float]) -> Column:
    """A literal ARRAY<DOUBLE> column for a driver-side query vector.

    The reference passes the query vector as a Python list parameter
    (``local_index.py:125-128``); here it travels to executors as a plan
    literal (constant-folded, no broadcast variable needed).
    """
    return F.array(*[F.lit(float(x)) for x in vec])


def to_double_array(col: Column | str) -> Column:
    """Cast ARRAY<anything numeric> to ARRAY<DOUBLE>."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Elementwise dot product — left-to-right sum, like the reference's
    ``sum(a*b for ...)`` (``item_selector.py:82-89``)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(v: Column) -> Column:
    """Euclidean norm (``item_selector.py:20-38``, minus the list-of-list
    crutch — ingest enforces flat vectors instead)."""
    return F.sqrt(
        F.aggregate(
            F.transform(v, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """Plain cosine — dot/(‖a‖·‖b‖) (``item_selector.py:9-18``)."""
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def normalized_cosine(
    dot_col: Column, norm_a: Column, norm_b: Column
) -> Column:
    """Cosine from a precomputed dot product and stored norms — the hot
    scoring path (``item_selector.py:40-50``; norm precomputed at ingest,
    ``local_index.py:209``)."""
    return dot_col / (norm_a * norm_b)


def query_norm(query: Sequence[float]) -> float:
    """The query vector's L2 norm as every cosine-to-query scorer takes
    it: a left-to-right Python sum of squares, then ``** 0.5``."""
    return sum(x * x for x in query) ** 0.5


def cosine_to_query(
    vector_col: Column | str,
    query: Sequence[float],
    norm_col: Column | str | None = None,
) -> Column:
    """Score every row against one query vector.

    Computes the query norm once on the driver (``local_index.py:135``)
    and embeds it as a literal; uses the stored per-row ``norm`` column
    when available (A1) to avoid recomputing row norms per query.
    """
    vc = F.col(vector_col) if isinstance(vector_col, str) else vector_col
    q = [float(x) for x in query]
    q_norm = query_norm(q)
    if q_norm == 0.0:
        return F.lit(0.0)
    d = dot(vc, vector_literal(q))
    if norm_col is not None:
        nc = F.col(norm_col) if isinstance(norm_col, str) else norm_col
        return normalized_cosine(d, nc, F.lit(q_norm))
    return d / (l2_norm(vc) * F.lit(q_norm))


def dot_sql(vector_expr: str, query: Sequence[float]) -> str:
    """DuckDB-oracle SQL for :func:`dot` against a literal query vector."""
    lit = "[" + ", ".join(repr(float(x)) for x in query) + "]::DOUBLE[]"
    return f"list_dot_product({vector_expr}::DOUBLE[], {lit})"


def cosine_to_query_sql(vector_expr: str, query: Sequence[float]) -> str:
    """DuckDB-oracle SQL mirroring :func:`cosine_to_query` (explicit
    dot/norms in DOUBLE so both engines sum in the same order)."""
    q = [float(x) for x in query]
    q_norm = query_norm(q)
    d = dot_sql(vector_expr, q)
    n = f"sqrt(list_dot_product({vector_expr}::DOUBLE[], {vector_expr}::DOUBLE[]))"
    return f"({d} / ({n} * {q_norm!r}))"


def project_expr(
    planes: "list[list[float]]", vector_col: str = "embedding", dp: int = 6
) -> Column:
    """Project a vector onto literal planes: k rounded dot products as
    an array column — random-projection dimensionality reduction
    (Johnson–Lindenstrauss) as a pure shuffle-free projection. Planes
    come from :func:`vectra_py_spark.operators.similarity.seeded_hyperplanes`
    (or a trained PCA basis at production scale); either way they are
    plan literals, which Catalyst constant-folds once per plan.
    """
    # + 0.0 collapses IEEE −0.0 to +0.0 (cross-engine hash parity)
    return F.array(
        *[
            F.round(dot(F.col(vector_col), vector_literal(p)), dp)
            + F.lit(0.0)
            for p in planes
        ]
    )
