"""Correctness checkers. Each returns ``None`` when the engine's output is
right and a one-line reason when it is not; a reason counts the operation
as failed.

References are computed independently of the engine: numpy brute force
for top-k, and a driver-side dict model for table state.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

import numpy as np


def cosine(X: np.ndarray, norms: np.ndarray, q: Sequence[float]) -> np.ndarray:
    qv = np.asarray(q, dtype=np.float64)
    return (X @ qv) / (norms * np.linalg.norm(qv))


def check_topk(
    got: Sequence[tuple[str, float]],
    cand_ids: Sequence,
    cand_scores: np.ndarray,
    k: int,
    eps: float = 1e-9,
) -> str | None:
    """``got`` is the engine's top-k as ``(id, score)`` in returned order;
    the candidates are every row the query may return, with their exact
    scores. The order contract is (score DESC, id ASC). Scores within
    ``eps`` of each other are treated as tied, because the engine and
    numpy sum in different orders (and some paths round scores)."""
    want = min(k, len(cand_ids))
    if len(got) != want:
        return f"{len(got)} rows, expected {want}"
    true = dict(zip(np.asarray(cand_ids).tolist(), np.asarray(cand_scores).tolist()))
    ids = [g[0] for g in got]
    if len(set(ids)) != len(ids):
        return "duplicate id in result"
    for gid, score in got:
        if gid not in true:
            return f"id {gid!r} is not a candidate"
        if abs(float(score) - true[gid]) > eps:
            return f"score of {gid!r} is {score}, expected {true[gid]}"
    for a, b in zip(ids, ids[1:]):
        ta, tb = true[a], true[b]
        if ta < tb - eps or (ta == tb and a > b):
            return f"order: {a!r} ({ta}) before {b!r} ({tb})"
    chosen = set(ids)
    rest = [s for i, s in true.items() if i not in chosen]
    if rest and max(rest) > min(true[i] for i in ids) + eps:
        return "a better-scoring row is missing from the result"
    return None


def check_table(
    got: Mapping[str, tuple[tuple[float, ...], int | None]],
    model: Mapping[str, tuple[tuple[float, ...], int | None]],
) -> str | None:
    """Exact equality of ``id -> (vector, category)`` against the model."""
    if len(got) != len(model):
        return f"{len(got)} rows, model has {len(model)}"
    for item_id, want in model.items():
        have = got.get(item_id)
        if have is None:
            return f"id {item_id!r} missing"
        if have != want:
            return f"id {item_id!r} differs from the model"
    return None


def check_chunk_counts(
    got: Mapping[str, int], want: Mapping[str, int]
) -> str | None:
    """Per-document chunk counts: every document has exactly the chunks
    its current text splits into, and no chunk belongs to a document
    that is not in the catalog (an orphan)."""
    orphans = set(got) - set(want)
    if orphans:
        return f"{len(orphans)} documents own chunks but are not in the catalog"
    for doc_id, n in want.items():
        if got.get(doc_id, 0) != n:
            return f"document {doc_id} has {got.get(doc_id, 0)} chunks, expected {n}"
    return None


def check_documents(
    got: Sequence[tuple[str, str, float, Sequence[tuple[str, float]]]],
    chunk_scores: Mapping[str, float],
    cutoff: float,
    uri_to_id: Mapping[str, str],
    max_documents: int,
    eps: float = 1e-9,
) -> str | None:
    """A ``query_documents`` result as ``(document_id, uri, doc_score,
    [(chunk_id, chunk_score), ...])``. Each chunk's score must be its
    exact cosine and at least the ``max_chunks``-th best chunk score
    (``cutoff``); a document scores the mean of its chunks; documents
    come in (doc_score DESC, document_id ASC) order and map to their
    catalog uri."""
    if not got or len(got) > max_documents:
        return f"{len(got)} documents returned (max {max_documents})"
    for doc_id, uri, doc_score, chunks in got:
        if uri_to_id.get(uri) != doc_id:
            return f"document {doc_id} does not match uri {uri!r}"
        if not chunks:
            return f"document {doc_id} returned without chunks"
        for cid, score in chunks:
            true = chunk_scores.get(cid)
            if true is None or abs(score - true) > eps:
                return f"chunk {cid} score {score} != {true}"
            if true < cutoff - eps:
                return f"chunk {cid} is outside the top chunks"
        mean = sum(s for _, s in chunks) / len(chunks)
        if abs(mean - doc_score) > eps:
            return f"document {doc_id} score {doc_score} != chunk mean {mean}"
    for (a, _, sa, _), (b, _, sb, _) in zip(got, got[1:]):
        if sa < sb - eps or (sa == sb and a > b):
            return f"order: {a} ({sa}) before {b} ({sb})"
    return None


def check_rendered(
    got: Sequence[tuple[str, str, float, Sequence]],
    uri_to_id: Mapping[str, str],
    max_documents: int,
) -> str | None:
    """A ``render_document_sections`` result as ``(document_id, uri,
    doc_score, sections)``: at most ``max_documents`` catalog documents,
    each with rendered sections, in doc_score DESC order."""
    if not got or len(got) > max_documents:
        return f"{len(got)} documents rendered (max {max_documents})"
    for doc_id, uri, _, sections in got:
        if uri_to_id.get(uri) != doc_id:
            return f"document {doc_id} does not match uri {uri!r}"
        if not sections:
            return f"document {doc_id} rendered no section"
    if any(a[2] < b[2] for a, b in zip(got, got[1:])):
        return "documents out of doc_score order"
    return None
