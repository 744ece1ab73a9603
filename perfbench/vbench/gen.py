"""Seeded input generators.

Every input a workload hands the engine comes from here, as a pure
function of ``(seed, stream)``: the same seed gives the same vectors,
documents and queries, and a different seed gives different ones. The
engine only ever sees the generated values (written to Parquet or passed
as call arguments), never the seed.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
N_CLUSTERS = 32
N_CATEGORIES = 10

# Stream tags keep independent draws of one seed apart.
_CENTERS, _CORPUS, _QUERIES, _DOCS, _EDITS, _TEXTQ = range(6)


def _rng(seed: int, stream: int, *extra: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream, *extra])


def _centers(seed: int) -> np.ndarray:
    return _rng(seed, _CENTERS).standard_normal((N_CLUSTERS, DIM))


def vector_rows(seed: int, n: int):
    """``n`` clustered vectors: ``(ids, X float64[n, DIM], category int64[n])``.

    Vectors sit around ``N_CLUSTERS`` shared centres (embeddings are
    clustered, and it keeps IVF cells uneven the way real ones are);
    ``category`` is the typed indexed metadata field, ``N_CATEGORIES``
    values.
    """
    rng = _rng(seed, _CORPUS, 0)
    assign = rng.integers(0, N_CLUSTERS, n)
    X = _centers(seed)[assign] + 0.8 * rng.standard_normal((n, DIM))
    cat = rng.integers(0, N_CATEGORIES, n).astype(np.int64)
    ids = [f"v{i:07d}" for i in range(n)]
    return ids, X, cat


def edit_batch(seed: int, batch: int, live: np.ndarray, n_upserts: int, n_deletes: int):
    """One small write batch against the rows ``live`` (row positions):
    positions to overwrite with new vectors and categories, and disjoint
    positions to delete. Returns ``(upsert_pos, vectors, categories,
    delete_pos)``."""
    rng = _rng(seed, _EDITS, batch)
    pos = rng.choice(live, n_upserts + n_deletes, replace=False)
    assign = rng.integers(0, N_CLUSTERS, n_upserts)
    X = _centers(seed)[assign] + 0.8 * rng.standard_normal((n_upserts, DIM))
    cat = rng.integers(0, N_CATEGORIES, n_upserts).astype(np.int64)
    return pos[:n_upserts], X, cat, pos[n_upserts:]


def query_vectors(seed: int, n: int, stream: int = 0) -> np.ndarray:
    """Query vectors drawn like corpus rows (near a centre), so top-k
    results are real neighbours rather than noise."""
    rng = _rng(seed, _QUERIES, stream)
    assign = rng.integers(0, N_CLUSTERS, n)
    return _centers(seed)[assign] + 0.8 * rng.standard_normal((n, DIM))


def category_draws(seed: int, n: int) -> list[int]:
    return [int(c) for c in _rng(seed, _QUERIES, 99).integers(0, N_CATEGORIES, n)]


def write_vectors(path: Path, ids, X: np.ndarray, cat: np.ndarray) -> None:
    """Parquet with ``vec_id BIGINT, id STRING, vector ARRAY<DOUBLE>,
    category BIGINT``; ``vec_id`` is the row's position in ``ids``."""
    flat = pa.array(np.ascontiguousarray(X, dtype=np.float64).ravel())
    vec = pa.FixedSizeListArray.from_arrays(flat, X.shape[1]).cast(
        pa.list_(pa.float64())
    )
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(len(ids)), pa.int64()),
            "id": pa.array(ids, pa.string()),
            "vector": vec,
            "category": pa.array(cat, pa.int64()),
        }
    )
    pq.write_table(table, str(path))


# -- documents -----------------------------------------------------------
_SYLLABLES = (
    "ka lo mi ra ten so vu pe dri gan shu ol ex qui nor bel "
    "ta ri mon ael fir guz hal ip jor kes lun"
).split()


def vocabulary(size: int = 1500) -> list[str]:
    """Pseudo-words of 2-3 syllables, unique, most frequent first. The
    language is the same for every seed: with Zipf frequencies a few
    words make up much of the text, so a seeded vocabulary would change
    the corpus size from seed to seed."""
    rng = _rng(0, _DOCS, 0)
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < size:
        k = int(rng.integers(2, 4))
        w = "".join(_SYLLABLES[int(i)] for i in rng.integers(0, len(_SYLLABLES), k))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _sentence(rng: np.random.Generator, vocab: list[str]) -> str:
    n = int(rng.integers(6, 15))
    # Zipf-ish word frequencies, as in natural text
    idx = (rng.zipf(1.3, n) - 1) % len(vocab)
    words = [vocab[int(i)] for i in idx]
    return " ".join(words).capitalize() + "."


def documents(seed: int, n: int) -> list[tuple[str, str]]:
    """``n`` documents ``(uri, text)``: 4 paragraphs of 3 sentences, so
    the splitter's paragraph and sentence separators both fire. The
    fixed shape keeps the corpus size (and so the chunk count, ingest
    time and bytes on disk) nearly the same from seed to seed."""
    vocab = vocabulary()
    rng = _rng(seed, _DOCS, 1)
    out = []
    for i in range(n):
        paras = []
        for _ in range(4):
            sents = [_sentence(rng, vocab) for _ in range(3)]
            paras.append(" ".join(sents))
        out.append((f"https://docs.example/s{seed}/d{i:05d}.txt", "\n\n".join(paras)))
    return out


def edited_subset(seed: int, docs: list[tuple[str, str]], frac: float, round_no: int):
    """A seeded ``frac`` subset of ``docs`` with one sentence appended to
    each text: a re-crawl that replaces documents by uri."""
    vocab = vocabulary()
    rng = _rng(seed, _EDITS, round_no)
    k = max(1, int(round(frac * len(docs))))
    picks = sorted(int(i) for i in rng.choice(len(docs), k, replace=False))
    return [(docs[i][0], docs[i][1] + "\n\n" + _sentence(rng, vocab)) for i in picks]


def query_texts(seed: int, n: int) -> list[str]:
    """Query texts of 3-6 words drawn from the corpus vocabulary."""
    vocab = vocabulary()
    rng = _rng(seed, _TEXTQ)
    out = []
    for _ in range(n):
        idx = (rng.zipf(1.3, int(rng.integers(3, 7))) - 1) % len(vocab)
        out.append(" ".join(vocab[int(i)] for i in idx))
    return out


def write_documents(path: Path, docs: list[tuple[str, str]]) -> None:
    table = pa.table(
        {
            "uri": pa.array([u for u, _ in docs], pa.string()),
            "text": pa.array([t for _, t in docs], pa.string()),
        }
    )
    pq.write_table(table, str(path))
