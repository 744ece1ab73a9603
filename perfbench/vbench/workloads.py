"""The workloads and the run that drives them.

One process, one closed-loop client: the next request is sent only when
the previous one has returned, and nothing else runs beside it. Each
workload sets itself up ``SETUP_REPS`` times (``setup_s`` is the median
of those), warms up, then runs its timed window, checking every result
against a reference computed outside the engine.

The window is a fixed count of the workload's request cycles, sized from
``--seconds`` at the cycle's nominal duration on a 4-core host. A fresh
JVM keeps getting faster for a minute or more (commit latency falls over
its first several commits); with a count rather than a deadline, every
run takes its samples at the same point of that curve, so a slow host
only makes the samples slower and does not also move them to an earlier,
slower part of the curve. A window that runs past ``WINDOW_CAP`` times
``--seconds`` stops early, to bound the run's length on a very slow host.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

from . import check, gen, host, spec
from .trace import Tracer

SETUP_REPS = 3
WINDOW_CAP = 3.0
TOP_K = 10

# serve: an index that fits the Spark cache (10k x 64 doubles, 5 MB)
SERVE_ROWS = 10_000
SERVE_BUCKETS = 16
IVF_CELLS = 8
IVF_NPROBE = 2
BATCH_QUERIES = 100
COMMIT_UPSERTS = 4
COMMIT_DELETES = 2
# One cycle of serve's closed loop: a small commit of upserts and deletes
# (the partition-scoped MERGE and Parquet rewrite), the first query_items
# after it (the commit dropped the cache, so that read misses it), a
# batch pass, then single top-k requests (alternately unfiltered and
# filtered) and IVF probes on the refilled cache. Writes and reads share
# the window, so every kind of sample is spread over the whole run.
SERVE_SCHEDULE = ("write", "batch") + ("query",) * 4 + ("probe",) + ("query",) * 4 + ("probe",)
SERVE_CYCLE_S = 4.0
# Warm-up: an untimed cycle, then more top-k requests, whose latency
# falls over the first couple of dozen requests of a fresh JVM.
SERVE_WARM_CYCLES = 1
SERVE_WARM_QUERIES = 8

# rag: a base corpus ingest, then cycles of: an ingest of new documents
# (the bulk sample) and a replace-by-uri re-ingest of a few existing ones
# (the write sample), each followed by the first render after it (the
# fresh sample) and by cached renders
RAG_BASE_DOCS = 12
RAG_BULK_DOCS = 10
REUPSERT_DOCS = 3
CHUNK_SIZE = 64
RAG_RENDERS = 3
RAG_CYCLE_S = 10.0
MAX_DOCUMENTS = 5
MAX_CHUNKS = 50
RAG_WARM_RENDERS = 3
# renders on the final state, checked against numpy at the end
RANK_CHECKS = 3


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in Path(path).rglob("*") if f.is_file())


def parquet_files(path: str) -> dict[str, tuple[int, int]]:
    """``relative path -> (size, mtime_ns)`` of a table's data files."""
    out = {}
    for f in Path(path).rglob("*.parquet"):
        st = f.stat()
        out[str(f.relative_to(path))] = (st.st_size, st.st_mtime_ns)
    return out


@dataclass
class Run:
    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    work: Path
    attempted: int = 0
    failed: int = 0
    samples: dict = field(default_factory=lambda: defaultdict(list))
    setup_times: list = field(default_factory=list)
    bulk_units: float = 0.0
    bulk_seconds: float = 0.0
    space_amp: float = 0.0
    window_s: float = 0.0
    window_gc_ms: float = 0.0
    layer: dict = field(default_factory=dict)

    def verdict(self, reason: str | None, what: str) -> None:
        """Count one operation; ``reason`` set means its output was wrong."""
        self.attempted += 1
        if reason is not None:
            self.failed += 1
            _log(f"check failed: {what}: {reason}")

    def attempt(self, what: str, fn):
        """Run one operation; if it raises, count it as failed and return
        ``None``."""
        try:
            return fn()
        except Exception:
            self.attempted += 1
            self.failed += 1
            _log(f"operation failed: {what}\n{traceback.format_exc()}")
            return None

    def setup(self, build, discard):
        """Set the workload up ``SETUP_REPS`` times; keep the last."""
        built = None
        for rep in range(SETUP_REPS):
            if built is not None:
                discard(built)
            t0 = time.perf_counter()
            built = build(rep)
            self.setup_times.append(time.perf_counter() - t0)
        return built

    def cycles(self, cycle_s: float) -> int:
        """How many cycles of nominal length ``cycle_s`` the window holds."""
        return max(1, round(self.seconds / cycle_s))

    def timed_window(self, cycle_s: float, cycle: list) -> None:
        """Run ``cycle`` (a list of steps) as many times as fit in
        ``seconds`` at ``cycle_s`` each; see the module docstring."""
        gc0, t0 = self.tracer.gc_ms(), time.perf_counter()
        cap = t0 + WINDOW_CAP * self.seconds
        try:
            for _ in range(self.cycles(cycle_s)):
                for step in cycle:
                    if time.perf_counter() > cap:
                        return
                    step()
        finally:
            self.window_s = time.perf_counter() - t0
            self.window_gc_ms = self.tracer.gc_ms() - gc0

    def timed_query(self, kind: str, module: str, function: str, make_df):
        """Build and collect one DataFrame request; the latency sample is
        the whole call, as a user waits for it."""
        tr = self.tracer
        with tr.span(module, function, kind=kind) as rec:
            t0 = time.perf_counter()
            df = make_df()
            t1 = time.perf_counter()
            rows = df.collect()
            t2 = time.perf_counter()
        self.samples[kind].append((t2 - t0) * 1e3)
        if tr.enabled:
            rec["build_ms"] = (t1 - t0) * 1e3
            rec["plan_ms"] = tr.plan_ms(df)
            rec["exec_ms"] = (t2 - t1) * 1e3 - rec["plan_ms"]
        return rows


# ---------------------------------------------------------------------------
# serve
# ---------------------------------------------------------------------------
def _top_candidates(ids: np.ndarray, scores: np.ndarray, m: int):
    """The ``m`` best-scoring candidates; every row left out scores no
    higher than the worst one kept, so a top-k check over them (k < m)
    is a check over all rows."""
    if len(ids) <= m:
        return ids, scores
    idx = np.argpartition(-scores, m)[:m]
    return ids[idx], scores[idx]


class VectorModel:
    """The driver-side reference of an index: every row ever written, by
    position, with a mask of the ones still live."""

    def __init__(self, ids, X: np.ndarray, cat: np.ndarray) -> None:
        self.ids = np.array(ids)
        self.X, self.cat = X.copy(), cat.copy()
        self.alive = np.ones(len(ids), dtype=bool)

    def live(self) -> np.ndarray:
        return np.flatnonzero(self.alive)

    def topk_candidates(self, q: np.ndarray, category: int | None):
        mask = self.alive if category is None else self.alive & (self.cat == category)
        X = self.X[mask]
        return _top_candidates(
            self.ids[mask], check.cosine(X, np.linalg.norm(X, axis=1), q), 4 * TOP_K
        )

    def table(self) -> dict:
        return {
            self.ids[i]: (tuple(self.X[i].tolist()), int(self.cat[i])) for i in self.live()
        }


def serve(run: Run) -> None:
    from pyspark.sql import types as T

    from vectra_py_spark.index import SparkVectorIndex
    from vectra_py_spark.operators import similarity as sim

    spark, tr = run.spark, run.tracer
    ids, X, cat = gen.vector_rows(run.seed, SERVE_ROWS)
    corpus = run.work / "corpus.parquet"
    gen.write_vectors(corpus, ids, X, cat)
    # X, norms and vec_ids are the generated corpus, which the batch scorer
    # and the IVF layout keep; the model follows the index through writes
    model = VectorModel(ids, X, cat)
    vec_ids = np.arange(SERVE_ROWS)
    norms = np.linalg.norm(X, axis=1)
    # IVF reference: each row's cell is its max-dot centroid, lowest cell
    # id on ties (the engine's rule), from the engine's published centroids
    cents = np.array(sim.seeded_centroids(gen.DIM, IVF_CELLS))
    cell_of = np.argmax(X @ cents.T, axis=1)

    def build(rep):
        base = run.work / f"serve{rep}"
        ix = SparkVectorIndex(
            spark, str(base / "items"), vector_dim=gen.DIM,
            indexed_fields={"category": T.LongType()}, n_buckets=SERVE_BUCKETS,
        )
        ix.create()
        ix.merge_batch(spark.read.parquet(str(corpus)).select("id", "vector", "category"))
        tr.add("index.user_bytes", SERVE_ROWS * gen.DIM * 8)
        ix.items().count()  # fill the cache
        # the batch scorer and the IVF layout key rows by integer id and
        # read the generated corpus, cached, which the writes leave alone
        by_vec_id = spark.read.parquet(str(corpus)).select("vec_id", "vector").cache()
        by_vec_id.count()
        with tr.span("similarity", "ivf_write_index"):
            sim.ivf_write_index(
                by_vec_id, str(base / "ivf"), n_cells=IVF_CELLS, id_col="vec_id",
                vector_col="vector", dim=gen.DIM,
            )
        return ix, base, by_vec_id

    def discard(built):
        built[0].items().unpersist()
        built[2].unpersist()
        shutil.rmtree(built[1])

    ix, base, emb = run.setup(build, discard)
    ivf_path = str(base / "ivf")
    cell_files = {
        c: len(list((base / "ivf" / f"cell={c}").glob("*.parquet"))) for c in range(IVF_CELLS)
    }

    qv = gen.query_vectors(run.seed, 2048)
    cats = gen.category_draws(run.seed, 2048)
    bq = gen.query_vectors(run.seed, BATCH_QUERIES * 64, stream=1)
    recalls: list[float] = []
    nq = npr = nb = nw = 0

    def top_k(kind: str) -> None:
        """One query_items top-10; every other one filtered on the indexed
        field, the shape of ``entry()``."""
        nonlocal nq
        q = qv[nq % len(qv)]
        c = cats[nq % len(cats)] if nq % 2 else None
        nq += 1
        flt = {"category": {"$eq": c}} if c is not None else None
        rows = run.attempt("query_items", lambda: run.timed_query(
            kind, "index", "query_items",
            lambda: ix.query_items(q.tolist(), TOP_K, filter_ast=flt),
        ))
        if rows is not None:
            c_ids, c_sc = model.topk_candidates(q, c)
            run.verdict(
                check.check_topk([(r["id"], r["score"]) for r in rows], c_ids, c_sc, TOP_K),
                f"query_items ({kind})",
            )

    def probe() -> None:
        nonlocal npr
        q = qv[-1 - npr % len(qv)]
        npr += 1
        rows = run.attempt("ivf_topk_indexed", lambda: run.timed_query(
            "probe", "similarity", "ivf_topk_indexed",
            lambda: sim.ivf_topk_indexed(
                spark, ivf_path, q.tolist(), TOP_K, n_cells=IVF_CELLS,
                nprobe=IVF_NPROBE, id_col="vec_id", extra_cols=(),
                vector_col="vector",
            ),
        ))
        if rows is None:
            return
        d = cents @ q
        cells = sorted(range(IVF_CELLS), key=lambda c: (-d[c], c))[:IVF_NPROBE]
        scores = check.cosine(X, norms, q)
        mask = np.isin(cell_of, cells)
        c_ids, c_sc = _top_candidates(vec_ids[mask], scores[mask], 4 * TOP_K)
        got = [(int(r["vec_id"]), r["score"]) for r in rows]
        # the engine rounds IVF scores to 6 dp
        run.verdict(check.check_topk(got, c_ids, c_sc, TOP_K, eps=2e-6), "ivf_topk_indexed")
        exact, _ = _top_candidates(vec_ids, scores, TOP_K)
        recalls.append(len(set(exact.tolist()) & {g for g, _ in got}) / TOP_K)
        if tr.enabled:
            tr.spans[-1]["files_read_frac"] = sum(cell_files[c] for c in cells) / max(
                1, sum(cell_files.values())
            )

    def batch() -> None:
        nonlocal nb
        Q = bq[(nb % 64) * BATCH_QUERIES:(nb % 64 + 1) * BATCH_QUERIES]
        nb += 1
        t0 = time.perf_counter()
        rows = run.attempt("cosine_topk_batch", lambda: run.timed_query(
            "batch", "similarity", "cosine_topk_batch",
            lambda: sim.cosine_topk_batch(
                emb, Q.tolist(), TOP_K, id_col="vec_id", vector_col="vector"
            ),
        ))
        if rows is None:
            return
        run.bulk_seconds += time.perf_counter() - t0
        run.bulk_units += len(Q)
        per_q = defaultdict(list)
        for r in rows:
            per_q[int(r["query_id"])].append((int(r["vec_id"]), r["score"]))
        S = (X / norms[:, None]) @ (Q / np.linalg.norm(Q, axis=1)[:, None]).T
        reason = None if len(per_q) == len(Q) else f"{len(per_q)} of {len(Q)} queries"
        for qi in range(len(Q)):
            if reason is not None:
                break
            c_ids, c_sc = _top_candidates(vec_ids, S[:, qi], 4 * TOP_K)
            # batch scores are rounded to 6 dp
            reason = check.check_topk(per_q.get(qi, []), c_ids, c_sc, TOP_K, eps=2e-6)
        run.verdict(reason, "cosine_topk_batch")

    def commit_then_read() -> None:
        """Stage a few upserts and deletes (driver-side, untimed), commit
        them (the write sample), then the first query_items against the
        table the commit rewrote (the fresh sample)."""
        nonlocal nw
        up, up_X, up_cat, dele = gen.edit_batch(
            run.seed, nw, model.live(), COMMIT_UPSERTS, COMMIT_DELETES
        )
        nw += 1
        for i, v, c in zip(up, up_X, up_cat):
            ix.upsert_item(
                {"id": model.ids[i], "vector": v.tolist(), "metadata": {"category": int(c)}}
            )
        for i in dele:
            ix.delete_item(model.ids[i])
        t0 = time.perf_counter()
        if run.attempt("commit", lambda: ix.commit() or True):
            run.samples["write"].append((time.perf_counter() - t0) * 1e3)
            tr.add("index.user_bytes", COMMIT_UPSERTS * gen.DIM * 8)
            model.X[up], model.cat[up] = up_X, up_cat
            model.alive[dele] = False
        else:
            ix.cancel_update()
        top_k("fresh")

    steps = {"query": lambda: top_k("query"), "probe": probe, "batch": batch,
             "write": commit_then_read}

    # Warm-up, checked like the rest (see SERVE_WARM_CYCLES).
    for kind in SERVE_SCHEDULE * SERVE_WARM_CYCLES + ("query",) * SERVE_WARM_QUERIES:
        steps[kind]()
    run.samples.clear()
    recalls.clear()
    run.bulk_units = run.bulk_seconds = 0.0
    with tr.window(run.layer):
        run.timed_window(SERVE_CYCLE_S, [steps[k] for k in SERVE_SCHEDULE])
    run.layer["similarity.ivf_topk_indexed.recall_at_10"] = float(np.mean(recalls)) if recalls else 0.0

    rows = ix.items().select("id", "vector", "category").collect()
    run.verdict(
        check.check_table(
            {r["id"]: (tuple(r["vector"]), r["category"]) for r in rows}, model.table()
        ),
        "index after the writes",
    )
    run.space_amp = (dir_bytes(base / "items") + dir_bytes(base / "ivf")) / (
        (len(model.live()) + SERVE_ROWS) * gen.DIM * 8
    )
    run.layer["index.files_live"] = len(parquet_files(str(base / "items")))


# ---------------------------------------------------------------------------
# rag
# ---------------------------------------------------------------------------
def _doc_id(uri: str) -> str:
    return hashlib.md5(uri.encode()).hexdigest()


def rag(run: Run) -> None:
    from vectra_py_spark.document_index import SparkDocumentIndex
    from vectra_py_spark.embeddings import DeterministicEmbedder, scrub_newlines
    from vectra_py_spark.text.splitter import SplitterConfig, TextSplitter

    spark, tr = run.spark, run.tracer
    n_cycles = run.cycles(RAG_CYCLE_S)
    docs = gen.documents(run.seed, RAG_BASE_DOCS + RAG_BULK_DOCS * n_cycles)
    # reference chunking: the engine's splitter run on the driver, one
    # document at a time, with the index's settings (uris end in .txt)
    splitter = TextSplitter(
        SplitterConfig(chunk_size=CHUNK_SIZE, chunk_overlap=0, keep_separators=True, doc_type="txt")
    )
    current: dict[str, str] = {}
    want_chunks: dict[str, int] = {}
    uri_to_id: dict[str, str] = {}

    def build(rep):
        di = SparkDocumentIndex(spark, str(run.work / f"rag{rep}"), chunk_size=CHUNK_SIZE)
        di.create()
        return di

    # Set-up is the empty document index; ingests come after it, so the
    # two measure different work.
    di = run.setup(build, lambda built: shutil.rmtree(built.base_path))
    n_in = 0

    def upsert(batch: list[tuple[str, str]]) -> float | None:
        """Upsert ``batch`` with ``upsert_documents_df``; returns its
        seconds, or None if it raised."""
        nonlocal n_in
        path = run.work / f"batch{n_in}.parquet"
        n_in += 1
        gen.write_documents(path, batch)
        t0 = time.perf_counter()
        if not run.attempt("upsert_documents_df", lambda: di.upsert_documents_df(
            spark.read.parquet(str(path))
        ) or True):
            return None
        for u, t in batch:
            current[u] = t
            want_chunks[_doc_id(u)] = len(splitter.split(t))
            uri_to_id[u] = _doc_id(u)
        return time.perf_counter() - t0

    def check_catalog(what: str) -> None:
        counts = {
            r["document_id"]: r["count"]
            for r in di.index.items().groupBy("document_id").count().collect()
        }
        n_docs = di.documents().count()
        reason = (
            f"{n_docs} documents, expected {len(current)}"
            if n_docs != len(current)
            else check.check_chunk_counts(counts, want_chunks)
        )
        run.verdict(reason, what)

    queries = gen.query_texts(run.seed, 4096)
    recent: list[tuple[str, list]] = []
    n_q = n_bulk = n_w = 0

    def render(kind: str) -> None:
        nonlocal n_q, recent
        qt = queries[n_q % len(queries)]
        n_q += 1
        mark = len(tr.values.get("render.render_sections.ms", []))
        t0 = time.perf_counter()
        out = run.attempt("render_document_sections", lambda: di.render_document_sections(
            qt, max_documents=MAX_DOCUMENTS, max_chunks=MAX_CHUNKS
        ))
        if out is None:
            return
        run.samples[kind].append((time.perf_counter() - t0) * 1e3)
        if kind == "query" and tr.enabled:
            tr.add("render.request_ms", sum(tr.values["render.render_sections.ms"][mark:]))
        run.verdict(check.check_rendered(out, uri_to_id, MAX_DOCUMENTS), "render")
        recent = (recent + [(qt, out)])[-RANK_CHECKS:]

    def bulk_then_render() -> None:
        """Ingest the next new documents (the bulk sample); the write
        drops the index cache, so the render after it is a fresh read."""
        nonlocal n_bulk
        lo = RAG_BASE_DOCS + RAG_BULK_DOCS * n_bulk
        n_bulk += 1
        secs = upsert(docs[lo:lo + RAG_BULK_DOCS])
        if secs is not None:
            run.bulk_units += RAG_BULK_DOCS
            run.bulk_seconds += secs
        render("fresh")

    def reupsert_then_render() -> None:
        """A re-crawl of a few seeded documents with one sentence appended,
        replacing them by uri (the write sample), then a fresh read."""
        nonlocal n_w
        sub = gen.edited_subset(
            run.seed, sorted(current.items()), REUPSERT_DOCS / len(current), n_w
        )
        n_w += 1
        secs = upsert(sub)
        if secs is not None:
            run.samples["write"].append(secs * 1e3)
        render("fresh")

    renders = [lambda: render("query")] * RAG_RENDERS
    # The base corpus goes in first, untimed, in two halves: the first
    # ingest of a run is cold (JIT, Python worker start-up) and the second
    # is still well above the later ones. Then untimed renders (checked
    # like the rest) on the cache they left cold.
    half = RAG_BASE_DOCS // 2
    upsert(docs[:half])
    upsert(docs[half:RAG_BASE_DOCS])
    for _ in range(RAG_WARM_RENDERS):
        render("warm")
    run.samples.clear()
    with tr.window(run.layer):
        run.timed_window(
            RAG_CYCLE_S, [bulk_then_render] + renders + [reupsert_then_render] + renders
        )
    # untimed renders on the final state, for the rank check below
    for _ in range(RANK_CHECKS):
        render("check")

    check_catalog("catalog after replace-by-uri")
    # Rank check on the final state against numpy over every chunk vector.
    rows = di.index.items().select("id", "vector").collect()
    cid = np.array([r["id"] for r in rows])
    V = np.array([r["vector"] for r in rows])
    vn = np.linalg.norm(V, axis=1)
    emb = DeterministicEmbedder(dim=gen.DIM)
    for qt, out in recent:
        scores = check.cosine(V, vn, emb.create_embeddings([scrub_newlines(qt)])[0])
        cutoff = float(np.sort(scores)[-min(MAX_CHUNKS, len(scores))])
        qd = di.query_documents(qt, MAX_DOCUMENTS, MAX_CHUNKS).collect()
        got = [
            (r["document_id"], r["uri"], r["doc_score"], [(c["id"], c["score"]) for c in r["chunks"]])
            for r in qd
        ]
        reason = check.check_documents(
            got, dict(zip(cid.tolist(), scores.tolist())), cutoff, uri_to_id, MAX_DOCUMENTS
        )
        rendered = [(d, u, s) for d, u, s, sections in out if sections]
        if reason is None and rendered != [(d, u, s) for d, u, s, _ in got]:
            reason = "render_document_sections differs from query_documents"
        run.verdict(reason, "rag ranking")
    user = sum(len(t.encode()) for t in current.values()) + len(rows) * gen.DIM * 8
    run.space_amp = (dir_bytes(Path(di.docs_path)) + dir_bytes(Path(di.index.path))) / user
    run.layer["index.files_live"] = len(parquet_files(di.index.path))


WORKLOADS = {"serve": serve, "rag": rag}


# ---------------------------------------------------------------------------
# result
# ---------------------------------------------------------------------------
def end_to_end(run: Run) -> tuple[dict, dict]:
    q = run.samples["query"]
    p_tail, v_tail = spec.tail(q)
    values = {
        "setup_s": spec.median(run.setup_times),
        "query_ms_p50": spec.median(q),
        "query_ms_tail": v_tail,
        "bulk_per_s": run.bulk_units / run.bulk_seconds if run.bulk_seconds else 0.0,
        "write_ms_p50": spec.median(run.samples["write"]),
        "fresh_ms_p50": spec.median(run.samples["fresh"]),
        "space_amp": run.space_amp,
    }
    details = {
        "query_samples": len(q),
        "query_tail_percentile": round(p_tail, 1),
        "write_samples": len(run.samples["write"]),
        "bulk_units": run.bulk_units,
        "setup_times_s": run.setup_times,
        "window_s": run.window_s,
        "window_gc_ms": run.window_gc_ms,
        "samples_ms": {k: [round(v, 2) for v in vs] for k, vs in run.samples.items()},
    }
    return values, details


def per_layer(run: Run, session_s: float) -> dict:
    tr = run.tracer
    qi, mb, cm = "index.query_items", "index.merge_batch", "index.commit"
    bt, ivf = "similarity.cosine_topk_batch", "similarity.ivf_topk_indexed"
    up, qd = "document_index.upsert_documents_df", "document_index.query_documents"
    split_s = tr.median_own_ms("splitter.split_documents") / 1e3
    embed_s = tr.median_own_ms("embeddings.embed_chunks") / 1e3
    chunks = sum(s.get("chunks", 0) for s in tr.of("splitter.split_documents"))
    docs = sum(s.get("rows_in", 0) for s in tr.of("splitter.split_documents"))
    rows = [s["rows"] for s in tr.of("embeddings.embed_chunks")]
    written = sum(s.get("bytes_written", 0) for s in tr.of(mb) + tr.of(cm))
    user = sum(tr.values.get("index.user_bytes", []))
    if not user and chunks:  # rag: the rows the index is asked to store are chunks
        user = chunks * gen.DIM * 8
    values = {
        "session.get_spark_s": session_s,
        "index.query_items.build_ms": tr.value_median("index.query_items.build_ms"),
        "index.query_items.plan_ms": tr.median(qi, "plan_ms", kind="query"),
        "index.query_items.exec_ms": tr.median(qi, "exec_ms", kind="query"),
        "index.query_items.jobs": tr.median(qi, "jobs", kind="query"),
        "index.query_items.tasks": tr.median(qi, "tasks", kind="query"),
        "index.query_items.fresh_exec_ms": tr.median(qi, "exec_ms", kind="fresh"),
        "index.merge_batch.s": tr.median_ms(mb) / 1e3,
        "index.merge_batch.jobs": tr.median(mb, "jobs"),
        "index.commit.ms": tr.median_ms(cm),
        "index.commit.jobs": tr.median(cm, "jobs"),
        "index.commit.stages": tr.median(cm, "stages"),
        "index.commit.buckets_rewritten": tr.median(cm, "buckets_rewritten"),
        "index.commit.bytes_written": tr.median(cm, "bytes_written"),
        "index.write_amp": written / user if user else 0.0,
        "index.files_live": run.layer.get("index.files_live", 0),
        "filters.compile_filter.us": tr.value_median("filters.compile_filter.us"),
        "similarity.cosine_topk_batch.pass_ms": tr.median_ms(bt),
        "similarity.cosine_topk_batch.jobs": tr.median(bt, "jobs"),
        "similarity.cosine_topk_batch.tasks": tr.median(bt, "tasks"),
        "similarity.ivf_topk_indexed.ms": tr.median_ms(ivf),
        "similarity.ivf_topk_indexed.files_read_frac": tr.median(ivf, "files_read_frac"),
        "similarity.ivf_topk_indexed.recall_at_10": run.layer.get(
            "similarity.ivf_topk_indexed.recall_at_10", 0.0
        ),
        "similarity.ivf_write_index.s": tr.median_ms("similarity.ivf_write_index") / 1e3,
        "document_index.upsert_documents_df.s": tr.median_ms(up) / 1e3,
        "document_index.upsert_documents_df.jobs": tr.median(up, "jobs"),
        "document_index.query_documents.plan_ms": tr.median(qd, "plan_ms"),
        "document_index.query_documents.exec_ms": tr.median(qd, "exec_ms"),
        "document_index.query_documents.jobs": tr.median(qd, "jobs"),
        "splitter.split_documents.s": split_s,
        "splitter.chunks_per_doc": chunks / docs if docs else 0.0,
        "embeddings.embed_chunks.s": embed_s,
        "embeddings.rows_per_s": spec.median(rows) / embed_s if rows and embed_s > 0 else 0.0,
        "render.render_sections.ms": tr.value_median("render.request_ms"),
        "jvm.gc_ms": run.layer.get("jvm.gc_ms", 0.0),
        "jvm.jobs": run.layer.get("jvm.jobs", 0),
        "jvm.tasks": run.layer.get("jvm.tasks", 0),
        "jvm.peak_rss_mb": run.layer.get("jvm.peak_rss_mb", 0.0),
        "trace.query_ms_p50": spec.median(run.samples["query"]),
    }
    return values


# ---------------------------------------------------------------------------
# process
# ---------------------------------------------------------------------------
def _start_spark(tmp: Path):
    from vectra_py_spark.session import get_spark

    # The driver heap is the engine's own setting (get_spark's
    # spark.driver.memory), so peak_rss_mb follows what the engine touches.
    conf = {
        # progress bars write \r frames to the console and garble output
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(tmp / "spark"),
        "spark.sql.warehouse.dir": str(tmp / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # keep the status of every job of a run for the span counts
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    spark = get_spark("vectra-perfbench", master=f"local[{host.nproc()}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM (and with it the
    Python workers it started) to exit."""
    import subprocess

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_workload(workload: str, seed: int, seconds: float, trace: bool, work: Path):
    """Run one workload; returns ``(result line, details)``."""
    tmp = work / "tmp"
    stamp = host.stamp_start()
    t0 = time.perf_counter()
    spark = _start_spark(tmp)
    session_s = time.perf_counter() - t0
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    tracer = Tracer(spark, workload, enabled=trace)
    run = Run(spark=spark, tracer=tracer, seed=seed, seconds=seconds, work=work)
    try:
        tracer.install(parquet_files)
        WORKLOADS[workload](run)
        run.layer["jvm.peak_rss_mb"] = host.peak_rss_mb(jvm_pid)
    finally:
        tracer.uninstall()
        _stop_spark(spark)
    stamp = host.stamp_end(stamp)
    values, details = end_to_end(run)
    if trace:
        values = per_layer(run, session_s)
        tracer.write(Path(__file__).resolve().parent.parent / "out" / f"trace-{workload}-{seed}.json")
    units = spec.PER_LAYER if trace else spec.END_TO_END
    correct = run.failed == 0
    line = spec.result_line(correct, run.attempted, run.failed, values, units)
    details.update({"workload": workload, "seed": seed, "trace": trace, "host": stamp,
                    "session_s": session_s, "pid": os.getpid(),
                    "peak_rss_mb": run.layer["jvm.peak_rss_mb"]})
    return line, details
