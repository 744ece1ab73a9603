"""Tracing from outside the engine.

Nothing inside ``vectra_py_spark`` is instrumented. In a traced run the
benchmark (a) opens a span around each call it makes into a layer, (b)
wraps a few engine functions in place, from this file, so calls the
engine makes internally are seen too, and (c) reads Spark's own
counters: every span runs under the job group
``<workload>.<module>.<function>``, its job, stage and task counts come
from ``statusTracker()`` for that group, and its GC time from the JVM's
GC MXBeans. Spans stay in memory and are written out when the run ends.

Lazy engine functions (``split_documents``, ``embed_chunks``) only
build a plan; the traced run forces each with an extra ``count()`` of
its output, and one of its input just before, so the function's own
time is the difference. That work is not in the untraced run; the
traced-minus-untraced difference is reported as the tracing overhead.

With tracing off every hook is a no-op and nothing is wrapped.
"""

from __future__ import annotations

import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

_PHASES = ("analysis", "optimization", "planning")


class _Collected:
    """Stands in for a DataFrame whose rows the tracer already collected:
    the engine's caller gets the same rows without a second execution."""

    def __init__(self, rows):
        self._rows = rows

    def collect(self):
        return self._rows


class Tracer:
    def __init__(self, spark, workload: str, enabled: bool) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.workload = workload
        self.enabled = enabled
        self.spans: list[dict] = []
        self.values: dict[str, list[float]] = defaultdict(list)
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    # -- Spark counters -----------------------------------------------------
    def _drain(self) -> None:
        # status updates arrive through the listener bus asynchronously
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def gc_ms(self) -> float:
        mf = self.sc._jvm.java.lang.management.ManagementFactory
        return float(sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()))

    def next_job_id(self) -> int:
        # an AtomicInteger, which py4j hands over as its int value
        return int(self.sc._jsc.sc().dagScheduler().nextJobId())

    def job_counts(self, job_ids) -> tuple[int, int, int]:
        """(jobs, stages, tasks run) for the given job ids."""
        st = self.sc.statusTracker()
        stages = tasks = 0
        for j in job_ids:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                stages += 1
                sinfo = st.getStageInfo(sid)
                if sinfo is not None:
                    tasks += sinfo.numCompletedTasks
        return len(job_ids), stages, tasks

    @staticmethod
    def plan_ms(df) -> float:
        """Analysis + optimization + planning time of an executed plan."""
        phases = df._jdf.queryExecution().tracker().phases()
        total = 0
        for name in _PHASES:
            opt = phases.get(name)
            if opt.isDefined():
                total += opt.get().durationMs()
        return float(total)

    # -- spans --------------------------------------------------------------
    @contextmanager
    def span(self, module: str, function: str, **attrs):
        if not self.enabled:
            yield {}
            return
        group = f"{self.workload}.{module}.{function}"
        st = self.sc.statusTracker()
        before = set(st.getJobIdsForGroup(group))
        gc0 = self.gc_ms()
        rec = {
            "name": f"{module}.{function}",
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        self.sc.setJobGroup(group, group)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]["name"]
                self.sc.setJobGroup(f"{self.workload}.{parent}", parent)
            else:
                self.sc._jsc.clearJobGroup()
            self._drain()
            new = set(st.getJobIdsForGroup(group)) - before
            rec["jobs"], rec["stages"], rec["tasks"] = self.job_counts(new)
            rec["gc_ms"] = self.gc_ms() - gc0

    def add(self, name: str, value: float) -> None:
        if self.enabled:
            self.values[name].append(float(value))

    @contextmanager
    def window(self, into: dict):
        """Whole-JVM totals (jobs, tasks, GC) over the timed loop."""
        if not self.enabled:
            yield
            return
        self._drain()
        j0, gc0 = self.next_job_id(), self.gc_ms()
        try:
            yield
        finally:
            self._drain()
            j1 = self.next_job_id()
            jobs, _, tasks = self.job_counts(range(j0, j1))
            into.update({"jvm.jobs": jobs, "jvm.tasks": tasks, "jvm.gc_ms": self.gc_ms() - gc0})

    # -- aggregation --------------------------------------------------------
    def of(self, name: str, kind: str | None = None) -> list[dict]:
        """Spans of one layer function; ``kind`` keeps only the requests
        of that kind (a serve read, or the fresh read after a write)."""
        return [s for s in self.spans if s["name"] == name and kind in (None, s.get("kind"))]

    def median(self, name: str, key: str, kind: str | None = None) -> float:
        vals = [s[key] for s in self.of(name, kind) if key in s]
        return float(statistics.median(vals)) if vals else 0.0

    def median_ms(self, name: str) -> float:
        vals = [(s["end"] - s["start"]) * 1e3 for s in self.of(name)]
        return float(statistics.median(vals)) if vals else 0.0

    def median_own_ms(self, name: str) -> float:
        """Span time minus the time to produce the span's input."""
        vals = [(s["end"] - s["start"]) * 1e3 - s["input_ms"] for s in self.of(name)]
        return float(statistics.median(vals)) if vals else 0.0

    def value_median(self, name: str) -> float:
        vals = self.values.get(name)
        return float(statistics.median(vals)) if vals else 0.0

    def write(self, path: Path) -> None:
        import json

        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"spans": self.spans, "values": self.values}))

    # -- wrapping engine functions in place ---------------------------------
    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def install(self, snapshot) -> None:
        """Wrap the engine functions whose calls happen inside the
        engine. ``snapshot(path)`` lists a table's files, so index
        writes can report what they rewrote."""
        if not self.enabled:
            return
        from vectra_py_spark import document_index, index

        tr = self

        def timed_value(name, scale):
            def make(orig):
                def wrapper(*a, **kw):
                    t0 = time.perf_counter()
                    try:
                        return orig(*a, **kw)
                    finally:
                        tr.add(name, (time.perf_counter() - t0) * scale)

                return wrapper

            return make

        def index_write(function):
            def make(orig):
                def wrapper(ix, *a, **kw):
                    before = snapshot(ix.path)
                    with tr.span("index", function) as rec:
                        out = orig(ix, *a, **kw)
                    after = snapshot(ix.path)
                    changed = [p for p, meta in after.items() if before.get(p) != meta]
                    rec["bytes_written"] = sum(after[p][0] for p in changed)
                    rec["buckets_rewritten"] = len({Path(p).parent for p in changed})
                    rec["files_live"] = len(after)
                    return out

                return wrapper

            return make

        def spanned(module, function):
            def make(orig):
                def wrapper(*a, **kw):
                    with tr.span(module, function):
                        return orig(*a, **kw)

                return wrapper

            return make

        def forced(module, function, rows_key):
            def make(orig):
                def wrapper(df, *a, **kw):
                    out = orig(df, *a, **kw)
                    # the input's own cost, counted just before, is taken
                    # off the span to give the function's own time
                    t0 = time.perf_counter()
                    n_in = df.count()
                    input_ms = (time.perf_counter() - t0) * 1e3
                    with tr.span(module, function) as rec:
                        rec[rows_key] = out.count()
                    rec["rows_in"], rec["input_ms"] = n_in, input_ms
                    return out

                return wrapper

            return make

        def query_documents(orig):
            def wrapper(*a, **kw):
                with tr.span("document_index", "query_documents") as rec:
                    df = orig(*a, **kw)
                    t0 = time.perf_counter()
                    rows = df.collect()
                    rec["wall_ms"] = (time.perf_counter() - t0) * 1e3
                rec["plan_ms"] = tr.plan_ms(df)
                rec["exec_ms"] = rec["wall_ms"] - rec["plan_ms"]
                return _Collected(rows)

            return wrapper

        self._patch(index, "compile_filter", timed_value("filters.compile_filter.us", 1e6))
        self._patch(
            index.SparkVectorIndex, "query_items",
            timed_value("index.query_items.build_ms", 1e3),
        )
        self._patch(index.SparkVectorIndex, "merge_batch", index_write("merge_batch"))
        self._patch(index.SparkVectorIndex, "commit", index_write("commit"))
        self._patch(
            document_index.SparkDocumentIndex, "upsert_documents_df",
            spanned("document_index", "upsert_documents_df"),
        )
        self._patch(document_index.SparkDocumentIndex, "query_documents", query_documents)
        self._patch(document_index, "split_documents", forced("splitter", "split_documents", "chunks"))
        self._patch(document_index, "embed_chunks", forced("embeddings", "embed_chunks", "rows"))
        self._patch(document_index, "render_sections", timed_value("render.render_sections.ms", 1e3))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)
