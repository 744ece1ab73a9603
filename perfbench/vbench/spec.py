"""Metric names, units and the summary statistics the result uses.

Every workload reports every name below (the result contract); what each
end-to-end metric measures on each workload is set out in README.md.
``WORKLOADS`` are the ones BENCHMARK.json lists.
"""

from __future__ import annotations

import statistics
from collections.abc import Sequence

WORKLOADS = ("serve", "rag")

END_TO_END = {
    "setup_s": "s",
    "query_ms_p50": "ms",
    "query_ms_tail": "ms",
    "bulk_per_s": "1/s",
    "write_ms_p50": "ms",
    "fresh_ms_p50": "ms",
    "space_amp": "ratio",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "index.query_items.build_ms": "ms",
    "index.query_items.plan_ms": "ms",
    "index.query_items.exec_ms": "ms",
    "index.query_items.jobs": "count",
    "index.query_items.tasks": "count",
    "index.query_items.fresh_exec_ms": "ms",
    "index.merge_batch.s": "s",
    "index.merge_batch.jobs": "count",
    "index.commit.ms": "ms",
    "index.commit.jobs": "count",
    "index.commit.stages": "count",
    "index.commit.buckets_rewritten": "count",
    "index.commit.bytes_written": "bytes",
    "index.write_amp": "ratio",
    "index.files_live": "count",
    "filters.compile_filter.us": "us",
    "similarity.cosine_topk_batch.pass_ms": "ms",
    "similarity.cosine_topk_batch.jobs": "count",
    "similarity.cosine_topk_batch.tasks": "count",
    "similarity.ivf_topk_indexed.ms": "ms",
    "similarity.ivf_topk_indexed.files_read_frac": "ratio",
    "similarity.ivf_topk_indexed.recall_at_10": "ratio",
    "similarity.ivf_write_index.s": "s",
    "document_index.upsert_documents_df.s": "s",
    "document_index.upsert_documents_df.jobs": "count",
    "document_index.query_documents.plan_ms": "ms",
    "document_index.query_documents.exec_ms": "ms",
    "document_index.query_documents.jobs": "count",
    "splitter.split_documents.s": "s",
    "splitter.chunks_per_doc": "ratio",
    "embeddings.embed_chunks.s": "s",
    "embeddings.rows_per_s": "1/s",
    "render.render_sections.ms": "ms",
    "jvm.gc_ms": "ms",
    "jvm.jobs": "count",
    "jvm.tasks": "count",
    "jvm.peak_rss_mb": "MB",
    "trace.query_ms_p50": "ms",
}


def median(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("no samples")
    return float(statistics.median(values))


def tail(values: Sequence[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, as
    ``(percentile, value)``: the order statistic with exactly ten larger
    samples. Below 21 samples that percentile would fall under the
    median, so the tail is the median (percentile 50)."""
    n = len(values)
    if n == 0:
        raise ValueError("no samples")
    if n < 21:
        return 50.0, median(values)
    return 100.0 * (n - 10) / n, float(sorted(values)[n - 11])


def result_line(correct: bool, attempted: int, failed: int, values: dict, units: dict) -> dict:
    """The contract's last stdout line; ``values`` must name exactly the
    metrics in ``units``."""
    if set(values) != set(units):
        missing = sorted(set(units) - set(values))
        extra = sorted(set(values) - set(units))
        raise ValueError(f"metric names differ: missing {missing}, extra {extra}")
    return {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }
