#!/usr/bin/env python3
"""Benchmark of the vectra_py_spark engine.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

Run from the repository root. Builds its inputs from ``--seed``, sets
up, drives one workload for ``--seconds`` as a single closed-loop
client on ``local[nproc]``, checks every result, and prints two JSON
lines: run details (host stamp, sample counts), then the result
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics. Everything
the run writes lives under ``perfbench/work/`` and is removed at exit,
except the traced run's spans in ``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("serve", "rag"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # on SIGTERM unwind normally, so the Spark session is stopped and the
    # work directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    work = HERE / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    # Keep every file the run, Spark and its Python workers write inside
    # the checkout; the workers import the engine from the checkout too.
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "spark")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(HERE)] + [p for p in [os.environ.get("PYTHONPATH")] if p]
    )
    tempfile.tempdir = str(tmp)
    sys.path[:0] = [str(ROOT), str(HERE)]
    try:
        # fail at once, before any set-up, where the engine is missing
        import vectra_py_spark  # noqa: F401
        from vbench.workloads import run_workload

        line, details = run_workload(
            args.workload, args.seed, args.seconds, bool(args.trace), work
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(details), flush=True)
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
