"""Host stamp and process memory.

The stamp is context for reading a result, not a metric: the core count,
the load average, and CPU canaries taken at the start and end of a run.
The single-process canary times a fixed pure-Python loop; the
``nproc``-process canary runs that loop in ``nproc`` concurrent
subprocesses. On a healthy box the parallel canary takes about as long
as one loop plus interpreter start-up; ``degraded_box`` is set when it
takes more than twice that, i.e. when the box gives the run less than
half of its cores. The threshold scales with the core count because the
canary starts one process per core.
"""

from __future__ import annotations

import os
import resource
import subprocess
import sys
import time

_LOOP = "s = 0\nfor i in range(1_000_000):\n    s += i * i\n"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _canary_1() -> float:
    t0 = time.perf_counter()
    exec(_LOOP, {})
    return time.perf_counter() - t0


def _startup() -> float:
    t0 = time.perf_counter()
    subprocess.run([sys.executable, "-c", "pass"], check=True)
    return time.perf_counter() - t0


def _canary_n(n: int) -> float:
    t0 = time.perf_counter()
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", _LOOP],
            stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL,
        )
        for _ in range(n)
    ]
    for p in procs:
        p.wait()
    return time.perf_counter() - t0


def canaries(tries: int = 1) -> dict:
    """Each canary is the fastest of ``tries``: the first parallel start-up
    in a process is often slow for reasons that have nothing to do with
    the box's load."""
    n = nproc()
    one = min(_canary_1() for _ in range(tries))
    healthy = one + min(_startup() for _ in range(tries))
    many = min(_canary_n(n) for _ in range(tries))
    return {
        "canary_1_s": round(one, 4),
        "canary_nproc_s": round(many, 4),
        "degraded_box": many > 2.0 * healthy,
    }


def _cpu_jiffies() -> list[int]:
    """The host-wide ``cpu`` line of ``/proc/stat``: user, nice, system,
    idle, iowait, irq, softirq, steal, ..."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def stamp_start() -> dict:
    return {
        "nproc": nproc(),
        "load_avg_start": list(os.getloadavg()),
        "start": canaries(tries=2),
        "cpu_jiffies_start": _cpu_jiffies(),
    }


def stamp_end(stamp: dict) -> dict:
    end = canaries()
    delta = [b - a for a, b in zip(stamp.pop("cpu_jiffies_start"), _cpu_jiffies())]
    return {
        **stamp,
        "load_avg_end": list(os.getloadavg()),
        "end": end,
        # share of CPU time the hypervisor gave to other guests
        "steal_frac": round(delta[7] / max(1, sum(delta[:8])), 4),
        "degraded_box": stamp["start"]["degraded_box"] or end["degraded_box"],
    }


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    """High-water resident set of the driver JVM plus this process."""
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (_vm_hwm_kb(jvm_pid) + own_kb) / 1024.0
