"""Session sizing, statistics, host evidence and the correctness gate.

Shared by every workload in :mod:`workloads`. Nothing here times engine
work itself; it sizes the Spark session for the host, turns latency
samples into the reported statistics, and checks the engine's outputs.
"""

from __future__ import annotations

import math
import os
import resource
import statistics
import subprocess
import sys

import numpy as np


def host_cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _ram_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def session_conf(work: str, cpus: int, trace: bool) -> dict[str, str]:
    """``extra_conf`` for ``build_session``: a fixed-size driver heap (an
    eighth of RAM, 768 MB-1.5 GB, with -Xms equal to the maximum, so peak
    RSS does not depend on when the collector chose to grow the heap), GC
    threads no more than the cores, every scratch file under ``work``, and
    the status UI (REST API) only in the traced run."""
    heap_mb = int(min(1536, max(768, _ram_bytes() / 8 / 2**20)))
    jtmp = os.path.join(work, "jvmtmp")
    os.makedirs(jtmp, exist_ok=True)
    conf = {
        "spark.driver.memory": f"{heap_mb}m",
        "spark.driver.extraJavaOptions": (
            f"-Xms{heap_mb}m -XX:ParallelGCThreads={cpus} "
            f"-XX:ConcGCThreads={max(1, cpus // 4)} "
            f"-XX:-UsePerfData -Djava.io.tmpdir={jtmp}"
        ),
        "spark.local.dir": os.path.join(work, "sparklocal"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if trace else "false",
    }
    if trace:
        conf.update({
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    return conf


# ----------------------------------------------------------------- stats

def median(xs) -> float:
    return float(statistics.median(xs)) if xs else float("nan")


def tail(xs, beyond: int = 10) -> tuple[float, int | None]:
    """The highest whole percentile (p50 or higher) with at least
    ``beyond`` samples above it, and that percentile. With fewer than
    ``2 * beyond`` samples no such percentile exists: ``(nan, None)``."""
    n = len(xs)
    if n < 2 * beyond:
        return float("nan"), None
    pct = math.floor(100 * (1 - beyond / n))
    return float(np.percentile(xs, pct)), pct


# ------------------------------------------------------------ host state

def loadavg() -> float:
    try:
        return round(os.getloadavg()[0], 2)
    except OSError:
        return -1.0


_MEMBW = """
import time, numpy as np
x = np.ones(64 * 2**20 // 8)
t0 = time.perf_counter()
y = x.copy()
print(2 * x.nbytes / (time.perf_counter() - t0) / 1e9)
"""


def membw_gbps() -> float:
    """One copy of 64 MB: host memory bandwidth right now (evidence of
    external memory pressure, which loadavg barely shows). It runs in a
    child process, so its 128 MB never count in this process's peak RSS."""
    try:
        out = subprocess.run([sys.executable, "-c", _MEMBW], timeout=60,
                             capture_output=True, text=True, check=True)
        return round(float(out.stdout), 2)
    except (subprocess.SubprocessError, ValueError):
        return -1.0


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks of the host since boot, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return sum(v), (v[7] if len(v) > 7 else 0)


def steal_pct(since: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor stole since ``since``."""
    total, steal = cpu_ticks()
    dt = total - since[0]
    return round(100 * (steal - since[1]) / dt, 2) if dt > 0 else 0.0


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int) -> dict[str, float]:
    """Peak resident memory (MB) of the driver JVM and of this Python
    process."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return {"jvm": _vm_hwm_kb(jvm_pid) / 1024, "python": py_kb / 1024}


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                size += os.path.getsize(os.path.join(root, f))
            except FileNotFoundError:
                continue  # removed while walking
            n += 1
    return n, size


# ------------------------------------------------------- correctness gate

def same_multiset(actual, expected) -> tuple[bool, str]:
    """Exact multiset equality of two DataFrames, compared both ways."""
    cols = list(expected.columns)
    actual = actual.select(*cols)
    extra = actual.exceptAll(expected).count()
    missing = expected.exceptAll(actual).count()
    ok = extra == 0 and missing == 0
    return ok, "" if ok else f"{extra} unexpected rows, {missing} missing rows"


class Ops:
    """Attempted/failed operation counts and the reasons for failures."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
