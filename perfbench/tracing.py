"""The traced run: spans around public engine calls, attributed to layers.

Everything is measured from outside the engine:

- a span (name, start, end, parent) around each public call, whose Spark
  jobs carry the span's job group, so Spark's status REST API attributes
  jobs, stages, executor CPU, GC, shuffle and task skew to the call;
- a counting :class:`LocalCommitIO` subclass handed to
  ``SnapshotTable.create(io=...)`` (the ``sinks.fsio`` layer);
- file/byte deltas of the table directory across each write;
- JVM GC time and peak heap from the platform MXBeans.

Spans are kept in memory and written as one JSON file at the end.
"""

from __future__ import annotations

import json
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone

from py4j.protocol import Py4JError

from harness import dir_stats, median

from diffsync_spark import LocalCommitIO

_IO_METHODS = ("read_text", "write_exclusive", "write_atomic",
               "compare_and_swap", "makedirs", "exists", "list_dirs",
               "list_files", "remove_file", "remove_dir")


class CountingCommitIO(LocalCommitIO):
    """LocalCommitIO that counts outermost calls, their seconds, and the
    bytes of commit metadata written (manifests, segments, pointers)."""

    def __init__(self) -> None:
        self.calls = 0
        self.seconds = 0.0
        self.bytes_written = 0
        self._local = threading.local()

    def snapshot(self) -> tuple[int, float, int]:
        return self.calls, self.seconds, self.bytes_written


def _counted(name: str):
    base = getattr(LocalCommitIO, name)

    def method(self, *args, **kwargs):
        depth = getattr(self._local, "depth", 0)
        if name in ("write_exclusive", "write_atomic"):
            self.bytes_written += len(args[1].encode())
        self._local.depth = depth + 1
        t0 = time.perf_counter()
        try:
            return base(self, *args, **kwargs)
        finally:
            self._local.depth = depth
            if depth == 0:  # nested calls (CAS -> read/write) count once
                self.calls += 1
                self.seconds += time.perf_counter() - t0

    method.__name__ = name
    return method


for _name in _IO_METHODS:
    setattr(CountingCommitIO, _name, _counted(_name))


def _rest_time(s: str | None) -> float | None:
    """Spark REST timestamps look like ``2026-01-01T00:00:00.123GMT``."""
    if not s:
        return None
    return datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f") \
        .replace(tzinfo=timezone.utc).timestamp()


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Tracer:
    """Span recorder. ``active`` toggles recording, so traced and untraced
    operations can alternate in one run (the tracing-overhead A/B)."""

    def __init__(self, spark, io: CountingCommitIO | None = None) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.io = io
        self.active = False
        self.spans: list[dict] = []
        self.counts: dict = {}
        jvm = spark._jvm
        self._mgmt = jvm.java.lang.management.ManagementFactory
        self._lock = threading.Lock()

    # ------------------------------------------------------------ spans
    @contextmanager
    def span(self, name: str, parent: int | None = None,
             table_dir: str | None = None, force: bool = False):
        if not (self.active or force):
            yield None
            return
        with self._lock:
            rec = {"id": len(self.spans), "name": name, "parent": parent}
            self.spans.append(rec)
        sc = self.sc
        prev = {k: sc.getLocalProperty(k) for k in
                ("spark.jobGroup.id", "spark.job.description",
                 "spark.job.interruptOnCancel")}
        sc.setJobGroup(f"perfbench-{rec['id']}", name)
        io0 = self.io.snapshot() if self.io else None
        fs0 = dir_stats(table_dir) if table_dir else None
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["wall_s"]
            for k, v in prev.items():
                sc.setLocalProperty(k, v)
            if io0 is not None:
                c, s, b = self.io.snapshot()
                rec["commitio_calls"] = c - io0[0]
                rec["commitio_s"] = s - io0[1]
                rec["manifest_bytes"] = b - io0[2]
            if fs0 is not None:
                n, size = dir_stats(table_dir)
                rec["files_written"] = n - fs0[0]
                rec["bytes_written"] = size - fs0[1]

    def wrap(self, obj, method: str, name: str, parent=None,
             table_dir: str | None = None, always: bool = False) -> None:
        """Replace ``obj.method`` on the instance by a spanned call.
        ``parent`` is a callable giving the parent span id at call time;
        ``always`` records the span even while the tracer is inactive."""
        orig = getattr(obj, method)

        def traced(*args, **kwargs):
            with self.span(name, parent() if parent else None, table_dir,
                           force=always):
                return orig(*args, **kwargs)

        setattr(obj, method, traced)

    # -------------------------------------------------------------- JVM
    def jvm_gc_s(self) -> float:
        return sum(b.getCollectionTime()
                   for b in self._mgmt.getGarbageCollectorMXBeans()) / 1000

    def reset_heap_peak(self) -> None:
        for p in self._mgmt.getMemoryPoolMXBeans():
            p.resetPeakUsage()

    def heap_peak_mb(self) -> float:
        return sum(p.getPeakUsage().getUsed()
                   for p in self._mgmt.getMemoryPoolMXBeans()
                   if p.getType().toString() == "Heap memory") / 2**20

    # ------------------------------------------------------------- REST
    def _get(self, path: str):
        url = (f"{self.sc.uiWebUrl}/api/v1/applications/"
               f"{self.sc.applicationId}{path}")
        with urllib.request.urlopen(url, timeout=60) as r:
            return json.load(r)

    def attribute(self) -> None:
        """Attach job/stage/SQL metrics from the REST API to every span."""
        try:  # let the UI listener catch up with the last jobs
            self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        except Py4JError:  # private API; fall back to a grace period
            time.sleep(2)
        jobs = self._get("/jobs")
        stages = {s["stageId"]: s for s in self._get(
            "/stages?status=complete&withSummaries=true&quantiles=0.5,1.0")}
        sql = self._get("/sql?details=true&planDescription=false"
                        "&offset=0&length=100000")
        files_by_job: dict[int, int] = {}
        for ex in sql:
            n = 0
            for node in ex.get("nodes", []):
                for m in node.get("metrics", []):
                    if m.get("name") == "number of files read":
                        n += int("".join(ch for ch in str(m.get("value"))
                                         if ch.isdigit()) or 0)
            ids = ex.get("successJobIds", []) + ex.get("failedJobIds", [])
            if ids:
                files_by_job[min(ids)] = files_by_job.get(min(ids), 0) + n
        by_group: dict[str, list[dict]] = {}
        for j in jobs:
            by_group.setdefault(j.get("jobGroup") or "", []).append(j)
        for rec in self.spans:
            mine = by_group.get(f"perfbench-{rec['id']}", [])
            ivals, stage_ids = [], set()
            for j in mine:
                a, b = _rest_time(j.get("submissionTime")), \
                    _rest_time(j.get("completionTime"))
                if a is not None and b is not None:
                    ivals.append((max(a, rec["start"]), min(b, rec["end"])))
                stage_ids.update(j.get("stageIds", []))
            st = [stages[s] for s in stage_ids if s in stages]
            skews = []
            for s in st:
                q = (s.get("taskMetricsDistributions") or {}).get(
                    "executorRunTime") or []
                if s.get("numTasks", 0) >= 2 and len(q) == 2 and q[0] > 0:
                    skews.append(q[1] / q[0])
            job_s = _union_seconds([iv for iv in ivals if iv[1] > iv[0]])
            rec.update({
                "jobs": len(mine),
                "job_s": job_s,
                "driver_s": max(0.0, rec["wall_s"] - job_s),
                "exec_cpu_s": sum(s.get("executorCpuTime", 0) for s in st) / 1e9,
                "gc_s": sum(s.get("jvmGcTime", 0) for s in st) / 1e3,
                "shuffle_mb": sum(s.get("shuffleWriteBytes", 0) for s in st) / 1e6,
                "shuffle_stages": sum(1 for s in st
                                      if s.get("shuffleWriteBytes", 0) > 0),
                "task_skew": max(skews, default=1.0),
                "files_read": sum(files_by_job.get(j["jobId"], 0) for j in mine),
            })

    # ---------------------------------------------------------- summary
    def med(self, name: str, key: str, where=None) -> float:
        xs = [r[key] for r in self.spans
              if r["name"] == name and key in r and (where is None or where(r))]
        return median(xs) if xs else 0.0

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": self.counts, **extra},
                      f, indent=1, default=str)
