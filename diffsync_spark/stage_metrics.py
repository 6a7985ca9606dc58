"""Completed-stage metrics from Spark's monitoring REST API — the one stage
scraper that ``bench.py``, ``bench_extra.py`` and the profiling scripts
(``scripts/profile_replay.py``, ``scripts/stage_stats.py``,
``scripts/scaling_1e9.py``) share.

The endpoint needs ``spark.ui.enabled=true`` (``build_session`` turns the
UI off by default); with the UI off or unreachable both helpers degrade to
"no evidence" (``[]`` / ``0``) instead of failing the run.

Slice one measured run out of the application's accumulating stage list::

    first = max_stage_id(spark)
    run_the_workload()
    rows = stage_rows(spark, first, min_run_ms=1000)
"""

from __future__ import annotations

import json
import urllib.request


def _stages(spark, query: str = "") -> list[dict]:
    # uiWebUrl is None with the UI off (AttributeError below); urlopen
    # raises OSError when it is unreachable
    app = spark.sparkContext.applicationId
    port = spark.sparkContext.uiWebUrl.rsplit(":", 1)[1]
    url = f"http://localhost:{port}/api/v1/applications/{app}/stages{query}"
    return json.load(urllib.request.urlopen(url, timeout=30))


def max_stage_id(spark) -> int:
    """One past the highest stage id so far: the ``min_stage`` that makes
    :func:`stage_rows` report only the stages launched after this call
    (0 when the UI is off)."""
    try:
        stages = _stages(spark)
    except (AttributeError, OSError, ValueError):  # no UI / unreachable
        return 0
    return max((s["stageId"] for s in stages), default=-1) + 1


def stage_rows(spark, min_stage: int = 0, min_run_ms: int = 0) -> list[dict]:
    """One row per completed stage with id >= ``min_stage`` and executor
    run time >= ``min_run_ms``, longest first: stage id, name, job
    description, tasks, executor run and GC seconds, shuffle write/read
    MB, and the task run-time median, max and skew (max over median; None
    without task summaries). Empty when the UI is off."""
    try:
        stages = _stages(spark, "?status=complete&withSummaries=true")
    except (AttributeError, OSError, ValueError):  # no UI / unreachable
        return []
    rows = []
    for s in stages:
        if s["stageId"] < min_stage or s["executorRunTime"] < min_run_ms:
            continue
        q = (s.get("taskMetricsDistributions") or {}).get("executorRunTime") or []
        med, mx = (q[2] / 1000, q[4] / 1000) if len(q) == 5 else (None, None)
        rows.append({
            "stage": s["stageId"],
            "name": s.get("name", "")[:70],
            "desc": (s.get("description") or "")[:50],
            "tasks": s["numCompleteTasks"],
            "run_s": round(s["executorRunTime"] / 1000, 1),
            "gc_s": round(s.get("jvmGcTime", 0) / 1000, 1),
            "shuffle_write_mb": round(s.get("shuffleWriteBytes", 0) / 1e6, 1),
            "shuffle_read_mb": round(s.get("shuffleReadBytes", 0) / 1e6, 1),
            "task_median_s": round(med, 2) if med is not None else None,
            "task_max_s": round(mx, 2) if mx is not None else None,
            "skew_max_over_median": (round(mx / med, 2)
                                     if med and mx is not None else None),
        })
    rows.sort(key=lambda r: -r["run_s"])
    return rows
