"""Progress + metrics surface — the reference's ``callback`` and structured
logging analogs (``/root/reference/diffsync/helpers.py:62-67``,
``/root/reference/diffsync/logging.py:25-60``), Spark-native.

The reference invokes ``callback(stage, current, total)`` every N records
while it walks dicts. A set-based engine has no per-record loop to hook, so
progress comes from two sources instead:

- **Observed metrics** (:func:`observe_diff`): an ``Observation`` attached to
  the diff frame. The counters ride the SAME action that consumes the frame —
  zero extra Spark jobs, exact counts (not sampled). ``Engine.sync_from``
  reports them through the user callback after the merge commits.
- **JSON-line merge metrics** (:func:`log_merge`): one structured line per
  commit on the ``diffsync_spark.metrics`` logger — the structlog analog;
  ship it to any log pipeline. Fields mirror the lineage record (per-bucket
  row/op counts live in the table's lineage, queryable via ``lineage_df()``).
"""

from __future__ import annotations

import json
import logging
import time
from typing import Callable

from pyspark.sql import DataFrame, Observation, functions as F

logger = logging.getLogger("diffsync_spark.metrics")

# reference signature: callback(stage: str, current: int, total: int)
ProgressCallback = Callable[[str, int, int], None]

def _diff_metrics():
    # built lazily: module-level Column expressions require an active session
    return (
        ("n_total", F.count(F.lit(1))),
        ("n_create", F.count_if(F.col("op") == "create")),
        ("n_update", F.count_if(F.col("op") == "update")),
        ("n_delete", F.count_if(F.col("op") == "delete")),
        ("n_noop", F.count_if(F.col("op") == "noop")),
    )


def observe_diff(d: DataFrame, name: str = "diffsync.diff") -> tuple[DataFrame, Observation]:
    """Attach exact op counters to a diff frame.

    Returns the observed frame (use it in place of ``d``) and the
    ``Observation``; read ``observation.get`` only AFTER an action has run on
    the frame (it blocks until then).
    """
    obs = Observation(name)
    observed = d.observe(obs, *[agg.alias(n) for n, agg in _diff_metrics()])
    return observed, obs


def report_progress(callback: ProgressCallback | None, metrics: dict) -> None:
    """Drive a reference-style callback from observed diff metrics: one
    "diff" tick (rows classified) and one "sync" tick (rows needing apply).
    The reference ticks every 50 records inside its Python loop
    (``helpers.py:96,184``); here each stage completes as one distributed
    action, so the callback fires at stage completion with exact totals."""
    if callback is None:
        return
    total = int(metrics.get("n_total", 0))
    changed = int(
        metrics.get("n_create", 0) + metrics.get("n_update", 0)
        + metrics.get("n_delete", 0)
    )
    callback("diff", total, total)
    callback("sync", changed, changed)


def log_unchanged_records(diff_df: DataFrame, identifiers, limit: int = 1000) -> int:
    """Per-record logging of UNCHANGED models — the reference's
    ``LOG_UNCHANGED_RECORDS`` debug flag (``/root/reference/diffsync/enum.py:83-88``),
    which logs every model during sync, not just changed ones.

    Emits one JSON line per noop key (up to ``limit`` — a bounded collect;
    this is a debugging verbosity aid exactly like the reference's
    off-by-default flag, never a data-path operator) and returns the number
    logged. The EXACT unchanged total always rides the lineage as
    ``n_noop`` regardless of this flag."""
    keys = (
        diff_df.filter(F.col("op") == "noop")
        .select(*identifiers)
        .limit(limit)
        .collect()
    )
    for r in keys:
        logger.info(json.dumps({
            "event": "unchanged_record",
            "key": {k: r[k] for k in identifiers},
            "status": "success",
        }, default=str))
    return len(keys)


_warned_fallbacks: set[str] = set()


def warn_fallback_once(site: str, reason: object) -> None:
    """Log that fast path ``site`` fell back, and why — at WARNING, once
    per process per site. A cause such as a missing pyarrow recurs on every
    call, so a silent fallback would turn it into a permanent slow path
    nobody sees; one line per process is enough to see it."""
    if site in _warned_fallbacks:
        return
    _warned_fallbacks.add(site)
    logger.warning("%s: falling back (%s)", site, reason)


def log_merge(result: dict, table_path: str) -> None:
    """Emit one JSON metrics line for a merge/apply commit."""
    line = {
        "event": "merge_commit",
        "ts": time.time(),
        "table": table_path,
        **{
            k: result[k]
            for k in (
                "snapshot_id", "version", "checkpoint_id", "batch_id",
                "n_create", "n_update", "n_delete", "n_quarantined",
                "n_buckets_touched", "write_regime", "skipped",
            )
            if k in result
        },
    }
    logger.info(json.dumps(line, default=str))
