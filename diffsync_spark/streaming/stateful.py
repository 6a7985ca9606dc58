"""Custom stateful streaming operator — ``applyInPandasWithState``.

The north rule calls for "custom stateful operators" on the streaming path:
this one is a **stateful LWW pre-filter**. The SnapshotTable already makes
replay convergent (the table IS the LWW state), but a long-running stream
re-delivering hot keys pays a full MERGE round-trip per duplicate. Keeping
the max ``(ts, seq)`` per natural key in streaming state lets each
micro-batch forward ONE winner per key — and only when that winner beats
the key's high-water mark — cutting MERGE input on hot-key/duplicate-heavy
feeds.

Semantics: per key group per batch, select the max-``(ts, seq)`` event
(null ts on a delete = always-newest, same rule as ``lww_dedup``/``merge``);
emit it iff it strictly beats the state. Dropping an event is ALWAYS safe —
the sink's cross-batch LWW would have discarded it anyway; state loss
(timeout, restart without checkpoint) only means more events flow through
to the sink, never a wrong final state. The operator is a pure optimization
with correctness anchored where it belongs (the transactional sink).

Arrow-batched: the UDF receives whole pandas frames per key group and the
winner selection is vectorized pandas over the (small) duplicate group.
"""

from __future__ import annotations

import contextlib
import threading
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

from diffsync_spark.model import ModelSchema

_STATE_SCHEMA = T.StructType([
    T.StructField("ts_us", T.LongType()),
    T.StructField("seq", T.LongType()),
])

_MAX_US = 2**62  # null-ts delete sentinel: beats any real timestamp

_UNIT_MS = {"millisecond": 1, "second": 1_000, "minute": 60_000,
            "hour": 3_600_000, "day": 86_400_000}


def _duration_ms(ttl: "str | int") -> int:
    """'30 minutes' / '1 millisecond' / plain int ms → milliseconds."""
    if isinstance(ttl, int):
        return ttl
    n, unit = ttl.split()
    return int(n) * _UNIT_MS[unit.rstrip("s")]


def _version_us(pdf: pd.DataFrame, version_col: str) -> pd.Series:
    """Microsecond int64 versions; null ts on a delete → the +inf sentinel,
    any other null → -inf (loses), matching the engine's LWW rule."""
    ts = pd.to_datetime(pdf[version_col], errors="coerce")
    us = pd.Series(ts.values.view("i8") // 1000, index=pdf.index)
    null_delete = ts.isna() & (pdf["op"].str.lower() == "delete")
    us[ts.isna()] = -_MAX_US
    us[null_delete] = _MAX_US
    return us


def stateful_lww_filter(
    stream: DataFrame,
    model: ModelSchema,
    state_ttl: str | None = None,
) -> DataFrame:
    """Apply the stateful LWW pre-filter to a streaming changelog frame.

    Output schema == input schema; at most one row per key per micro-batch
    survives, and only if it beats the per-key high-water mark. Use between
    ``readStream`` and the foreachBatch merge.

    ``state_ttl`` (e.g. ``"30 minutes"``) bounds state at 10^10-key scale:
    keys idle longer than the TTL are EVICTED (processing-time timeout).
    Eviction is always safe — a later duplicate for an evicted key simply
    flows through and loses the LWW comparison at the sink; the filter is an
    optimization, never the correctness anchor.

    A processing-time timeout makes Spark ask for another micro-batch after
    every batch, so a ``trigger(availableNow=True)`` query over a filter with
    a TTL runs empty batches forever. Start such a query inside
    :func:`no_data_batches_off`: timed-out keys are then evicted in the
    batches that carry data.
    """
    version_col = model.version_cols[0]
    out_schema = stream.schema
    cols = list(stream.columns)
    ttl_ms = _duration_ms(state_ttl) if state_ttl else None

    def dedup(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if ttl_ms and state.hasTimedOut:
            state.remove()  # idle key: free the slot, nothing to emit
            return
        hi = tuple(state.get) if state.exists else (-(_MAX_US + 1), -1)
        best = None
        best_v = hi
        for pdf in pdfs:
            work = pdf.assign(__v=_version_us(pdf, version_col))
            i = work.sort_values(["__v", "seq"], kind="stable").index[-1]
            v = (int(work.at[i, "__v"]), int(work.at[i, "seq"]))
            if v > best_v:
                best_v = v
                best = work.loc[[i], cols]  # one-row frame, dtypes intact
        if best is not None:
            state.update(best_v)
        if ttl_ms and state.exists:
            state.setTimeoutDuration(ttl_ms)
        if best is not None:
            yield best

    return (
        stream.groupBy(*[stream[k] for k in model.identifiers])
        .applyInPandasWithState(
            dedup,
            outputStructType=out_schema,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=(GroupStateTimeout.ProcessingTimeTimeout
                         if state_ttl else GroupStateTimeout.NoTimeout),
        )
    )


# serializes no_data_batches_off's set / start / restore across threads
_NO_DATA_LOCK = threading.RLock()


@contextlib.contextmanager
def no_data_batches_off(spark):
    """Start streaming queries in this block without no-data micro-batches
    (``spark.sql.streaming.noDataMicroBatches.enabled``, which a query
    reads from its session's conf when it starts); the session's setting
    is restored on exit. This lets an ``availableNow`` query over
    :func:`stateful_lww_filter` with a ``state_ttl`` end once its input
    is drained.

    The setting is session-wide while the block runs. Blocks in different
    threads take one process-wide lock, so their saves and restores never
    interleave and the session is always left as it was. A query another
    thread starts on the same session outside such a block, while one
    runs, also starts without no-data batches: keep the block to the
    ``start()`` call, as ``stream_replay`` does."""
    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    with _NO_DATA_LOCK:
        prev = spark.conf.get(key, None)
        spark.conf.set(key, "false")
        try:
            yield
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)
