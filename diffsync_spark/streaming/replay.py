"""Changelog replay — batch and Structured Streaming paths.

The reference handles "data changing over time" by re-running load + diff +
sync (``/root/reference/README.md:9-14``, ``diffsync/__init__.py:577-608``);
our engine tails the changelog instead: each micro-batch is LWW-merged into
the SnapshotTable inside ``foreachBatch``, with the table's
``(checkpoint_id, batch_id)`` commit metadata upgrading Spark's
at-least-once foreachBatch contract to exactly-once (a replayed batch after
a crash/restart is detected and skipped before any write). This is the
``sync_complete`` per-run commit hook (``__init__.py:647-667``) as a
transactional micro-batch epilogue.
"""

from __future__ import annotations

import hashlib
import json
import time
from typing import Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from diffsync_spark.metrics import warn_fallback_once
from diffsync_spark.model import ModelSchema
from diffsync_spark.sinks.table import SnapshotTable, _footer_stats


def _signed_int64(col) -> bool:
    """A parquet column whose INT64 values ARE signed integers: no logical
    annotation (Spark's plain ``long``) or ``INT(64, signed)``."""
    if col.physical_type != "INT64":
        return False
    lt = json.loads(col.logical_type.to_json())
    return lt["Type"] == "None" or (lt["Type"] == "Int" and lt["isSigned"])


def _seq_bounds_from_footers(changelog: DataFrame) -> "tuple[int, int] | None":
    """(min, max) of ``seq`` read from parquet ROW-GROUP FOOTER STATISTICS
    instead of a cluster scan — the Iceberg/Delta metadata-only min/max.
    Sound only for a BARE file scan (any Filter/Project above the relation
    changes the row set, so the guard below bails to the exact aggregate),
    a plain signed-integer INT64 column (parquet int64 stats are exact,
    never truncated like string stats; a DECIMAL or TIMESTAMP column is
    INT64 too, but its stats are not the integer seq values), and footers
    that all carry min/max (a stats-less or all-NULL row group returns
    None → fallback); the stats come from the table's footer reader,
    :func:`~diffsync_spark.sinks.table._footer_stats`. Both paths ignore
    NULL seq values — parquet min/max exclude nulls exactly as
    ``F.min``/``F.max`` do. Returns None on any soundness doubt. Footer
    I/O and decode errors, and a missing pyarrow, are logged once per
    process (:func:`~diffsync_spark.metrics.
    warn_fallback_once`); any other error propagates."""
    plan = changelog._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() != "LogicalRelation":
        return None
    files = changelog.inputFiles()
    if not files:
        return None
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq
    except ImportError as e:
        warn_fallback_once("replay seq bounds from footers", e)
        return None
    from urllib.parse import unquote

    lo = hi = None
    try:
        for f in files:
            # inputFiles() gives percent-encoded file: URIs; strip the
            # scheme and authority by hand — urlparse would cut a name at
            # an unencoded '#' or '?'
            if f.startswith("file:"):
                path = unquote("/" + f[len("file:"):].lstrip("/"))
            elif ":" in f.split("/", 1)[0]:
                return None  # remote FS: the distributed agg is the tool
            else:
                path = f
            md = pq.ParquetFile(path).metadata
            # match the full dotted path, not .name: a NESTED field called
            # seq (e.g. meta.seq) also has .name == "seq" and can precede
            # the top-level column in footer order
            idx = next(
                (i for i in range(md.num_columns)
                 if md.schema.column(i).path == "seq"), None,
            )
            if idx is None or not _signed_int64(md.schema.column(idx)):
                return None
            if md.num_rows == 0:
                continue
            # a non-empty file whose footers leave seq out has a row group
            # without usable stats
            bounds = _footer_stats(md, {"seq"}).get("seq")
            if bounds is None:
                return None
            lo = bounds[0] if lo is None else min(lo, bounds[0])
            hi = bounds[1] if hi is None else max(hi, bounds[1])
    except (OSError, ValueError, pa.ArrowException) as e:
        warn_fallback_once("replay seq bounds from footers", e)
        return None
    return None if lo is None else (lo, hi)


def replay_batches(
    table: SnapshotTable,
    changelog: DataFrame,
    n_batches: int = 10,
    checkpoint_id: str = "batch_replay",
    start_batch: int = 0,
    expectations: "dict | None" = None,
) -> list[dict]:
    """Deterministic batch replay: split the changelog into ``n_batches``
    contiguous ``seq`` ranges and merge them in order. Used by tests to prove
    batching-invariance (any split converges to the same state) and by the
    bench harness. ``start_batch`` > 0 resumes mid-replay (the table skips
    already-committed batches anyway — belt and braces)."""
    fast = _seq_bounds_from_footers(changelog)
    if fast is not None:
        lo, hi = fast
    else:
        bounds = changelog.agg(
            F.min("seq").alias("lo"), F.max("seq").alias("hi")
        ).first()
        if bounds.lo is None:
            return []
        lo, hi = bounds.lo, bounds.hi
    span = (hi - lo + 1 + n_batches - 1) // n_batches
    results = []
    for i in range(start_batch, n_batches):
        b_lo, b_hi = lo + i * span, lo + (i + 1) * span
        batch = changelog.filter((F.col("seq") >= b_lo) & (F.col("seq") < b_hi))
        results.append(
            table.merge(batch, checkpoint_id=checkpoint_id, batch_id=i,
                        mode="lww", expectations=expectations)
        )
    return results


def stream_replay(
    table: SnapshotTable,
    changelog_dir: str,
    changelog_schema,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    stateful_prefilter: bool = False,
    state_ttl: str | None = None,
    results: list | None = None,
    maintain_every: int | None = None,
    max_delta_layers: int = 8,
    expectations: "dict | None" = None,
) -> StreamingQuery:
    """Tail a changelog directory (append-only parquet — the stand-in for a
    binlog/Kafka topic) and merge each micro-batch into the table.

    Exactly-once: Spark's streaming checkpoint gives batch replay with stable
    batch_ids; ``SnapshotTable.merge`` skips batch_ids at or below the last
    committed one for this checkpoint, so a batch re-delivered after a crash
    between sink-commit and checkpoint-commit is a no-op. Resume = restart
    with the same ``checkpoint_dir``.

    ``stateful_prefilter=True`` inserts :func:`~diffsync_spark.streaming.
    stateful.stateful_lww_filter` between the source and the sink: per key
    per micro-batch at most one winner flows to the MERGE, and only when it
    beats the key's streaming-state high-water mark. Pure optimization on
    duplicate-heavy feeds — the dropped rows are exactly the rows the
    sink's cross-batch LWW would discard, so the final state is identical
    (tested byte-for-byte); ``state_ttl`` bounds state at 10^10-key scale.
    Each merge result carries ``n_input`` (valid rows entering the MERGE),
    so the reduction is measurable: sum(n_input) filtered vs unfiltered.

    ``results``, when given a list, collects each micro-batch's merge result
    dict (driver-side, one tiny dict per batch).

    ``maintain_every=K`` runs :meth:`SnapshotTable.maintain` after every
    K-th merged batch — the steady-state dial for a MERGE-ON-READ sink:
    buckets whose outstanding delta-layer count reached
    ``max_delta_layers`` are folded back into base inside the stream, so
    the fold-read tax stays bounded while ingest keeps writing O(batch)
    bytes. A no-op (no commit) on copy-on-write tables.
    """
    spark: SparkSession = table.spark
    ckpt_id = "stream_" + hashlib.sha1(checkpoint_dir.encode()).hexdigest()[:12]
    reader = (
        spark.readStream.schema(changelog_schema)
        .option("maxFilesPerTrigger", max_files_per_trigger or 8)
        .parquet(changelog_dir)
    )
    if stateful_prefilter:
        from diffsync_spark.streaming.stateful import stateful_lww_filter

        reader = stateful_lww_filter(reader, table.model, state_ttl=state_ttl)

    n_applied = [0]

    def apply_batch(df: DataFrame, batch_id: int) -> None:
        res = table.merge(df, checkpoint_id=ckpt_id, batch_id=batch_id,
                          mode="lww", expectations=expectations)
        if results is not None:
            results.append(res)
        if not res.get("skipped"):
            n_applied[0] += 1
            if maintain_every and n_applied[0] % maintain_every == 0:
                table.maintain(max_delta_layers=max_delta_layers)

    writer = (
        reader.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(f"replay_{ckpt_id}")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_changes(
    table: SnapshotTable,
    from_version: int | None = None,
    poll_interval: float = 1.0,
    until_version: int | None = None,
    max_idle_polls: int = 1,
) -> Iterator[tuple[int, int, DataFrame]]:
    """Tail a SnapshotTable's OWN snapshot chain: yields
    ``(from_version, to_version, changes_df)`` hops as new commits land —
    the streaming surface over :meth:`SnapshotTable.changes`, so a
    downstream consumer subscribes to this table the way ``stream_replay``
    tails a changelog directory (the north rule's pipeline composition:
    table → table chaining without re-reading full snapshots).

    Each hop coalesces every version committed since the last poll into a
    single manifest-pruned diff (``changes(v, cur)``) — a burst of N
    upstream commits costs one delta read, not N. Hops are yielded lazily:
    the caller decides what to do with each delta (merge downstream,
    publish, alert) and when to resume polling.

    Termination: the tail drains up to ``until_version`` (default: the
    version current at first poll) and returns — availableNow semantics;
    hops never overshoot an explicit ``until_version`` even when the
    table has advanced past it. With ``until_version=None,
    max_idle_polls=None`` the generator tails forever;
    ``max_idle_polls`` only matters in that open-ended mode as the
    give-up bound when no ``until_version`` anchors termination.
    """
    v = table.current_version() if from_version is None else from_version
    if until_version is None and max_idle_polls is not None:
        until_version = table.current_version()
    idle = 0
    while True:
        cur = table.current_version()
        # never overshoot an explicit end version: the consumer asked for
        # state AS OF until_version, not whatever landed since
        hop_to = cur if until_version is None else min(cur, until_version)
        if hop_to > v:
            idle = 0
            try:
                delta = table.changes(v, hop_to)
            except FileNotFoundError as exc:
                from diffsync_spark.errors import DiffSyncSparkError

                raise DiffSyncSparkError(
                    f"resume version {v} has been expired upstream "
                    "(expire_snapshots dropped its manifest) — the tail "
                    "cannot compute an incremental delta from it. "
                    "Re-bootstrap the consumer (fresh checkpoint_id) or "
                    "raise the upstream's expire_snapshots keep_last above "
                    "the longest consumer lag."
                ) from exc
            yield (v, hop_to, delta)
            v = hop_to
            continue
        if until_version is not None and v >= until_version:
            return  # drained to the requested end — done, no idle wait
        if max_idle_polls is not None:
            idle += 1
            if idle >= max_idle_polls:
                return
        time.sleep(poll_interval)


def pipe_changes(
    upstream: SnapshotTable,
    downstream: SnapshotTable,
    checkpoint_id: str = "pipe",
    poll_interval: float = 1.0,
    until_version: int | None = None,
    max_idle_polls: int = 1,
    transform=None,
) -> list[dict]:
    """Cascade one table into another: bootstrap ``downstream`` from
    ``upstream``'s current snapshot if this checkpoint has never run, then
    apply each :func:`stream_changes` hop via ``apply_diff``.

    Exactly-once across restarts WITHOUT an external checkpoint store: the
    upstream version each hop ends at is committed as the downstream batch
    id under ``checkpoint_id``, so on restart the pipe resumes from
    ``downstream.committed_batch(checkpoint_id)`` — a hop re-delivered
    after a crash between apply and the next poll is skipped by the
    downstream's own (checkpoint_id, batch_id) commit metadata, and a hop
    that never applied is recomputed (``changes`` is deterministic for a
    pinned version range).

    Scale shape: each hop reads only buckets whose file sets changed
    (manifest pruning in ``changes``) and writes only buckets the delta
    touches (MERGE pruning in ``apply_diff``) — a small upstream commit
    flows through as a small downstream commit, never a table rewrite.

    ``transform`` is the silver-layer hook: a callable
    ``(DataFrame) -> DataFrame`` over the changelog row shape
    ``(key cols, op, payload cols)`` — applied to the bootstrap snapshot
    AND to every hop's delta rows before they merge, so cleansing/derived
    columns (scrubbed text, quality scores, ...) are maintained
    incrementally downstream. The transform must preserve the key and
    ``op`` columns; added payload columns flow through the downstream
    table's normal schema evolution.
    """
    from diffsync_spark.sinks.table import diff_to_batch

    results: list[dict] = []
    resume = downstream.committed_batch(checkpoint_id)
    if resume < 0:
        boot_v = upstream.current_version()
        rows = upstream.read(boot_v).withColumn("op", F.lit("insert"))
        if transform is not None:
            rows = transform(rows)
        results.append(downstream.merge(
            rows, mode="force",
            checkpoint_id=checkpoint_id, batch_id=boot_v,
        ))
        resume = boot_v
    for _, v_to, delta in stream_changes(
        upstream, from_version=resume, poll_interval=poll_interval,
        until_version=until_version, max_idle_polls=max_idle_polls,
    ):
        if transform is None:
            results.append(downstream.apply_diff(
                delta, checkpoint_id=checkpoint_id, batch_id=v_to
            ))
        else:
            batch = transform(diff_to_batch(delta, downstream.model))
            results.append(downstream.merge(
                batch, mode="force",
                checkpoint_id=checkpoint_id, batch_id=v_to,
            ))
    return results


def pipe_aggregate(
    upstream: SnapshotTable,
    downstream: SnapshotTable,
    agg,
    checkpoint_id: str = "rollup",
    poll_interval: float = 1.0,
    until_version: int | None = None,
    max_idle_polls: int = 1,
) -> list[dict]:
    """Incrementally-maintained AGGREGATE view (the gold-layer analog of
    :func:`pipe_changes`): ``downstream`` holds one row per group — its
    model's identifiers are the group key — and each upstream hop
    recomputes ONLY the groups the delta touched ("dirty-group"
    incremental view maintenance), never the whole aggregate.

    ``agg`` is a callable ``(DataFrame) -> DataFrame``: given upstream
    rows (already restricted to the dirty groups), return one row per
    group — the group columns plus the aggregate payload. Because whole
    dirty groups are recomputed from the pinned upstream snapshot, ANY
    aggregate works — max/min/distinct-count included, which pure
    delta-folding cannot maintain under deletes.

    Scale shape: a hop touching G groups reads only those groups' rows —
    when the group key IS the upstream's bucketing key (parent_key), the
    read is manifest-pruned to the dirty groups' buckets (the bucket-id
    set is collected, bounded by n_buckets — never group rows), then
    semi-joined on the group key (AQE broadcasts a small dirty set).
    Groups whose rows all disappeared upstream are tombstoned downstream.
    Exactly-once across restarts rides the downstream's own
    ``(checkpoint_id, batch_id=upstream_version)`` commit metadata,
    exactly like :func:`pipe_changes`.
    """
    from pyspark.sql import types as T

    from diffsync_spark.errors import DiffSyncSparkError

    group_cols = list(downstream.model.identifiers)

    def _null(field: T.StructField):
        return F.lit(None).cast(field.dataType).alias(field.name)

    def _apply(state: DataFrame, dirty: DataFrame | None,
               batch_id: int) -> dict:
        fresh = agg(state)
        missing = [c for c in group_cols if c not in fresh.columns]
        if missing:
            raise DiffSyncSparkError(
                f"agg() result lacks group columns {missing}"
            )
        batch = fresh.withColumn("op", F.lit("upsert"))
        if dirty is not None:
            payload_fields = [f for f in downstream.schema().fields
                              if f.name not in group_cols]
            gone = dirty.join(fresh, on=group_cols, how="left_anti").select(
                *group_cols, F.lit("delete").alias("op"),
                *[_null(f) for f in payload_fields],
            )
            batch = batch.select(
                *group_cols, "op",
                *[f.name for f in payload_fields],
            ).unionByName(gone)
        return downstream.merge(
            batch, mode="force",
            checkpoint_id=checkpoint_id, batch_id=batch_id,
        )

    results: list[dict] = []
    resume = downstream.committed_batch(checkpoint_id)
    if resume < 0:
        boot_v = upstream.current_version()
        results.append(_apply(upstream.read(boot_v), None, boot_v))
        resume = boot_v
    bucket_src = list(upstream.model.parent_key or upstream.model.identifiers)
    for _, v_to, delta in stream_changes(
        upstream, from_version=resume, poll_interval=poll_interval,
        until_version=until_version, max_idle_polls=max_idle_polls,
    ):
        dirty = delta.select(*group_cols).dropDuplicates(group_cols)
        if group_cols == bucket_src:
            n_buckets = upstream.stored_manifest(v_to)["n_buckets"]
            b_col = F.pmod(
                F.xxhash64(*group_cols), F.lit(n_buckets)
            ).cast("int")
            buckets = sorted(
                r[0] for r in
                dirty.select(b_col.alias("b")).distinct().collect()
            )
            state = upstream.read(v_to, buckets=buckets)
        else:
            state = upstream.read(v_to)
        state = state.join(dirty, on=group_cols, how="left_semi")
        results.append(_apply(state, dirty, v_to))
    return results
