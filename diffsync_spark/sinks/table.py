"""SnapshotTable — an Iceberg-style transactional keyed table over parquet.

The durable keyed store that replaces the reference's ``LocalStore``/
``RedisStore`` (``/root/reference/diffsync/store/local.py``, ``store/redis.py``):
where the reference keeps ``dict[model][uid] -> object`` on one host (or one
pickled value per Redis key), this table keeps bucketed parquet files plus a
chain of JSON snapshot manifests, giving the same contract — keyed upsert,
idempotent re-add (``store/local.py:103-108``), cascade delete
(``store/__init__.py:102-116``) — at lake scale.

Why not real Iceberg: the sandbox has no Iceberg jars (environment probe,
SURVEY §7); this sink implements the same externally-visible contract —
MERGE upsert, snapshot isolation, schema evolution, time travel, per-commit
lineage, exactly-once via commit metadata — behind one class, so swapping in
``MERGE INTO`` on real Iceberg later only changes this file.

Layout (the manifests, bm segments and pointers are the format of
``sinks/manifest.py``, the one module that reads and commits them)::

    table_dir/
      manifests/v{N}.json     immutable snapshot manifests (exclusive-create)
      _current                atomic pointer (os.replace) to the live version
      data/v{N}-{sid}/_bucket=K/__slot=S/   parquet written by commit N (sid =
                                   snapshot id prefix: racing attempts write
                                   disjoint dirs; losers leave unreferenced
                                   orphans; slot = the writer fan-out a key
                                   hashes to — lookups prune to one slot)
      quarantine/v{N}-{sid}/       rejected rows per commit

Design points for 100 TB:

- **Bucketed by conv_id** (``pmod(xxhash64(conv_id), n_buckets)``): a MERGE
  reads and rewrites ONLY the buckets its batch touches — the manifest keeps
  old file references for untouched buckets (copy-on-write per bucket, like
  Iceberg partition-level overwrite). Hot conversations cluster within one
  bucket but the *diff join* runs on the full natural key, so skew only
  affects file sizes, not join parallelism.
- **Tombstones** (``_deleted``): a delete is a row write, so a late (older
  ``(ts, seq)``) update can never resurrect a deleted key — the LWW
  comparison still has the tombstone's version to lose against.
- **Exactly-once**: every commit records ``(checkpoint_id, batch_id)``; a
  replayed foreachBatch (at-least-once) is detected and skipped before any
  data is written. Mirrors the reference's idempotent same-object ``add``
  no-op at ``store/local.py:103-108``.
- **Schema evolution**: new batch columns widen the manifest schema; old
  files read through the widened schema yield nulls (parquet read with
  explicit schema), matching the reference's intersection rule on compare
  plus additive evolution on apply (SURVEY §1.2).
"""

from __future__ import annotations

import builtins
import dataclasses
import functools
import json
import os
import re
import time
import uuid
from typing import Any, NamedTuple, Sequence

from pyspark.sql import DataFrame, SparkSession, Window, functions as F, types as T

from diffsync_spark.errors import CommitConflict, DiffSyncSparkError
from diffsync_spark.flags import DiffFlags
from diffsync_spark.metrics import warn_fallback_once
from diffsync_spark.model import ModelSchema
from diffsync_spark.operators.lww import lww_dedup
from diffsync_spark.sinks.arrow_read import (
    FIELD_ID_KEY as _FIELD_ID_KEY,
    _lww_fold_chunk,
    _read_key_rows,
)
from diffsync_spark.sinks import keyhash
from diffsync_spark.sinks.fsio import LocalCommitIO
from diffsync_spark.sinks.manifest import ManifestLog, next_manifest, retrying

def _prof(label: str, t0: float) -> None:
    """Opt-in phase timing for the write/commit paths (guide §1: measure
    first). Zero-cost unless DIFFSYNC_PROFILE_MERGE is set; prints one
    line per phase to stderr so a profiling run can attribute wall time
    to driver-side phases. ``write_job`` is the write's one Spark job
    when its inputs fit one partition; above that it also holds the
    shuffle map stages (see ``SnapshotTable._fits_one_partition``).
    Every bucket rewrite (copy-on-write merge,
    snapshot sync, compact, rebucket) reports the shared step's
    observe_build, write_job and footer_pass, then commit (rebucket
    commits unlabelled); a copy-on-write merge adds pre_stats, stats_pass,
    stored_frame_build and mid_to_write_commit before it, a snapshot sync
    snapshot_write_job, quarantine_write and discard_unchanged after it; a
    merge-on-read append goes through the same step (observe_build,
    write_job, footer_pass), then quarantine_write and commit; merge()
    reports merge_total."""
    if os.environ.get("DIFFSYNC_PROFILE_MERGE"):
        import sys as _sys

        print(f"[merge-prof] {label}: {time.perf_counter() - t0:.3f}s",
              file=_sys.stderr, flush=True)


META_SEQ = "_seq"
META_DELETED = "_deleted"
META_COMMIT = "__commit"
BUCKET = "_bucket"
SLOT = "__slot"

# Stable column identity (the Iceberg field-id scheme, carried as parquet
# field ids so SPARK resolves columns by id, not name): user columns get
# 1..N at create/evolution time, meta columns live in a reserved band.
# Rename = same id, new name (old files keep resolving); drop + re-add =
# NEW id (old files' values never resurrect).
_META_FIELD_IDS = {META_SEQ: 10_001, META_DELETED: 10_002,
                   META_COMMIT: 10_003}
_MAX_USER_FIELD_ID = 10_000

# names the engine owns — user columns (including DDL-added/renamed ones)
# may never take them, or the next read/merge breaks on duplicates
_RESERVED_COL_NAMES = {"op", "seq", META_SEQ, META_DELETED, META_COMMIT,
                       BUCKET, SLOT, "__valid"}


def _with_field_ids(schema: T.StructType, start: int = 1) -> T.StructType:
    """Assign sequential field ids to every field (create-time)."""
    fields = []
    for i, f in enumerate(schema.fields):
        md = dict(f.metadata or {})
        md[_FIELD_ID_KEY] = start + i
        fields.append(T.StructField(f.name, f.dataType, f.nullable, md))
    return T.StructType(fields)


def _next_field_id(man: dict) -> int:
    """The id a newly added column gets: one past the manifest's monotone
    ``last_field_id`` watermark, so a column re-added after a drop never
    reuses the dropped id (old files' values cannot resurrect)."""
    return man["last_field_id"] + 1


def _stat_scalar(v):
    """JSON-safe, unit-normalized stat value: timestamps -> epoch micros,
    dates -> epoch days, numerics as-is, anything else -> None (no pruning
    on that column)."""
    import datetime as _dt

    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, (int, float)):
        return v
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return int((v - _dt.datetime(1970, 1, 1)).total_seconds()
                   * 1_000_000)
    if isinstance(v, _dt.date):
        return (v - _dt.date(1970, 1, 1)).days
    return None


def _footer_stats(md, want: set) -> dict[str, list]:
    """Per-file ``[min, max]`` of the ``want`` columns (matched on the full
    dotted path, so a nested ``meta.seq`` is never ``seq``) from one parquet
    footer's row-group statistics, as :func:`_stat_scalar` values. Empty row
    groups are skipped; a column with any other row group lacking usable
    stats is left out. The one footer min/max reader: manifest file stats
    (:meth:`SnapshotTable._layer_footers`) and the replay's seq bounds."""
    agg: dict[str, Any] = {}
    for rg in range(md.num_row_groups):
        row = md.row_group(rg)
        if row.num_rows == 0:
            continue
        for ci in range(row.num_columns):
            col = row.column(ci)
            name = col.path_in_schema
            if name not in want or agg.get(name) is False:
                continue
            st = col.statistics
            usable = st is not None and st.has_min_max
            lo = _stat_scalar(st.min) if usable else None
            hi = _stat_scalar(st.max) if usable else None
            if lo is None or hi is None:
                agg[name] = False  # one unknown row group poisons
                continue
            cur = agg.get(name)
            agg[name] = ([min(cur[0], lo), max(cur[1], hi)]
                         if cur else [lo, hi])
    return {c: v for c, v in agg.items() if v}


def _lineage_row(checkpoint_id: str | None, batch_id: int | None,
                 snapshot_id: str, partition: int, **counts: Any) -> dict:
    """One lineage record of a commit: a bucket's counts (``partition`` is
    the bucket) or its quarantined rows (``partition`` -1); counts not
    given are 0."""
    return {
        "checkpoint_id": checkpoint_id,
        "batch_id": batch_id,
        "snapshot_id": snapshot_id,
        "partition": partition,
        "n_create": 0, "n_update": 0, "n_delete": 0, "n_noop": 0,
        "n_quarantined": 0,
        **counts,
    }


UPSERT_OPS = ("insert", "update", "create", "upsert")
DELETE_OP = "delete"
# per-row lineage classes of a copy-on-write rewrite (the __op_class column);
# noop is what a bucket's footer row count leaves after the applied classes
_OP_CLASSES = ("create", "update", "delete", "noop")
_APPLIED = _OP_CLASSES[:3]
# metric expressions per observation on a write job; wider per-bucket
# counts are split over several observations of the same job
_OBSERVE_MAX_EXPRS = 512

# per-attempt data dir naming: v{version}-{snapshot_id[:12]} — the component
# remove_orphans / liveness checks key on (bucket/slot dirs can never match)
_VDIR_RE = re.compile(r"^v\d+-[0-9a-f]+$")


_SLOT_RE = re.compile(rf"{re.escape(os.sep)}{SLOT}=(\d+){re.escape(os.sep)}")


def _slot_of(path: str) -> int | None:
    """The writer slot of a data file, from its ``__slot=S`` dir."""
    m = _SLOT_RE.search(path)
    return int(m.group(1)) if m else None


class _Written(NamedTuple):
    """What one bucket rewrite wrote and counted
    (:meth:`SnapshotTable._write_buckets`)."""

    files: dict[str, list[str]]  # bucket -> its new data files
    rows: dict[int, int]  # bucket -> stored rows, from the footers
    stats: dict[str, dict[str, list]]  # file -> column -> [min, max]
    live: dict[int, int]  # bucket -> observed non-tombstone rows
    # bucket -> create/update/delete counts, when the frame was classified
    ops: dict[int, dict[str, int]] | None


class SnapshotTable(ManifestLog):
    """A keyed, versioned, bucketed parquet table with MERGE semantics. Its
    manifests, pointer and commit protocol are the :class:`ManifestLog`
    (``sinks/manifest.py``); ``ref`` names the ref this handle's commits
    advance (see :meth:`branch`)."""

    def __init__(self, spark: SparkSession, path: str, model: ModelSchema,
                 io: LocalCommitIO | None = None):
        super().__init__(path, io)
        self.spark = spark
        self.model = model
        # merge-expression cache: Column objects are immutable unresolved
        # expression trees referencing columns BY NAME, so the projection/
        # join expressions a merge builds are reusable verbatim across
        # batches with the same (schema, batch columns, mode) — a
        # sustained replay rebuilds them every micro-batch otherwise,
        # ~0.15-0.3s of pure py4j round trips per merge (measured; the
        # same driver-overhead class as the observe-metrics fix)
        self._expr_cache: dict[tuple, tuple] = {}
        # field-id column resolution (rename support) needs these even on
        # sessions not built by build_session
        spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        # INT64 micros, not legacy INT96 (INT96 has no parquet column
        # stats — scan()'s per-file ts pruning needs them)
        spark.conf.set("spark.sql.parquet.outputTimestampType",
                       "TIMESTAMP_MICROS")

    def _manifest(self, version: int | None = None) -> dict:
        """The hydrated manifest of ``version`` (see :meth:`manifest`)."""
        return self.manifest(version)

    # ------------------------------------------------- per-file column stats
    #
    # Each commit records (min, max) of the numeric/timestamp identifier and
    # version columns per NEW data file, read from the parquet FOOTERS the
    # write already produced (no data read — the Iceberg writer-stats shape,
    # O(files written) footer fetches per commit, never O(table)). Stats
    # ride the bm segments ("stats"), hydrate into _file_stats, and feed
    # scan()'s manifest-level file skipping. String columns are skipped:
    # parquet writers may truncate string min/max (unsound bounds), and key
    # equality already routes by hash bucket, which is exact.

    _STATS_TYPES = (
        T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType,
        T.DoubleType, T.DateType, T.TimestampType, T.TimestampNTZType,
    )

    def _stat_cols(self, public: T.StructType) -> list[str]:
        cand = set(self.model.identifiers) | set(self.model.version_cols)
        return [f.name for f in public.fields
                if f.name in cand and isinstance(f.dataType, self._STATS_TYPES)]

    def _write_files(self, df: DataFrame, man: dict, data_dir: str) -> None:
        """The one physical write: dynamic-partition parquet under
        ``data_dir``. Tables created with ``bloom_cols`` get NATIVE parquet
        bloom filters on those columns (Spark-first: the format's own
        structure, which the parquet reader then uses to skip row groups on
        pushed-down equality — the string-column complement to the numeric
        (min, max) stats, whose truncation hazard blooms don't have). Sized
        to the write target: ``expected.ndv`` tracks the binpack row target
        so each row group's bitset stays ~tens of KB. parquet-mr writes the
        bitset only when a chunk FALLS BACK from dictionary encoding — a
        complete dictionary is already an exact filter — so low-cardinality
        chunks pay nothing and high-cardinality ones (the 100 TB regime)
        get the bloom."""
        w = df.write.mode("overwrite")
        for c in man.get("bloom_cols") or []:
            w = (
                w.option(f"parquet.bloom.filter.enabled#{c}", "true")
                .option(f"parquet.bloom.filter.expected.ndv#{c}", "25000")
            )
        w.partitionBy(BUCKET, SLOT).parquet(data_dir)

    def _layer_footers(
        self, data_dir: str, cols: list[str]
    ) -> tuple[dict[str, list[str]], dict[int, int], dict[str, dict[str, list]]]:
        """The one footer pass over a freshly written data dir: its files
        per ``_bucket=`` dir, each bucket's row count (sum of footer
        ``num_rows``) and the per-file ``[min, max]`` of the ``cols``.
        Every writer takes its per-bucket row counts from here. A missing
        pyarrow or an unreadable footer is logged once per process: that
        file gets no stats (no pruning on it) and its bucket no row count
        (unknown, left out of ``rows``); any other error propagates."""
        files: dict[str, list[str]] = {}
        rows: dict[int, int] = {}
        stats: dict[str, dict[str, list]] = {}
        prefix = f"{BUCKET}="
        for entry in self.io.list_dirs(data_dir):
            if entry.startswith(prefix):
                bk = int(entry[len(prefix):])
                listed = self._list_bucket_files(data_dir, bk)
                if listed:
                    files[str(bk)] = listed
        try:
            import pyarrow as pa
            import pyarrow.parquet as pq
        except ImportError as e:
            warn_fallback_once("manifest file stats", e)
            return files, rows, stats
        want = set(cols)
        for b, listed in files.items():
            n = 0
            for p in listed:
                try:
                    md = pq.ParquetFile(p).metadata
                except (OSError, ValueError, pa.ArrowException) as e:
                    warn_fallback_once("manifest file stats", e)
                    n = None
                    continue
                if n is not None:
                    n += md.num_rows
                st = _footer_stats(md, want)
                if st:
                    stats[p] = st
            if n is not None:
                rows[int(b)] = n
        return files, rows, stats

    def schema(self, version: int | None = None) -> T.StructType:
        return T.StructType.fromJson(
            json.loads(self.stored_manifest(version)["schema"]))

    # --------------------------------------------------------------- create
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        model: ModelSchema,
        schema: T.StructType,
        n_buckets: int = 64,
        io: LocalCommitIO | None = None,
        write_mode: str = "cow",
        bloom_cols: Sequence[str] | None = None,
    ) -> "SnapshotTable":
        """Initialize an empty table. ``schema`` is the PUBLIC schema (payload
        only); meta columns are managed internally.

        ``write_mode`` picks the MERGE's physical strategy (the Iceberg v2
        ``write.merge.mode`` dial):

        - ``"cow"`` (copy-on-write, default): each merge reads the touched
          buckets' current rows, joins, and REWRITES those buckets whole.
          Reads stay a plain scan; writes pay bucket-rewrite amplification.
        - ``"mor"`` (merge-on-read): an LWW merge never reads or rewrites
          the base — it appends the deduped batch as a DELTA LAYER (same
          bucket/slot fan-out) and readers fold base + layers back to one
          winner per key at scan time. At 10^10 events a hot bucket's write
          cost drops from O(bucket size) to O(batch rows); ``compact()``
          folds layers back into the base. Force-mode merges (``apply_diff``
          / ``delete_where``) still rewrite, clearing the touched buckets'
          layers.

        ``bloom_cols`` turns on NATIVE parquet bloom filters for the named
        columns on every data file the table ever writes (merge, delta
        layer, compact, rebucket). The parquet reader then skips row groups
        on pushed-down equality — the pruning story for STRING payload
        columns, which the per-file (min, max) stats deliberately exclude
        (writers may truncate string bounds). Costs ~tens of KB per row
        group per column; pick the columns point queries actually filter
        on (e.g. a session or speaker id), not everything.
        """
        if write_mode not in ("cow", "mor"):
            raise DiffSyncSparkError(
                f"write_mode must be 'cow' or 'mor', got {write_mode!r}"
            )
        known = {f.name for f in schema.fields}
        for c in bloom_cols or []:
            if c not in known:
                raise DiffSyncSparkError(f"unknown bloom column {c!r}")
        table = cls(spark, path, model, io=io)
        table.io.makedirs(table._manifest_dir, exist_ok=False)
        table.io.makedirs(os.path.join(path, "data"), exist_ok=True)
        # stable field ids from birth: every data file is written with
        # parquet field ids, so later renames are metadata-only commits
        schema = _with_field_ids(schema)
        manifest = {
            "version": 1,
            "snapshot_id": uuid.uuid4().hex,
            "parent_snapshot_id": None,
            "schema": schema.json(),
            "n_buckets": n_buckets,
            "files": {},
            "checkpoints": {},
            "lineage": [],
            "write_mode": write_mode,
            **({"bloom_cols": list(bloom_cols)} if bloom_cols else {}),
            # self-describing: external readers (the diffsync_table Python
            # DataSource) reconstruct key/ordering semantics from here
            "model": dataclasses.asdict(model),
            "last_field_id": len(schema.fields),
        }
        table._commit(manifest)
        return table

    @classmethod
    def load(cls, spark: SparkSession, path: str, model: ModelSchema,
             io: LocalCommitIO | None = None) -> "SnapshotTable":
        """Open the table at ``path``: raises when there is none, or when
        its current manifest is of another ``format_version``."""
        table = cls(spark, path, model, io=io)
        try:
            table.stored_manifest()
        except FileNotFoundError:
            raise DiffSyncSparkError(f"no SnapshotTable at {path}") from None
        return table

    # ----------------------------------------------------------------- read
    def _full_schema(self, public: T.StructType) -> T.StructType:
        def _meta(name: str, dtype: T.DataType) -> T.StructField:
            return T.StructField(name, dtype, True,
                                 {_FIELD_ID_KEY: _META_FIELD_IDS[name]})

        fields = list(public.fields)
        fields.append(_meta(META_SEQ, T.LongType()))
        fields.append(_meta(META_DELETED, T.BooleanType()))
        return T.StructType(fields)

    def _fold_schema(self, full: T.StructType) -> T.StructType:
        md = {_FIELD_ID_KEY: _META_FIELD_IDS[META_COMMIT]}
        return T.StructType(
            full.fields + [T.StructField(META_COMMIT, T.LongType(), True, md)]
        )

    def _tag_field_ids(self, df: DataFrame, schema: T.StructType) -> DataFrame:
        """Alias every written column with its field-id metadata so the
        parquet footer carries stable ids. Partition columns (bucket/slot)
        become directories, not file columns, so they stay untagged."""
        # the aliased-Column list depends only on (schema, column order) —
        # cache it on the handle so a replay's micro-batches reuse it
        # (~40 py4j alias round trips per merge otherwise; measured
        # 0.085s -> 0.012s per call)
        _tkey = ("tag_ids", schema.json(), tuple(df.columns))
        if _tkey in self._expr_cache:
            (cols,) = self._expr_cache[_tkey]
            return df.select(*cols)
        ids = {f.name: dict(f.metadata) for f in schema.fields
               if _FIELD_ID_KEY in (f.metadata or {})}
        for m, i in _META_FIELD_IDS.items():
            ids[m] = {_FIELD_ID_KEY: i}
        cols = [
            F.col(c).alias(c, metadata=ids[c]) if c in ids else F.col(c)
            for c in df.columns
        ]
        self._expr_cache[_tkey] = (cols,)
        return df.select(*cols)

    @staticmethod
    def _delta_buckets(man: dict, buckets: list[int] | None = None) -> set[int]:
        """Buckets that have at least one delta layer (merge-on-read tables;
        always empty on copy-on-write), intersected with ``buckets``."""
        out: set[int] = set()
        for layer in man.get("deltas") or []:
            out.update(int(b) for b in layer["files"])
        if buckets is not None:
            out &= set(buckets)
        return out

    @staticmethod
    def _delta_files(man: dict, buckets: set[int] | None = None) -> list[str]:
        files: list[str] = []
        for layer in man.get("deltas") or []:
            for b, fl in layer["files"].items():
                if buckets is None or int(b) in buckets:
                    files.extend(fl)
        return files

    def _fold(self, df: DataFrame) -> DataFrame:
        """Merge-on-read scan-time resolution: one winner per natural key
        over base rows (``__commit`` 0) + delta-layer rows (``__commit`` =
        the layer's commit version). The ordering reproduces the
        copy-on-write MERGE's sequential LWW rule exactly:

        - version col desc, NULLS FIRST — a null-ts row is always a
          tombstone (upserts with a null version are quarantined at write)
          and the cross-batch rule treats a null-ts delete as newest;
        - ``_seq`` desc — the changelog tiebreak;
        - ``__commit`` asc — on a full (ts, seq) tie the STORED row wins
          under copy-on-write (strict ``>`` comparisons), i.e. the earliest
          commit.

        The window shuffles on the full natural key — high cardinality, so
        hot conversations spread across partitions and the sort runs inside
        tiny per-key groups — unless :meth:`_stored_frame` coalesced a
        small input to one partition, which the window needs no Exchange
        for. Only called for buckets that actually carry delta layers;
        delta-free buckets bypass it entirely (see :meth:`read_raw`)."""
        ids = list(self.model.identifiers)
        order = []
        if self.model.version_cols:
            order.append(F.col(self.model.version_cols[0]).desc_nulls_first())
        order += [F.col(META_SEQ).desc(), F.col(META_COMMIT).asc()]
        w = Window.partitionBy(*ids).orderBy(*order)
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", META_COMMIT)
        )

    def _stored_frame(
        self, man: dict, buckets: list[int] | None, public: T.StructType,
        keep_file=None,
    ) -> DataFrame:
        """All stored rows of the requested buckets through ``public``'s
        evolved view — fold-aware: buckets carrying delta layers are read
        base+layers and folded to one winner per key; delta-free buckets
        stream through with no window/shuffle (at 100 TB with layers on a
        few hot buckets, the rest of the table never shuffles on read).
        A fold whose files fit one partition (:meth:`_fits_one_partition`)
        runs on one, with no Exchange; a larger one shuffles on the
        natural key (one Exchange)."""
        full = self._full_schema(public)
        dbk = self._delta_buckets(man, buckets)
        plain_files: list[str] = []
        base_fold_files: list[str] = []
        for b, fl in man["files"].items():
            if buckets is not None and int(b) not in buckets:
                continue
            if int(b) in dbk:
                # folded buckets are never file-level pruned (see scan():
                # dropping one layer could resurrect a superseded row)
                base_fold_files.extend(fl)
            else:
                plain_files.extend(
                    fl if keep_file is None
                    else [p for p in fl if keep_file(p)])
        plain = (
            self.spark.read.schema(full).parquet(*plain_files)
            if plain_files else None
        )
        if not dbk:
            return plain if plain is not None else self.spark.createDataFrame([], full)
        fold_in = self.spark.read.schema(self._fold_schema(full)).parquet(
            *self._delta_files(man, dbk)
        )
        if base_fold_files:
            fold_in = (
                self.spark.read.schema(full).parquet(*base_fold_files)
                .withColumn(META_COMMIT, F.lit(0).cast("long"))
                .unionByName(fold_in)
            )
        if self._fits_one_partition(fold_in):
            fold_in = fold_in.coalesce(1)
        folded = self._fold(fold_in)
        return plain.unionByName(folded) if plain is not None else folded

    def _fits_one_partition(self, *frames: DataFrame) -> bool:
        """Whether a write's or fold's inputs are small enough to run as ONE
        task. The optimizer's size estimates of ``frames`` (plan
        statistics, read on the driver with no job: a file scan estimates
        its files' bytes; a frame of unknown size, e.g. one built from
        Python rows, estimates ``Long.MaxValue`` and never fits) are summed
        and compared with the smaller of two Spark settings:
        ``spark.sql.maxSinglePartitionBytes`` (128 MB by default), the size
        up to which ``EnsureRequirements`` keeps a single-partition join
        input unshuffled, and ``spark.sql.autoBroadcastJoinThreshold``
        (10 MB), the size up to which Spark hands a relation whole to every
        task instead of shuffling it (a negative threshold, broadcasts off,
        turns this off too). The broadcast threshold bounds it because one
        task gives up scan and write parallelism: on 4 vCPUs a
        copy-on-write merge of 64 MB ran 23% slower on one partition than
        shuffled, and a merge-on-read fold of 16 MB (560k rows) ~10%
        slower, while the repo benchmark's writes and folds (under
        0.5 MB each) committed and scanned ~13% faster on one partition.

        When they fit, callers ``coalesce(1)`` their inputs instead of
        repartitioning them: the one partition satisfies every window,
        join and bucket fan-out above it, so the plan has no Exchange and
        runs as one Spark job. Above the budget the plans are unchanged.
        At the small batches of a CDC tail the cost of a write is its
        per-query fixed cost (jobs, stages, AQE re-planning between them),
        not its data volume."""
        jvm = self.spark._jvm
        budget = min(
            jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
                self.spark.conf.get("spark.sql.maxSinglePartitionBytes")),
            self.spark._jsparkSession.sessionState().conf()
            .autoBroadcastJoinThreshold(),
        )
        return sum(
            f._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            for f in frames
        ) <= budget

    def read_raw(
        self, version: int | None = None, buckets: list[int] | None = None
    ) -> DataFrame:
        """All stored rows (including tombstones + meta cols), optionally
        pruned to a bucket subset via the manifest — the file-skipping path
        every MERGE uses. On a merge-on-read table this is the folded view:
        exactly one (winning) row per key, same invariant as copy-on-write."""
        man = self._manifest(version)
        public = T.StructType.fromJson(json.loads(man["schema"]))
        return self._stored_frame(man, buckets, public)

    def read(
        self, version: int | None = None, buckets: list[int] | None = None
    ) -> DataFrame:
        """Live rows, public schema — the user-facing table state.
        ``buckets`` prunes the scan via the manifest (file skipping). The
        manifest is read once, so the schema and the files are always of
        the same version."""
        man = self._manifest(version)
        public = T.StructType.fromJson(json.loads(man["schema"]))
        return (
            self._stored_frame(man, buckets, public)
            .filter(~F.coalesce(F.col(META_DELETED), F.lit(False)))
            .select(*[f.name for f in public.fields])
        )

    _SCAN_OPS = ("=", "<", "<=", ">", ">=")

    def scan(
        self,
        predicates: "Sequence[tuple[str, str, Any]]",
        version: int | None = None,
    ) -> DataFrame:
        """Filtered read with MANIFEST-LEVEL file skipping: live rows
        satisfying every ``(column, op, value)`` conjunct (op in ``=, <,
        <=, >, >=``), reading only the files that can contain them.

        Three pruning layers, applied before Spark ever lists a file:

        - **hash-bucket routing**: equality on the full bucketing key
          (parent key / identifiers) resolves the one bucket the rows can
          live in — exact, the same route MERGE writes by.
        - **per-file stats** (copy-on-write buckets): files whose recorded
          (min, max) of a numeric/timestamp identifier or version column
          exclude the conjunct are skipped. Point predicates on a
          write-ordered bucket reduce to the matching slot files.
        - **whole-bucket stats** (merge-on-read buckets): a folded bucket
          is all-or-nothing — skipping ONE layer file could resurrect a
          superseded row, so the bucket is read in full unless NO file of
          it (base or layer) can match.

        Files with no recorded stats are always read; the residual filter
        is applied to the frame regardless, so pruning can only skip work,
        never change the answer."""
        man = self._manifest(version)
        public = T.StructType.fromJson(json.loads(man["schema"]))
        known = {f.name for f in public.fields}
        for c, op, _ in predicates:
            if op not in self._SCAN_OPS:
                raise DiffSyncSparkError(f"unsupported scan op {op!r}")
            if c not in known:
                raise DiffSyncSparkError(f"unknown column {c!r}")
        # hash-bucket routing on full-key equality
        eq = {c: v for c, op, v in predicates if op == "="}
        bucket_src = list(self.model.parent_key or self.model.identifiers)
        routed: set[int] | None = None
        if set(bucket_src) <= set(eq):
            routed = {self._route_key(man, public, eq)[0]}
        stats = man.get("_file_stats") or {}
        bounds = [(c, op, _stat_scalar(v)) for c, op, v in predicates]

        def may_match(p: str) -> bool:
            st = stats.get(p)
            if not st:
                return True
            for c, op, vv in bounds:
                rng = st.get(c)
                if rng is None or vv is None:
                    continue
                lo, hi = rng
                if (
                    (op == "=" and not lo <= vv <= hi)
                    or (op == "<" and not lo < vv)
                    or (op == "<=" and not lo <= vv)
                    or (op == ">" and not hi > vv)
                    or (op == ">=" and not hi >= vv)
                ):
                    return False
            return True

        deltas = man.get("deltas") or []
        dbk = {int(b) for layer in deltas for b in layer["files"]}
        all_b = {int(b) for b in man["files"]} | dbk
        keep: list[int] = []
        for b in sorted(all_b):
            if routed is not None and b not in routed:
                continue
            fl = list(man["files"].get(str(b), []))
            if b in dbk:
                fl += [p for layer in deltas
                       for p in layer["files"].get(str(b), [])]
                if any(may_match(p) for p in fl):  # all-or-nothing
                    keep.append(b)
            elif any(may_match(p) for p in fl):
                keep.append(b)
        df = self._stored_frame(man, keep, public, keep_file=may_match)
        cond = F.lit(True)
        for c, op, v in predicates:
            col = F.col(c)
            cond = cond & {
                "=": col == F.lit(v), "<": col < F.lit(v),
                "<=": col <= F.lit(v), ">": col > F.lit(v),
                ">=": col >= F.lit(v),
            }[op]
        return (
            df.filter(~F.coalesce(F.col(META_DELETED), F.lit(False)))
            .filter(cond)
            .select(*[f.name for f in public.fields])
        )

    def _route_key(
        self, man: dict, public: T.StructType, vals: dict
    ) -> tuple[int, int | None, tuple | None]:
        """``(bucket, full-key xxhash64, key)`` of one key, hashed exactly
        as MERGE routes its writes: xxhash64 over each value as a literal
        cast to its STORED type. ``key`` is those cast identifier values
        (a TimestampType value as epoch micros, so no local-time round
        trip), for a reader that matches the key with the routing's cast
        semantics. The hash and ``key`` are None when ``vals`` does not
        cover the full identifier key (scan()'s parent-key routing needs
        only the bucket).

        When every value already has its stored type (string, integral,
        boolean, date, timestamp; see :mod:`.keyhash`), the hash is
        computed in Python with no py4j call. Any other value is cast and
        hashed by Spark: the projection sits over a one-row ``VALUES``
        LocalRelation that Catalyst's ConvertToLocalRelation folds, so
        ``.first()`` is answered on the driver without a Spark job."""
        stored = {f.name: f.dataType for f in public.fields}
        ids = list(self.model.identifiers)
        bucket_src = self.model.parent_key or ids
        full = set(ids) <= set(vals)
        enc = {c: keyhash.encode(vals[c], stored[c])
               for c in (*bucket_src, *ids) if c in vals}
        if None not in enc.values():
            return (
                keyhash.xxhash64([enc[c] for c in bucket_src])
                % man["n_buckets"],
                keyhash.xxhash64([enc[c] for c in ids]) if full else None,
                tuple(enc[c][2] for c in ids) if full else None,
            )
        lits = {c: F.lit(vals[c]).cast(stored[c])
                for c in (*bucket_src, *ids) if c in vals}
        full_key = (
            F.xxhash64(*[lits[c] for c in ids]) if full
            else F.lit(None).cast("long")
        )
        key_cols = [
            F.unix_micros(lits[c]) if isinstance(stored[c], T.TimestampType)
            else lits[c]
            for c in (ids if full else ())
        ]
        r = self.spark.sql("VALUES (0)").select(
            F.pmod(F.xxhash64(*[lits[c] for c in bucket_src]),
                   F.lit(man["n_buckets"])).cast("int").alias("b"),
            full_key.alias("h"),
            *key_cols,
        ).first()
        return r[0], r[1], (tuple(r[2:]) if full else None)

    def count_rows(self, version: int | None = None) -> int:
        """Live (non-tombstone) row count from manifest metadata alone —
        Iceberg's snapshot-summary ``total-records``: the reference's
        ``store.count`` (``store/local.py:91-103``) without touching data.
        Every bucket rewrite (merge, snapshot sync, compact, rebucket)
        observes per-bucket live counts inside its own write job
        (:meth:`_write_buckets`), so at 100 TB this is a dict sum on the
        driver, not a 100 TB scan. ``bucket_live_rows`` is published only
        while every bucket with data has a known count; a merge-on-read
        layer makes its bucket's count unknown until compaction folds it,
        and manifests from before this field have none. Then this falls
        back to one counting scan."""
        man = self._manifest(version)
        live = man.get("bucket_live_rows")
        if live is None:
            return self.read(version).count()
        return sum(live.values())

    def lookup(self, key: Sequence[Any], version: int | None = None) -> dict | None:
        """Point lookup that reads ONLY the key's slot files, with no Spark
        job (the durable analog of the reference's ``store.get``,
        ``store/local.py:30-49``).

        The key's bucket is computed with the same xxhash64-over-stored-types
        expression the MERGE routes writes with (folded on the driver, see
        :meth:`_route_key`), then the manifest prunes the read to that
        bucket's slot file — plus, on merge-on-read, each layer's slot file:
        at most 1 + ``max_delta_layers`` small files whatever the table
        size. The driver reads them with pyarrow (key predicate pushed down
        to row groups), resolves columns by field id, folds the key's rows
        by :meth:`_fold`'s order and converts the winner as ``collect()``
        would: naive local datetimes, ``bytes``, ``Decimal``, nested
        ``Row``. Returns the row dict, or None for a missing or deleted
        key."""
        import pyarrow as pa
        from pyspark.sql.conversion import ArrowTableToRowsConversion
        from pyspark.sql.pandas.types import to_arrow_schema

        ids = list(self.model.identifiers)
        if len(key) != len(ids):
            raise DiffSyncSparkError(
                f"key {key!r} does not match identifiers {ids}"
            )
        man = self._manifest(version)
        public = T.StructType.fromJson(json.loads(man["schema"]))
        bucket, key_hash, cast_key = self._route_key(
            man, public, dict(zip(ids, key)))
        # the writer's slot hash is over the FULL key — Python % matches
        # Spark pmod sign semantics for a positive modulus
        files = self._lookup_files(man, bucket, key_hash)
        dfiles = self._lookup_delta_files(man, bucket, key_hash)
        if (not files and not dfiles) or any(v is None for v in cast_key):
            return None  # a NULL key part equals no stored row
        fold_schema = self._fold_schema(self._full_schema(public))
        arrow_types = {f.name: f.type for f in to_arrow_schema(fold_schema)}
        probe = {c: pa.scalar(v, type=arrow_types[c])
                 for c, v in zip(ids, cast_key)}
        pieces = []
        for p in files:
            t = _read_key_rows(p, fold_schema, probe)
            # base rows fold as commit 0, as in _stored_frame
            pieces.append(t.set_column(
                t.schema.get_field_index(META_COMMIT), META_COMMIT,
                pa.array([0] * t.num_rows, type=pa.int64())))
        pieces += [_read_key_rows(p, fold_schema, probe) for p in dfiles]
        rows = pa.concat_tables(pieces)
        if rows.num_rows > 1:
            vcols = list(self.model.version_cols)
            order = dict.fromkeys([*ids, *vcols[:1], META_SEQ, META_COMMIT])
            # object ints keep int64 exact where NULLs would force float64
            pdf = rows.select(list(order)).to_pandas(
                integer_object_nulls=True)
            pdf["__row"] = range(len(pdf))
            win = _lww_fold_chunk(pdf, ids, vcols)["__row"].iloc[0]
            rows = rows.slice(int(win), 1)
        if not rows.num_rows or rows.column(META_DELETED)[0].as_py():
            return None
        return ArrowTableToRowsConversion.convert(
            rows.select(public.fieldNames()), public)[0].asDict()

    def _lookup_files(self, man: dict, bucket: int, key_hash: int) -> list[str]:
        """Manifest file pruning for a point lookup: the key's bucket, then
        — when that bucket was written with slot fan-out — only the one
        ``__slot=S`` file set its hash routes to. A hot 64-slot bucket's
        lookup reads 1/64th of the bucket."""
        slot = key_hash % int(man.get("bucket_splits", {}).get(str(bucket), 1))
        seg = f"{os.sep}{SLOT}={slot}{os.sep}"
        return [p for p in man["files"].get(str(bucket), []) if seg in p]

    def _lookup_delta_files(
        self, man: dict, bucket: int, key_hash: int
    ) -> list[str]:
        """Delta-layer files a point lookup must also read (merge-on-read):
        per layer, the key's bucket — slot-pruned with THAT layer's recorded
        fan-out, since every layer plans its own splits."""
        out: list[str] = []
        for layer in man.get("deltas") or []:
            slot = key_hash % int(layer.get("splits", {}).get(str(bucket), 1))
            seg = f"{os.sep}{SLOT}={slot}{os.sep}"
            out.extend(p for p in layer["files"].get(str(bucket), [])
                       if seg in p)
        return out

    def lookup_many(
        self, keys: DataFrame, version: int | None = None
    ) -> DataFrame:
        """Bulk keyed read — the distributed analog of the reference's
        ``store.get_by_uids`` (``store/local.py:67-89``) against the durable
        table: given a frame of identifier tuples, return the live rows that
        match, reading ONLY the buckets (and, where the writer fanned out,
        only the ``__slot=S`` file sets) the key set hashes into.

        100 TB shape: probing a 1,024-bucket table with keys that land in
        40 buckets scans ~4% of the table no matter how many key ROWS there
        are — the keys frame itself is never collected; only its distinct
        (bucket, slot) pairs are (bounded by total slot count, ≤
        n_buckets x 64, regardless of key volume). The final match is a
        semi-join on the natural key over the pruned scan — AQE broadcasts
        a small key set, and the write-ordered files give row-group
        skipping when it does. Misses simply don't appear (``get_by_uids``'s
        raise-on-missing is an anti-join away and stays caller-side);
        duplicates in ``keys`` are deduplicated."""
        ids = list(self.model.identifiers)
        missing = [k for k in ids if k not in keys.columns]
        if missing:
            raise DiffSyncSparkError(
                f"keys frame lacks identifier columns {missing}"
            )
        man = self._manifest(version)
        public = T.StructType.fromJson(json.loads(man["schema"]))
        stored = {f.name: f.dataType for f in public.fields}
        # try_cast, not cast: under Spark 4.1's default ANSI mode a lossy
        # probe key (2**40 into an int key) would otherwise abort the whole
        # bulk job; try_cast makes it NULL → hashes to some bucket, matches
        # nothing → a miss, as the contract promises (same reasoning as the
        # merge's key normalization)
        kdf = keys.select(
            *[F.col(k).try_cast(stored[k]).alias(k) for k in ids]
        ).dropDuplicates(ids)
        bucket_src = self.model.parent_key or ids
        splits = {
            int(b): int(s) for b, s in man.get("bucket_splits", {}).items()
        }
        b_col = F.pmod(
            F.xxhash64(*bucket_src), F.lit(man["n_buckets"])
        ).cast("int")
        if splits:
            split_map = F.create_map(
                *[x for b, s in splits.items() for x in (F.lit(b), F.lit(s))]
            )
            s_mod = F.coalesce(split_map[b_col], F.lit(1))
        else:
            # no splits recorded (nothing written yet): one slot per
            # bucket — a zero-arg create_map() has VOID key type
            # and fails analysis, so don't build one
            s_mod = F.lit(1)
        s_col = F.pmod(F.xxhash64(*ids), s_mod).cast("int")
        need: dict[int, set[int]] = {}
        for r in kdf.select(
            b_col.alias("b"), s_col.alias("s")
        ).distinct().collect():
            need.setdefault(r.b, set()).add(r.s)
        files: list[str] = []
        for b, slots in need.items():
            allf = man["files"].get(str(b), [])
            if len(slots) >= splits.get(b, 1):
                files.extend(allf)
                continue
            segs = [f"{os.sep}{SLOT}={s}{os.sep}" for s in slots]
            files.extend(p for p in allf if any(g in p for g in segs))
        full = self._full_schema(public)
        # merge-on-read: layers of the needed buckets join the probe too
        # (bucket-pruned; layers are batch-sized, so per-layer slot pruning
        # is skipped — the collected (bucket, slot) pairs are computed with
        # the BASE fan-out and layers plan their own), and the semi-join
        # runs BEFORE the fold so only probed keys pay the window
        dfiles = self._delta_files(
            man, self._delta_buckets(man, list(need))
        )
        if dfiles:
            fold_schema = self._fold_schema(full)
            base = (
                self.spark.read.schema(full).parquet(*files)
                .withColumn(META_COMMIT, F.lit(0).cast("long"))
                if files else self.spark.createDataFrame([], fold_schema)
            )
            frame = base.unionByName(
                self.spark.read.schema(fold_schema).parquet(*dfiles)
            )
            matched = frame.join(kdf, on=ids, how="left_semi")
            return (
                self._fold(matched)
                .filter(~F.coalesce(F.col(META_DELETED), F.lit(False)))
                .select(*[f.name for f in public.fields])
            )
        frame = (
            self.spark.read.schema(full).parquet(*files)
            if files else self.spark.createDataFrame([], full)
        )
        live = frame.filter(~F.coalesce(F.col(META_DELETED), F.lit(False)))
        return live.join(kdf, on=ids, how="left_semi").select(
            *[f.name for f in public.fields]
        )

    # ---------------------------------------------------------------- merge
    def merge(
        self,
        batch: DataFrame,
        checkpoint_id: str = "adhoc",
        batch_id: int | None = None,
        mode: str = "lww",
        max_commit_retries: int = 5,
        expectations: "dict[str, Any] | None" = None,
        flags: DiffFlags = DiffFlags(),
    ) -> dict[str, Any]:
        """Set-based MERGE of a change batch into the table — one atomic
        snapshot commit. The reference analog is the whole
        ``perform_sync``/``sync_model`` walk (``diffsync/helpers.py:322-458``)
        collapsed into one transactional, set-oriented apply (SURVEY §2.5 M1).

        ``batch`` columns: identifiers + ``op`` (insert/update/create/upsert/
        delete) + payload + version cols (+ ``seq``). The modes:

        - ``'lww'`` applies a change only if its ``(ts, seq)`` beats the
          stored version (CDC rule);
        - ``'force'`` lets the batch always win (apply of a diff that was
          computed against the current state, so it is authoritative);
        - ``'snapshot'`` takes the batch as the COMPLETE desired state (no
          ``op`` column needed): keys it lacks are deleted — SQL MERGE's
          ``WHEN NOT MATCHED BY SOURCE THEN DELETE``. It classifies each key
          with :func:`~diffsync_spark.operators.diff.diff`'s rule and writes
          in one query (see :meth:`_snapshot_commit`). ``flags`` applies
          here only: ``skip_unmatched_src`` drops creates,
          ``skip_unmatched_dst`` keeps stored-only keys, and ``keep_noop``
          decides whether the result's ``diff`` counts include unchanged
          keys in ``n_total``. It writes every bucket and commits only the
          changed ones, so it pays off when most buckets change
          (:meth:`Engine.sync_from` picks it by :meth:`last_change_share`);
          its slot plan comes from the stored bucket sizes, so the first
          load of an empty table belongs to ``'force'``.

        Returns the lineage record. Re-invoking with an already-committed
        ``(checkpoint_id, batch_id)`` is a no-op (exactly-once).

        On a merge-on-read table that already holds data, an LWW merge
        appends the batch's winners as a delta layer in one write query
        (see :meth:`_append_commit`); a snapshot merge is one write query
        too; every other merge runs one stats pass over the batch
        (quarantine count, touched buckets) and then the copy-on-write join
        and bucket rewrite (:meth:`_write_commit`). Inputs that fit one
        partition (10 MB by default, see :meth:`_fits_one_partition`) run
        each of these queries with no Exchange: the append and the
        snapshot merge as one Spark job, the copy-on-write merge as two
        (stats pass, write).

        ``expectations`` — declarative data contracts on ingest (the Delta
        Live Tables ``EXPECT`` analog): ``{name: predicate}`` where
        predicate is a SQL string or Column over the batch's columns. An
        UPSERT row failing any expectation is QUARANTINED with
        ``_status_reason = "expectation failed: <name>"`` — never applied,
        never dropped — and re-drivable via :meth:`requeue_quarantine`
        after repair. Deletes are exempt (no payload to validate); a NULL
        predicate result counts as a violation. The result carries
        ``n_expectation_failed``.

        **Concurrent writers** (the reference's multi-worker shared-store
        story, ``/root/reference/docs/source/core_engine/03-store.md:3``,
        ``store/redis.py:56-90``, recast as optimistic concurrency): losing a
        commit race raises :class:`CommitConflict` *inside* the attempt; this
        loop then re-reads the new current manifest and either (a) detects
        the winner already committed this very ``(checkpoint_id, batch_id)``
        (a twin replay) → idempotent skip, or (b) RECOMPUTES the merge
        against the winner's snapshot and re-commits — LWW makes the rebase
        convergent (merging into the newer state yields the same final state
        as any serial order). Data files are written under per-attempt
        unique dirs, so a losing attempt can never clobber the winner's
        files; its orphans are unreferenced by any manifest (GC'able).
        Bounded by ``max_commit_retries``, then the conflict propagates.

        Before falling back to a recompute, a lost race first tries a
        METADATA-ONLY REBASE (:meth:`_commit_with_rebase`): when the winner
        provably didn't touch this merge's buckets or schema, the already-
        written data files are re-committed on top of the winner's snapshot
        without re-running any Spark job — disjoint concurrent writers
        serialize on manifest I/O alone. The result's ``metadata_rebases``
        counts these; ``commit_retries`` counts full recomputes.
        """
        def attempt(n: int) -> dict[str, Any]:
            man = self._manifest()
            committed = man["checkpoints"].get(checkpoint_id, -1)
            if batch_id is not None and batch_id <= committed:
                return {
                    "skipped": True,
                    "reason": f"batch {batch_id} <= committed {committed}",
                    "snapshot_id": man["snapshot_id"],
                }
            _t0 = time.perf_counter()
            result = self._merge_attempt(batch, checkpoint_id, batch_id,
                                         mode, man, expectations, flags)
            _prof("merge_total", _t0)
            result["commit_retries"] = n
            return result

        return retrying(attempt, max_commit_retries)

    def _merge_attempt(
        self,
        batch: DataFrame,
        checkpoint_id: str,
        batch_id: int | None,
        mode: str,
        man: dict,
        expectations: "dict[str, Any] | None" = None,
        flags: DiffFlags = DiffFlags(),
    ) -> dict[str, Any]:
        """One optimistic merge attempt against the snapshot in ``man``.
        Raises :class:`CommitConflict` if a concurrent writer commits the
        next version first; ``merge()`` owns the retry/rebase loop."""
        _t_att0 = time.perf_counter()
        ids = list(self.model.identifiers)
        version_col = self.model.version_cols[0] if self.model.version_cols else None
        new_version = self._next_version(man)
        # the snapshot id doubles as the per-attempt directory suffix: two
        # racing writers computing the same new_version write to DISJOINT
        # dirs, so the loser's files can never clobber the winner's commit
        snapshot_id = uuid.uuid4().hex
        n_buckets = man["n_buckets"]
        bucket_src = self.model.parent_key or self.model.identifiers
        public = T.StructType.fromJson(json.loads(man["schema"]))

        # ---- key-type normalization BEFORE bucketing: xxhash64 hashes the
        # column's physical type, so a batch delivering e.g. a LongType key
        # where the table stores IntegerType would route the same logical
        # key to a DIFFERENT bucket than its stored row. Keys never widen —
        # they are try_cast to the stored type up front: a lossy value
        # (e.g. 2**40 into an int key) becomes NULL and lands in
        # quarantine below. Plain cast() would THROW under Spark 4.1's
        # default ANSI mode, turning one bad key into a poison-pill batch
        # that crashes the whole merge (and stalls a stream_replay on
        # every restart) instead of honoring the quarantine contract.
        stored_types = {f.name: f.dataType for f in public.fields}
        for k in ids:
            if k in batch.columns and batch.schema[k].dataType != stored_types.get(k):
                batch = batch.withColumn(k, F.col(k).try_cast(stored_types[k]))

        # a snapshot row is an upsert of its key's desired state: give it the
        # op the validity predicate below expects (deletes come from the
        # stored side, see _snapshot_commit)
        if mode == "snapshot":
            src_cols = list(batch.columns)
            batch = batch.withColumn("op", F.lit("upsert"))

        # ---- validity predicate: the model's merge contract. It depends
        # only on the model (ids/version col), so it is built once per table
        # handle and reused across a replay's micro-batches (see
        # _expr_cache).
        _vkey = ("valid", version_col)
        if _vkey in self._expr_cache:
            (valid,) = self._expr_cache[_vkey]
        else:
            valid = F.lit(True)
            for k in ids:
                valid = valid & F.col(k).isNotNull()
            valid = valid & F.lower(F.col("op")).isin(*UPSERT_OPS, DELETE_OP)
            if version_col:
                valid = valid & (
                    F.col(version_col).isNotNull()
                    | (F.lower(F.col("op")) == DELETE_OP)
                )
            # NULL op makes the predicate NULL, which filter() treats as
            # false on BOTH sides (neither applied nor quarantined) —
            # coalesce so a NULL-op row is firmly invalid and lands in
            # quarantine, not the void.
            valid = F.coalesce(valid, F.lit(False))
            self._expr_cache[_vkey] = (valid,)
        # ---- declarative expectations (data contracts on ingest): named
        # predicates over the batch's payload; an UPSERT row failing one is
        # quarantined with reason "expectation failed: <name>" instead of
        # applied. Deletes are exempt (they carry no payload to validate),
        # and a NULL predicate result counts as a violation — the same
        # conservative rule as the base contract.
        exp_reason = exp_fails = None
        if expectations:
            is_delete = F.lower(F.col("op")) == DELETE_OP
            for name, pred in expectations.items():
                cond = F.expr(pred) if isinstance(pred, str) else pred
                fails = ~F.coalesce(cond | is_delete, F.lit(False))
                msg = f"expectation failed: {name}"
                exp_reason = (
                    F.when(fails, msg) if exp_reason is None
                    else exp_reason.when(fails, msg)
                )
            exp_fails = valid & exp_reason.isNotNull()
            valid = valid & exp_reason.isNull()
        batch = batch.withColumns({
            "__valid": valid,
            BUCKET: F.pmod(F.xxhash64(*bucket_src), F.lit(n_buckets)).cast("int"),
        })

        if mode == "snapshot":
            return self._snapshot_commit(
                batch, src_cols, man, new_version, snapshot_id, checkpoint_id,
                batch_id, public, self._evolve_schema(public, batch.schema, man),
                flags, exp_fails, exp_reason, _t_att0,
            )

        # ---- merge-on-read: an LWW merge into a MoR table that holds data
        # reads and rewrites NOTHING — the deduped batch becomes a delta
        # layer and readers fold it in (see _append_commit). Decided from
        # the manifest alone, so this path needs no pass over the batch
        # before its one write query.
        if (man["write_mode"] == "mor" and mode == "lww"
                and (any(man["files"].values()) or man.get("deltas"))):
            if not version_col:
                raise DiffSyncSparkError("lww merge requires model.version_cols")
            return self._append_commit(
                batch, man, new_version, snapshot_id, checkpoint_id, batch_id,
                self._evolve_schema(public, batch.schema, man),
                exp_fails, exp_reason,
            )

        # ---- one stats pass: quarantine count + touched buckets (a single
        # aggregate job instead of separate count()/distinct().collect()).
        # Expectations add one aggregate to the same pass, only when given.
        # A batch that fits one partition aggregates there, with no
        # Exchange (the write below decides again, on batch + stored rows).
        aggs = [
            F.coalesce(F.sum(F.when(~F.col("__valid"), 1)), F.lit(0)).alias("n_bad"),
            F.coalesce(F.sum(F.when(F.col("__valid"), 1)), F.lit(0)).alias("n_ok"),
        ]
        if expectations:
            aggs.append(F.coalesce(
                F.sum(F.when(exp_fails, 1)), F.lit(0)
            ).alias("n_exp"))
        # no persist: the batch is scanned twice (stats agg + the MERGE write)
        # but both are cheap columnar reads — caching would pay the in-memory
        # columnar RLE encode/decode, which profiling showed dominating CPU
        # for wide text payloads (and evicting under pressure → recompute)
        _prof("pre_stats", _t_att0)
        _t0 = time.perf_counter()
        stats_in = (batch.coalesce(1) if self._fits_one_partition(batch)
                    else batch)
        stats = stats_in.groupBy(BUCKET).agg(*aggs).collect()
        _prof("stats_pass", _t0)
        _t_mid0 = time.perf_counter()
        n_quarantined = sum(r.n_bad for r in stats)
        n_expectation_failed = (
            sum(r.n_exp for r in stats) if expectations else 0
        )
        touched = sorted(r[BUCKET] for r in stats if r.n_ok > 0)
        batch_rows = {r[BUCKET]: r.n_ok for r in stats if r.n_ok > 0}
        if n_quarantined:
            self._write_quarantine(batch, exp_reason, new_version, snapshot_id)
        batch = batch.filter(F.col("__valid")).drop("__valid")

        evolved = self._evolve_schema(public, batch.schema, man)
        payload_fields = [f for f in evolved.fields if f.name not in ids]
        payload_cols = [f.name for f in payload_fields]

        # ---- current rows of touched buckets only (manifest file pruning),
        # read through the widened schema (old files → nulls for new cols).
        # Fold-aware: on a MoR table a FORCE merge (authoritative diff apply)
        # folds base+layers here, rewrites the touched buckets, and clears
        # their layers at commit (_write_commit).
        empty_target = not (
            any(int(b) in touched for b in man["files"])
            or self._delta_buckets(man, touched)
        )
        _t0 = time.perf_counter()
        cur = self._stored_frame(man, touched, evolved)
        _prof("stored_frame_build", _t0)
        # inputs that fit one partition run the LWW window, the join and
        # the fan-out there, with no Exchange (see _fits_one_partition)
        one = self._fits_one_partition(batch, *(() if empty_target else (cur,)))
        if one:
            batch, cur = batch.coalesce(1), cur.coalesce(1)

        # ---- LWW dedup: MERGE requires unique source keys. A versionless
        # model (e.g. a parent bookkeeping table) has no writer order — any
        # one row per key is the row (diff-built batches are unique already).
        if self.model.version_cols or "seq" in batch.columns:
            batch = lww_dedup(batch, self.model)
        else:
            batch = batch.dropDuplicates(list(ids))

        # ---- the MERGE join: batch (unique keys) vs current rows
        # batch payload columns are try_cast to the EVOLVED types: a no-op
        # when equal, an upcast for narrower batches, NULLs for
        # incompatibles/lossy values — the written files then match the
        # manifest schema exactly. try_cast (not cast) because ANSI mode
        # (Spark 4.1 default) makes a plain cast THROW on an unparsable
        # payload value, crashing the merge instead of nulling the value.
        # The expression lists are cached per (evolved schema, batch
        # columns, mode): Columns reference names only, so a replay's
        # micro-batches reuse them verbatim instead of paying the py4j
        # build per merge (~0.15-0.3s measured — see _expr_cache).
        _skey = ("merge_sel", evolved.json(), tuple(batch.columns), mode)
        if _skey in self._expr_cache:
            b_sel, cond, out_cols, boot_cols = self._expr_cache[_skey]
        else:
            b_sel = [F.col(k) for k in ids] + [
                (F.col(f.name).try_cast(f.dataType) if f.name in batch.columns
                 else F.lit(None).cast(f.dataType)).alias(f.name)
                for f in payload_fields
            ]
            b_sel.append(
                (F.col("seq") if "seq" in batch.columns else F.lit(-1))
                .cast("long").alias(META_SEQ)
            )
            b_sel.append(
                (F.lower(F.col("op")) == DELETE_OP).alias("__is_delete"))
            cond = None
            for k in ids:
                e = F.col(f"b.{k}") == F.col(f"c.{k}")
                cond = e if cond is None else cond & e
            b_here = F.col("b.__b_present").isNotNull()
            c_here = F.col("c.__c_present").isNotNull()
            batch_wins = None
            if mode == "force":
                batch_wins = b_here
            elif version_col:
                bv = F.col(f"b.{version_col}")
                cv = F.col(f"c.{version_col}")
                newer = (bv > cv) | (
                    bv.eqNullSafe(cv)
                    & (F.col(f"b.{META_SEQ}") > F.col(f"c.{META_SEQ}"))
                )
                # deletes carry no payload ts in some CDC feeds → treat
                # null-ts delete as newest (explicit admin delete)
                newer = F.when(bv.isNull(), F.lit(True)).otherwise(newer)
                batch_wins = b_here & (~c_here | newer)

            # out_cols stays None for an lww merge on a versionless model:
            # the bootstrap fast path below never needs it, and the join
            # path raises (same contract as before the cache)
            out_cols = None
            if batch_wins is not None:
                def pick(col):
                    return F.when(batch_wins, F.col(f"b.{col}")).otherwise(
                        F.col(f"c.{col}"))

                out_cols = [
                    F.coalesce(F.col(f"b.{k}"), F.col(f"c.{k}")).alias(k)
                    for k in ids
                ]
                for p in payload_cols:
                    out_cols.append(pick(p).alias(p))
                out_cols.append(pick(META_SEQ).alias(META_SEQ))
                out_cols.append(
                    F.when(batch_wins, F.col("b.__is_delete"))
                    .otherwise(F.coalesce(F.col(f"c.{META_DELETED}"),
                                          F.lit(False)))
                    .alias(META_DELETED)
                )
                # lineage op classification (M8 per-record status)
                c_live = c_here & ~F.coalesce(
                    F.col(f"c.{META_DELETED}"), F.lit(False))
                op_class = (
                    F.when(batch_wins & ~F.col("b.__is_delete") & ~c_live,
                           F.lit("create"))
                    .when(batch_wins & ~F.col("b.__is_delete") & c_live,
                          F.lit("update"))
                    .when(batch_wins & F.col("b.__is_delete") & c_live,
                          F.lit("delete"))
                    .otherwise(F.lit("noop"))
                )
                out_cols.append(op_class.alias("__op_class"))
            # bootstrap fast-path projection (shares the cache entry)
            boot_cols = [
                *[F.col(k) for k in ids],
                *[F.col(p) for p in payload_cols],
                F.col(META_SEQ),
                F.col("__is_delete").alias(META_DELETED),
                F.when(~F.col("__is_delete"), F.lit("create"))
                .otherwise(F.lit("noop"))
                .alias("__op_class"),
            ]
            self._expr_cache[_skey] = (b_sel, cond, out_cols, boot_cols)
        b = batch.select(*b_sel).withColumn("__b_present", F.lit(True)).alias("b")

        if empty_target:
            # bootstrap fast path: nothing to join against — the deduped
            # batch IS the table (skips the join and the cur-side shuffle)
            merged = b.select(*boot_cols).withColumn(
                BUCKET, F.pmod(F.xxhash64(*bucket_src), F.lit(n_buckets)).cast("int")
            )
            res = self._write_commit(
                merged, man, new_version, touched, n_quarantined, checkpoint_id,
                batch_id, evolved, batch_rows, snapshot_id=snapshot_id,
                one=one,
            )
            res["n_expectation_failed"] = n_expectation_failed
            return res
        c = cur.withColumn("__c_present", F.lit(True)).alias("c")

        if out_cols is None:
            raise DiffSyncSparkError("lww merge requires model.version_cols")
        # plain equality (quarantine guarantees non-null keys): the join's
        # hash partitioning then matches the LWW window's, so Catalyst reuses
        # that exchange instead of shuffling the batch a second time
        joined = b.join(c, cond, "full_outer")
        merged = joined.select(*out_cols).withColumn(
            BUCKET, F.pmod(F.xxhash64(*bucket_src), F.lit(n_buckets)).cast("int")
        )
        _prof("mid_to_write_commit", _t_mid0)
        res = self._write_commit(
            merged, man, new_version, touched, n_quarantined, checkpoint_id,
            batch_id, evolved, batch_rows, snapshot_id=snapshot_id,
            one=one,
        )
        res["n_expectation_failed"] = n_expectation_failed
        return res

    def _evolve_schema(self, public: T.StructType, batch_schema: T.StructType,
                       man: dict) -> T.StructType:
        """Schema evolution: widen the stored schema with new batch columns
        AND promote existing payload columns whose batch type is a safe
        widening (int family up to long, float→double — exactly the
        upcasts the parquet reader performs, verified on Spark 4.1, so old
        files read cleanly through the widened schema). Identifier types
        never change (keys are cast up front). A batch column NARROWER than
        stored is cast up on write; an incompatible type keeps the stored
        type and the cast yields NULLs (visible in the data, never a
        corrupted file). A pure function of the two schemas — no data."""
        ids = self.model.identifiers
        known = {f.name for f in public.fields}
        # the same engine-owned names DDL (add_column/rename_column) blocks:
        # a batch column named __commit/__slot must NOT be evolution-added as
        # a user column or it collides with the MoR fold's internal columns
        reserved = set(_RESERVED_COL_NAMES)
        batch_types = {f.name: f.dataType for f in batch_schema.fields}
        _INTS = [T.ByteType, T.ShortType, T.IntegerType, T.LongType]
        _FLOATS = [T.FloatType, T.DoubleType]

        def _wider(stored: T.DataType, incoming: T.DataType | None) -> T.DataType:
            if incoming is None:
                return stored
            for fam in (_INTS, _FLOATS):
                if type(stored) in fam and type(incoming) in fam:
                    return (incoming
                            if fam.index(type(incoming)) > fam.index(type(stored))
                            else stored)
            return stored

        evolved_existing = [
            f if f.name in ids else T.StructField(
                f.name, _wider(f.dataType, batch_types.get(f.name)), True,
                f.metadata,  # keep the stable field id through widening
            )
            for f in public.fields
        ]
        new_fields = [
            f for f in batch_schema.fields
            if f.name not in known and f.name not in reserved
        ]
        if new_fields:
            # evolution-added columns get FRESH ids past the monotone
            # counter — a column re-added after drop_column never reuses
            # the dropped id, so old files' values cannot resurrect
            next_id = _next_field_id(man)
            if next_id + len(new_fields) - 1 > _MAX_USER_FIELD_ID:
                raise DiffSyncSparkError("field-id space exhausted")
            new_fields = [
                T.StructField(f.name, f.dataType, True,
                              {_FIELD_ID_KEY: next_id + i})
                for i, f in enumerate(new_fields)
            ]
        return T.StructType(evolved_existing + list(new_fields))

    def _write_quarantine(self, batch: DataFrame, exp_reason, new_version: int,
                          snapshot_id: str) -> None:
        """Write the batch's invalid rows (``~__valid``) to this attempt's
        quarantine dir. Per-record status columns — the reference's
        DiffSyncStatus + message logging (enum.py:90-96,
        helpers.py:442-446) as data: each rejected row says WHY it failed
        the merge contract."""
        ids = self.model.identifiers
        version_col = self.model.version_cols[0] if self.model.version_cols else None
        key_null = F.lit(False)
        for k in ids:
            key_null = key_null | F.col(k).isNull()
        op_bad = ~F.coalesce(
            F.lower(F.col("op")).isin(*UPSERT_OPS, DELETE_OP), F.lit(False)
        )
        reason = F.when(key_null, F.lit("null identifier")).when(
            op_bad, F.lit("unknown or null op")
        )
        if version_col:
            reason = reason.when(
                F.col(version_col).isNull()
                & (F.lower(F.col("op")) != DELETE_OP),
                F.lit(f"null {version_col} on upsert"),
            )
        if exp_reason is not None:
            reason = F.coalesce(reason, exp_reason)
        batch.filter(~F.col("__valid")).drop(
            "__valid", BUCKET
        ).withColumn(
            "_status", F.lit("failure")
        ).withColumn("_status_reason", reason).write.mode(
            "overwrite"
        ).parquet(self._quarantine_dir(new_version, snapshot_id))

    def _quarantine_dir(self, new_version: int, snapshot_id: str) -> str:
        return os.path.join(
            self.path, "quarantine", f"v{new_version}-{snapshot_id[:12]}"
        )

    def _plan_splits(self, est: dict[int, int]) -> dict[int, int]:
        """Writer-slot plan: ``ceil(estimated_rows / target)`` slots per
        bucket, capped at 64 — hot buckets fan out over several write tasks
        (bounded file count), cold buckets stay single-file."""
        total_est = sum(est.values()) or 1
        parallelism = self.spark.sparkContext.defaultParallelism
        target = max(total_est // max(parallelism * 2, 1), 25_000)
        return {b: max(1, min(-(-n // target), 64)) for b, n in est.items()}

    def _fanout_frame(
        self, df: DataFrame, touched: list[int], splits: dict[int, int],
        one: bool = False,
    ) -> DataFrame:
        """Salted write partitioning (the north rule's "salted
        key-partitioned MERGE"): rows are hashed to slot
        ``xxhash64(natural key) % splits[bucket]`` and repartitioned so each
        (bucket, slot) pair is one write task / one file. The slot is also a
        physical partition dir (``__slot=S``), so ``lookup`` can later prune
        a hot bucket's read to the single file its key hashes into —
        Iceberg's bucket-transform file pruning, one level deeper.

        With ``one`` (the write's inputs fit one partition, see
        :meth:`_fits_one_partition`) the frame is coalesced to one
        partition instead: no Exchange, and the one write task still
        writes one file per (bucket, slot), since the slot comes from the
        same plan.

        Write-ordered files: every branch finishes with
        ``sortWithinPartitions(bucket, slot, *identifiers)`` — Iceberg's
        ``WRITE ORDERED BY``. Each written file is clustered on the natural
        key, so parquet row-group (and page-index) min/max stats on the
        identifier columns are tight and non-overlapping, and ``lookup``'s
        already-pushed-down key equality skips every row group but one
        inside a large slot file. Near-free: Spark's dynamic-partition
        writer inserts a per-task sort on the partition columns anyway;
        this widens that sort's key instead of adding a second sort."""
        order = [BUCKET, SLOT, *self.model.identifiers]
        if not touched:
            df, parts = df.withColumn(SLOT, F.lit(0)), (1, BUCKET)
        else:
            # literal maps as ONE parsed expr, not create_map over
            # 2x|touched| F.lit Columns: each Column op is a py4j round
            # trip — at 64 buckets the old form was ~0.14s of driver wall
            # per merge vs ~0.016s (measured, same class of fix as
            # _observe_buckets)
            split_map = F.expr(
                "map(" + ",".join(f"{b},{splits[b]}" for b in touched) + ")"
            )
            df = df.withColumn(SLOT, F.pmod(
                F.xxhash64(*self.model.identifiers), split_map[F.col(BUCKET)]
            ).cast("int"))
            parts = (max(len(touched), 1), BUCKET)
            if max(splits.values()) > 1 and not one:
                offsets, acc = {}, 0
                for b in touched:
                    offsets[b] = acc
                    acc += splits[b]
                off_map = F.expr("map(" + ",".join(
                    f"{b},{offsets[b]}" for b in touched) + ")")
                parts = (max(acc, 1),
                         (off_map[F.col(BUCKET)] + F.col(SLOT)).cast("int"))
        df = df.coalesce(1) if one else df.repartition(*parts)
        return df.sortWithinPartitions(*order)

    _ZORDER_BITS = 8  # 256 quantile bins per column

    def _zorder_proxy(self, name: str, dt: T.DataType):
        """Order-preserving numeric proxy for a Z-order column (the same
        unit normalization ``_stat_scalar`` applies to the recorded file
        stats, so binning and pruning agree)."""
        import datetime as _dt
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            return F.unix_micros(F.col(name).cast("timestamp")).cast("double")
        if isinstance(dt, T.DateType):
            return F.datediff(F.col(name), F.lit(_dt.date(1970, 1, 1))).cast(
                "double")
        return F.col(name).cast("double")

    def _zorder_fanout(
        self,
        df: DataFrame,
        targets: list[int],
        splits: dict[int, int],
        zcols: list[str],
        public: T.StructType,
    ) -> DataFrame:
        """Morton-curve layout for a compaction rewrite: quantile-bin each
        Z column to ``_ZORDER_BITS`` bits (one ``approx_percentile``
        aggregate over the rewritten buckets), bit-interleave the bins into
        one LONG, and RANGE-partition on (bucket, z) so each write task —
        hence each file — covers a compact hyper-rectangle. Costs one extra
        pass over the rewritten data (the range partitioner samples its
        input) — a maintenance-path price, never paid by merges.

        NULLs bin to 0 (cluster first); an all-NULL or constant column
        degrades to bin 0 everywhere and simply stops contributing bits —
        correctness never depends on the binning, only file locality does.
        """
        types = {f.name: f.dataType for f in public.fields}
        orderable = self._STATS_TYPES
        for c in zcols:
            if c not in types:
                raise DiffSyncSparkError(f"unknown zorder column {c!r}")
            if not isinstance(types[c], orderable):
                raise DiffSyncSparkError(
                    f"zorder column {c!r} has type {types[c].simpleString()};"
                    " only numeric/date/timestamp columns are Z-orderable"
                )
        if len(zcols) * self._ZORDER_BITS > 62:
            raise DiffSyncSparkError(
                f"too many zorder columns ({len(zcols)}); at most "
                f"{62 // self._ZORDER_BITS} supported"
            )
        nbins = 1 << self._ZORDER_BITS
        qs = [i / nbins for i in range(1, nbins)]
        proxies = {c: self._zorder_proxy(c, types[c]) for c in zcols}
        brow = df.agg(*[
            F.percentile_approx(proxies[c], F.lit(qs), F.lit(10_000)).alias(c)
            for c in zcols
        ]).first()
        n = len(zcols)
        z = F.lit(0).cast("long")
        for j, c in enumerate(zcols):
            bounds = [v for v in (brow[c] or []) if v is not None]
            if not bounds:
                continue  # all-NULL column: contributes nothing
            barr = F.array(*[F.lit(float(v)) for v in bounds])
            bin_j = F.size(
                F.filter(barr, lambda x: proxies[c] >= x)  # noqa: B023
            ).cast("long")
            for i in range(self._ZORDER_BITS):
                z = z + F.shiftleft(
                    F.shiftright(bin_j, i).bitwiseAND(F.lit(1)), i * n + j
                )
        n_parts = max(sum(splits.get(b, 1) for b in targets), 1)
        order = [BUCKET, "__z", *self.model.identifiers]
        return (
            df.withColumn("__z", z)
            .withColumn(SLOT, F.lit(0).cast("int"))
            .repartitionByRange(n_parts, F.col(BUCKET), F.col("__z"))
            .sortWithinPartitions(*order)
            .drop("__z")
        )

    def _observe_buckets(
        self,
        out: DataFrame,
        name: str,
        buckets: list[int],
        conds: "dict[str, str]",
    ):
        """Attach per-bucket counts to a write job: for each ``conds`` key
        (a SQL predicate template with ``{b}`` as the bucket id), one
        ``array(count_if(...), ...)`` metric over ``buckets``. Each metric
        is ONE parsed ``expr()``, not ``len(buckets)`` Columns: every python
        Column op is a py4j round trip, and at 64 buckets x 5 conditions
        that form cost 2.0-2.8s of pure driver wall per merge (measured).
        The buckets are chunked over several observations of the same job
        of at most :data:`_OBSERVE_MAX_EXPRS` metric expressions each, so
        any bucket count keeps its counts on the write. Returns ``(out,
        counts)``; after the write, ``counts()`` gives ``{key: [count per
        bucket]}`` aligned with ``buckets``.

        The parsed Columns depend only on (buckets, conds), so they are
        cached on the handle (a replay's micro-batches touch the same
        buckets; the Observations are per write). Unlike the schema-keyed
        entries, the bucket-tuple key space is unbounded on a long-lived
        handle whose batches touch varying subsets (each cached Column pins
        a JVM tree via py4j), so at the cap only the observe entries are
        evicted and a miss rebuilds cheaply."""
        from pyspark.sql import Observation

        step = max(1, _OBSERVE_MAX_EXPRS // len(conds))
        chunks = []
        for i in range(0, len(buckets), step):
            part = tuple(buckets[i:i + step])
            key = ("observe", part, tuple(sorted(conds.items())))
            if key not in self._expr_cache:
                if len(self._expr_cache) > 256:
                    for old in [k for k in self._expr_cache
                                if k[0] == "observe"]:
                        del self._expr_cache[old]
                self._expr_cache[key] = ([
                    F.expr("array(" + ",".join(
                        f"count_if({cond.format(b=b)})" for b in part
                    ) + ")").alias(k)
                    for k, cond in conds.items()
                ],)
            obs = Observation(f"{name}_{i // step}")
            out = out.observe(obs, *self._expr_cache[key][0])
            chunks.append(obs)

        def counts() -> dict[str, list[int]]:
            got: dict[str, list[int]] = {k: [] for k in conds}
            for obs in chunks:
                m = obs.get
                for k in conds:
                    got[k].extend(m[k])
            return got

        return out, counts

    def _list_bucket_files(self, data_dir: str, bk: int) -> list[str]:
        """Parquet files of one bucket in a freshly-written data dir
        (``_bucket=K/__slot=S/part-*``)."""
        bdir = os.path.join(data_dir, f"{BUCKET}={bk}")
        out: list[str] = []
        for entry in self.io.list_dirs(bdir):
            if entry.startswith(f"{SLOT}="):
                sdir = os.path.join(bdir, entry)
                out.extend(
                    os.path.join(sdir, fn)
                    for fn in self.io.list_files(sdir)
                    if fn.endswith(".parquet")
                )
        return out

    def _write_commit(
        self,
        merged: DataFrame,
        man: dict,
        new_version: int,
        touched: list[int],
        n_quarantined: int,
        checkpoint_id: str,
        batch_id: int | None,
        evolved: T.StructType,
        batch_rows: dict[int, int] | None = None,
        snapshot_id: str | None = None,
        one: bool = False,
    ) -> dict[str, Any]:
        """Write and commit a copy-on-write merge in one pass: fan
        ``merged`` (the classified join output, ``__op_class`` included) out
        over the ``touched`` buckets (:meth:`_fanout_frame`; on one
        partition when ``one``), write and
        account it (:meth:`_write_buckets`), then commit those buckets' new
        files (:meth:`_commit_rewrite`). No persist: caching the wide merged
        frame paid the in-memory columnar RLE encode/decode (dominant CPU in
        profiles) and recomputed the join on eviction.

        Slot-count estimates = this batch's per-bucket row counts + the
        previous snapshot's stored per-bucket sizes (``bucket_rows``); the
        chosen counts are committed as ``bucket_splits`` so readers can
        recompute a key's slot and prune a lookup to one file."""
        snapshot_id = snapshot_id or uuid.uuid4().hex
        cur_rows = {int(b): n for b, n in man.get("bucket_rows", {}).items()}
        splits = self._plan_splits({
            b: (batch_rows or {}).get(b, 0) + cur_rows.get(b, 0) for b in touched
        })
        written = self._write_buckets(
            self._fanout_frame(merged, touched, splits, one), man,
            self._attempt_dir(new_version, snapshot_id), touched, evolved,
            f"merge_v{new_version}",
        )
        return self._commit_rewrite(
            man, new_version, snapshot_id, touched, splits, written, evolved,
            n_quarantined, checkpoint_id, batch_id,
            sum((batch_rows or {}).values()),
        )

    def _attempt_dir(self, new_version: int, snapshot_id: str) -> str:
        """Per-attempt unique data dir: a concurrent writer racing on the
        same ``new_version`` writes elsewhere; only the manifest commit
        decides."""
        return os.path.join(
            self.path, "data", f"v{new_version}-{snapshot_id[:12]}"
        )

    def _write_buckets(
        self,
        out: DataFrame,
        man: dict,
        data_dir: str,
        buckets: list[int],
        evolved: T.StructType,
        name: str,
        stat_cols: list[str] | None = None,
    ) -> _Written:
        """The one write-and-account step of every writer: write ``out``,
        a frame the caller already fanned out over ``buckets``
        (:meth:`_fanout_frame`, :meth:`_zorder_fanout`, rebucket's uniform
        fan-out or the merge-on-read append's LWW window), under
        ``data_dir`` and account for it.

        The write job observes per bucket only what a footer cannot give
        (:meth:`_observe_buckets`): live (non-tombstone) rows and, when the
        frame carries a merge's ``__op_class``, the create/update/delete
        counts. ``__op_class`` itself is dropped before the write. An empty
        ``buckets`` list observes nothing (the append: a delta layer's live
        rows are unknown by design), so ``live`` comes back empty. Files,
        per-bucket row counts and per-file ``[min, max]`` of ``stat_cols``
        (default :meth:`_stat_cols`) then come from one footer pass
        (:meth:`_layer_footers`)."""
        conds = {
            "live": f"`{BUCKET}` = {{b}} AND NOT coalesce(`{META_DELETED}`, false)"
        }
        has_ops = "__op_class" in out.columns
        if has_ops:
            conds.update(
                (oc, f"`{BUCKET}` = {{b}} AND `__op_class` = '{oc}'")
                for oc in _APPLIED
            )
        _t0 = time.perf_counter()
        out, counts = self._observe_buckets(out, name, buckets, conds)
        if has_ops:
            out = out.drop("__op_class")
        out = self._tag_field_ids(out, evolved)
        _prof("observe_build", _t0)
        _t0 = time.perf_counter()
        self._write_files(out, man, data_dir)
        _prof("write_job", _t0)
        _t0 = time.perf_counter()
        files, rows, stats = self._layer_footers(
            data_dir, self._stat_cols(evolved) if stat_cols is None else stat_cols)
        m = counts()
        _prof("footer_pass", _t0)
        return _Written(
            files, rows, stats, dict(zip(buckets, m["live"])),
            {b: {oc: m[oc][i] for oc in _APPLIED}
             for i, b in enumerate(buckets)} if has_ops else None,
        )

    def _commit_rewrite(
        self,
        man: dict,
        new_version: int,
        snapshot_id: str,
        touched: list[int],
        splits: dict[int, int],
        written: _Written,
        evolved: T.StructType,
        n_quarantined: int = 0,
        checkpoint_id: str | None = None,
        batch_id: int | None = None,
        n_input: int = 0,
    ) -> dict[str, Any]:
        """Commit ``written``'s files as the new contents of the ``touched``
        buckets (copy-on-write per bucket; a touched bucket with no files
        ends up empty), through :meth:`_commit_with_rebase`. The one
        manifest build of every rewrite that keeps the bucket numbering:
        merge, snapshot sync and compact.

        Lineage holds one row per touched bucket when ``written`` carries
        op counts (a merge; noop is the bucket's footer row count minus the
        applied rows), none for a compaction. ``bucket_live_rows`` follows
        the all-known-or-nothing rule: it is published only when no bucket
        keeps a merge-on-read layer and every carried bucket with files has
        a known count, else ``count_rows()`` would undercount."""
        touched_set = set(touched)
        new_files = {b: fl for b, fl in written.files.items()
                     if int(b) in touched_set}
        new_stats = {p: written.stats[p] for fl in new_files.values()
                     for p in fl if p in written.stats}
        row = functools.partial(_lineage_row, checkpoint_id, batch_id,
                                snapshot_id)
        lineage_rows = []
        if written.ops is not None:
            for bk in touched:
                ops = written.ops[bk]
                rows = written.rows.get(bk)
                lineage_rows.append(row(
                    bk, **{f"n_{oc}": n for oc, n in ops.items()},
                    # unknown when a footer of the bucket was unreadable
                    n_noop=None if rows is None else rows - sum(ops.values()),
                ))
        if n_quarantined:
            lineage_rows.append(row(-1, n_quarantined=n_quarantined))
        # the quarantine dir was written under the ORIGINAL attempt version;
        # its recorded path must not be re-derived from a rebased version
        quarantine_dir = (
            self._quarantine_dir(new_version, snapshot_id)
            if n_quarantined else None
        )

        # everything below is a pure function of the base snapshot, so the
        # build runs as a closure _commit_with_rebase can re-invoke against
        # a WINNER's snapshot after a lost race (metadata-only rebase — the
        # data files above are written once). Untouched buckets keep their
        # old references and counts (copy-on-write).
        def build(base: dict, version: int) -> dict:
            def carried(key: str) -> dict:
                return {b: v for b, v in (base.get(key) or {}).items()
                        if int(b) not in touched_set}

            files = {**carried("files"), **new_files}
            bucket_rows = carried("bucket_rows")
            bucket_rows.update((str(b), n) for b, n in written.rows.items()
                               if str(b) in new_files)
            # slot counts the files were actually written with — lookup's
            # file pruning recomputes a key's slot from these (copy-on-write:
            # a bucket's file list and its split count always commit together)
            bucket_splits = carried("bucket_splits")
            bucket_splits.update((b, splits.get(int(b), 1)) for b in new_files)
            # merge-on-read layers: a rewrite of a bucket (force merge,
            # bootstrap, compaction) subsumes its delta layers — clear the
            # touched buckets' entries, carry the rest, drop emptied layers
            deltas = []
            for layer in base.get("deltas") or []:
                kept = {b: fl for b, fl in layer["files"].items()
                        if int(b) not in touched_set}
                if kept:
                    deltas.append({
                        "commit": layer["commit"],
                        "files": kept,
                        "splits": {b: s
                                   for b, s in layer.get("splits", {}).items()
                                   if b in kept},
                        # ref provenance: _dehydrate reuses the layer's bm
                        # ref (plus a drop list) instead of re-serializing it
                        **({"_src": layer["_src"]} if "_src" in layer else {}),
                    })
            parent_live = base.get("bucket_live_rows") or {}
            live_rows = None
            if not deltas and set(files) - set(new_files) <= set(parent_live):
                live_rows = {
                    b: written.live[int(b)] if b in new_files else parent_live[b]
                    for b in files
                }
            return next_manifest(
                base, version, snapshot_id, evolved, checkpoint_id, batch_id,
                lineage_rows, quarantine_dir, new_stats, files=files,
                deltas=deltas, bucket_rows=bucket_rows,
                bucket_splits=bucket_splits, bucket_live_rows=live_rows,
            )

        _t0 = time.perf_counter()
        manifest, n_rebases = self._commit_with_rebase(
            build, man, new_version, touched, checkpoint_id, batch_id
        )
        _prof("commit", _t0)
        totals = {
            o: sum(r[f"n_{o}"] or 0 for r in lineage_rows)
            for o in ("create", "update", "delete", "noop", "quarantined")
        }
        return {
            "skipped": False,
            "snapshot_id": snapshot_id,
            "version": manifest["version"],
            "touched_buckets": touched,
            "metadata_rebases": n_rebases,
            "n_files": sum(map(len, manifest["files"].values())),
            # valid batch rows that entered the MERGE (post-quarantine,
            # pre-LWW-dedup) — the denominator for pre-filter reduction
            "n_input": n_input,
            **{f"n_{k}": v for k, v in totals.items()},
        }

    def _snapshot_commit(
        self,
        batch: DataFrame,
        src_cols: list[str],
        man: dict,
        new_version: int,
        snapshot_id: str,
        checkpoint_id: str,
        batch_id: int | None,
        public: T.StructType,
        evolved: T.StructType,
        flags: DiffFlags,
        exp_fails,
        exp_reason,
        t_start: float,
    ) -> dict[str, Any]:
        """Make the table equal ``batch``, a complete source snapshot, in ONE
        write query: the LWW-deduped batch full-outer joined on the natural
        key against every stored row (raw: tombstones and ``_seq``
        included; folded on merge-on-read), classified with the keyed
        diff's rule and written bucket by bucket. No stats pass and no
        separate diff. When the batch and the stored rows fit one partition
        (:meth:`_fits_one_partition`) both are coalesced to it: no
        Exchange, one Spark job. Above that the join's batch side reuses
        the LWW window's Exchange, so the plan has three (window, stored
        side, write fan-out).

        Classification (:func:`~diffsync_spark.operators.diff.diff`): a
        tombstone counts as absent; a key on both sides is an update when a
        shared attribute differs (``eqNullSafe``), else unchanged. Output
        per key:

        - create/update: the batch row (columns it lacks NULL), live, with
          ``_seq`` from the batch's ``seq`` column (-1 without one);
        - delete: the stored row as a tombstone (columns the batch lacks
          NULL), ``_seq`` -1 (NULL when the batch has a ``seq`` column);
        - unchanged, or a tombstone with no batch row: the stored row as is.

        The validity predicate only matters on rows that would be applied:
        an invalid create/update is quarantined (today's reasons) and its
        stored row kept. Duplicate keys resolve by LWW with valid rows
        first. Null-key batch rows never reach the dedup (which would
        collapse them); they are counted by a second observation on the
        same query. The quarantine rows are written by a follow-up job
        only when any were counted.

        The write covers every bucket, so per-bucket op counts come from
        the write's observation and row counts from its footers
        (:meth:`_write_buckets`). Only buckets with a create, update or
        delete are committed; the others' new files are deleted before the
        commit and their old references kept. The
        result's ``diff`` holds the counts :func:`diff_summary` would give
        (quarantined rows included, tombstone-only keys excluded)."""
        from pyspark.sql import Observation

        ids = list(self.model.identifiers)
        n_buckets = man["n_buckets"]
        bucket_src = self.model.parent_key or self.model.identifiers
        skip_src, skip_dst = flags.skip_unmatched_src, flags.skip_unmatched_dst
        payload = [c for c in src_cols
                   if c not in ids and c not in _RESERVED_COL_NAMES]
        # every expression below depends only on the schemas and flags, so
        # successive syncs of one source shape reuse them (see _expr_cache)
        _skey = ("snapshot", evolved.json(), tuple(public.fieldNames()),
                 tuple(src_cols), n_buckets, skip_src, skip_dst,
                 exp_fails is not None)
        if _skey not in self._expr_cache:
            key_ok = F.lit(True)
            for k in ids:
                key_ok = key_ok & F.col(k).isNotNull()
            has_seq = "seq" in src_cols
            s_sel = [*ids, *payload, "__valid",
                     *(["seq"] if has_seq else []),
                     *(["__exp_fail"] if exp_fails is not None else []),
                     F.lit(True).alias("__s")]
            cond = None
            for k in ids:
                e = F.col(f"s.{k}") == F.col(f"c.{k}")
                cond = e if cond is None else cond & e
            s_here = F.col("s.__s").isNotNull()
            c_here = F.col("c.__c").isNotNull()
            c_live = c_here & ~F.coalesce(F.col(f"c.{META_DELETED}"),
                                          F.lit(False))
            changed = F.lit(False)
            for a in self.model.shared_attrs(src_cols, public.fieldNames()):
                changed = changed | ~F.col(f"s.{a}").eqNullSafe(
                    F.col(f"c.{a}"))
            d_create = F.lit(False) if skip_src else s_here & ~c_live
            d_update = s_here & c_live & changed
            d_delete = F.lit(False) if skip_dst else ~s_here & c_live
            upsert = d_create | d_update
            valid = F.coalesce(F.col("s.__valid"), F.lit(False))
            apply, bad = upsert & valid, upsert & ~valid
            rewrite = apply | d_delete
            metrics = [
                F.count_if(bad).alias("n_bad"),
                F.count_if(d_create).alias("n_create"),
                F.count_if(d_update).alias("n_update"),
                F.count_if(d_delete).alias("n_delete"),
                F.count_if(s_here & c_live & ~changed).alias("n_noop"),
            ]
            if exp_fails is not None:
                metrics.append(F.count_if(
                    upsert & F.coalesce(F.col("s.__exp_fail"), F.lit(False))
                ).alias("n_exp"))
            out_cols = [F.coalesce(F.col(f"s.{k}"), F.col(f"c.{k}")).alias(k)
                        for k in ids]
            for f in evolved.fields:
                if f.name in ids:
                    continue
                new = (F.col(f"s.{f.name}").try_cast(f.dataType)
                       if f.name in payload else F.lit(None).cast(f.dataType))
                when = apply if f.name in payload else rewrite
                out_cols.append(F.when(when, new)
                                .otherwise(F.col(f"c.{f.name}")).alias(f.name))
            out_cols += [
                # the force merge of the diff: an applied row carries the
                # source's seq, a delete the (absent) seq of its before-image
                F.when(apply, F.col("s.seq").cast("long") if has_seq
                       else F.lit(-1).cast("long"))
                .when(d_delete, F.lit(None).cast("long") if has_seq
                      else F.lit(-1).cast("long"))
                .otherwise(F.col(f"c.{META_SEQ}")).alias(META_SEQ),
                # no otherwise(): nullable like the force merge's column, so
                # the written parquet schema is the same
                F.when(apply, F.lit(False)).when(d_delete, F.lit(True))
                .when(c_here, F.coalesce(F.col(f"c.{META_DELETED}"),
                                         F.lit(False)))
                .alias(META_DELETED),
                F.when(apply & ~c_live, F.lit("create"))
                .when(apply, F.lit("update"))
                .when(d_delete, F.lit("delete"))
                .otherwise(F.lit("noop")).alias("__op_class"),
                F.pmod(F.xxhash64(*[
                    F.coalesce(F.col(f"s.{k}"), F.col(f"c.{k}"))
                    for k in bucket_src
                ]), F.lit(n_buckets)).cast("int").alias(BUCKET),
            ]
            carried = [*payload, *(["seq"] if has_seq else [])]
            q_cols = [*ids, "op", *carried, "__valid"]
            q_sel = [
                *[F.col(f"s.{c}").alias(c) for c in ids],
                F.when(c_live, F.lit("update")).otherwise(F.lit("create"))
                .alias("op"),
                *[F.col(f"s.{c}").alias(c) for c in carried],
                F.lit(False).alias("__valid"),
            ]
            self._expr_cache[_skey] = (key_ok, s_sel, cond, metrics,
                                       apply | c_here, out_cols, bad, q_sel,
                                       q_cols)
        (key_ok, s_sel, cond, metrics, keep, out_cols, bad, q_sel,
         q_cols) = self._expr_cache[_skey]

        src = batch
        if exp_fails is not None:
            src = src.withColumn("__exp_fail", exp_fails)
        # null-key rows can never match a stored key: a create under the
        # diff's rule, so quarantined unless creates are skipped
        keys_obs = None
        if not skip_src:
            keys_obs = Observation(f"snapshot_keys_v{new_version}")
            src = src.observe(keys_obs, F.count_if(~key_ok).alias("n"))
        # duplicate keys resolve by LWW among the valid rows first — the
        # order every merge applies (validate, then dedup), so a null-ts
        # duplicate never displaces a valid one
        src = src.filter(key_ok)
        stored = self._stored_frame(man, None, evolved)
        # source and stored rows that fit one partition run the LWW window,
        # the join and the fan-out there, with no Exchange
        one = self._fits_one_partition(batch, stored)
        if one:
            src, stored = src.coalesce(1), stored.coalesce(1)
        src = lww_dedup(src, self.model, order_cols=(
            "__valid", *self.model.version_cols,
            *(["seq"] if "seq" in src.columns else [])))
        s = src.select(*s_sel).alias("s")
        c = stored.withColumn("__c", F.lit(True)).alias("c")
        joined = s.join(c, cond, "right_outer" if skip_src else "full_outer")
        obs = Observation(f"snapshot_v{new_version}")
        merged = joined.observe(obs, *metrics).filter(keep).select(*out_cols)

        buckets = list(range(n_buckets))
        rows = man.get("bucket_rows", {})
        splits = self._plan_splits(
            {b: int(rows.get(str(b), 0)) for b in buckets})
        data_dir = self._attempt_dir(new_version, snapshot_id)
        written = self._write_buckets(
            self._fanout_frame(merged, buckets, splits, one), man, data_dir,
            buckets, evolved, f"merge_v{new_version}",
        )
        m = obs.get
        n_null = keys_obs.get["n"] if keys_obs is not None else 0
        n_quarantined = m["n_bad"] + n_null
        _prof("snapshot_write_job", t_start)

        _t0 = time.perf_counter()
        if n_quarantined:
            rejected = joined.filter(bad).select(*q_sel)
            if n_null:
                rejected = rejected.unionByName(
                    batch.filter(~key_ok)
                    .withColumns({"op": F.lit("create"),
                                  "__valid": F.lit(False)})
                    .select(*q_cols))
            self._write_quarantine(rejected, exp_reason, new_version,
                                   snapshot_id)
        _prof("quarantine_write", _t0)

        _t0 = time.perf_counter()
        applied = {b: sum(written.ops[b].values()) for b in buckets}
        touched = [b for b in buckets if applied[b]]
        if touched:
            kept = {f"{BUCKET}={b}" for b in touched}
            for entry in self.io.list_dirs(data_dir):
                if entry.startswith(f"{BUCKET}=") and entry not in kept:
                    self.io.remove_dir(os.path.join(data_dir, entry))
        else:
            self.io.remove_dir(data_dir)
        _prof("discard_unchanged", _t0)

        res = self._commit_rewrite(
            man, new_version, snapshot_id, touched, splits, written, evolved,
            n_quarantined, checkpoint_id, batch_id, sum(applied.values()),
        )
        res["n_expectation_failed"] = (
            m["n_exp"] if exp_fails is not None else 0)
        diff = {f"n_{o}": m[f"n_{o}"] for o in _OP_CLASSES}
        diff["n_create"] += n_null
        if not flags.keep_noop:
            diff["n_noop"] = 0
        diff["n_total"] = sum(diff.values())
        res["diff"] = diff
        return res

    def _append_commit(
        self,
        batch: DataFrame,
        man: dict,
        new_version: int,
        snapshot_id: str,
        checkpoint_id: str,
        batch_id: int | None,
        evolved: T.StructType,
        exp_fails,
        exp_reason,
    ) -> dict[str, Any]:
        """Commit one merge-on-read DELTA LAYER: the batch's LWW winners,
        written with the same bucket/slot fan-out the base uses (so lookups
        can slot-prune layers too), then a layer record appended to the
        manifest. The base file lists are untouched — this is the Iceberg v2
        merge-on-read write path recast for LWW: no equality-delete files
        are needed because every row IS its own last-writer-wins resolution
        record (``(ts, _seq, __commit)`` total-orders it against base rows
        and other layers at read time, :meth:`_fold`).

        ``batch`` carries the ``__valid`` and ``_bucket`` columns. The merge
        is ONE write query with no pass over the batch before it. A batch
        that fits one partition (:meth:`_fits_one_partition`) is coalesced
        to it and :func:`lww_dedup` runs there: no Exchange, one Spark job.
        A larger one is repartitioned by the fan-out key with no fixed
        partition count (AQE merges partitions) and :func:`lww_dedup`
        clusters on the same key, so the plan has one Exchange. The slot
        plan comes from the manifest's ``bucket_rows`` (the :meth:`compact`
        rule); quarantine and input counts are an ``Observation`` on the
        write, and the quarantine rows a follow-up job written before the
        commit. The layer is written through the shared write step
        (:meth:`_write_buckets`, observing no bucket): touched buckets, row
        counts and file stats come from its footer pass. A batch with no
        valid rows commits its checkpoint and quarantine lineage, and no
        layer.

        Live row counts for the layered buckets become UNKNOWN (computing a
        layer's net effect is exactly the read this mode defers), so
        ``count_rows()`` falls back to a scan until ``compact()`` folds the
        layers and re-observes."""
        from pyspark.sql import Observation

        ids = list(self.model.identifiers)
        splits = self._plan_splits(
            {int(b): n for b, n in man.get("bucket_rows", {}).items()}
        )
        # fan-out key: (bucket, slot) when some bucket splits, else bucket
        # alone — a constant slot would be folded out of the window's
        # partition key and no longer match the repartition
        hot = {b: n for b, n in splits.items() if n > 1}
        slot, fan = F.lit(0), (BUCKET,)
        if hot:
            fan = (BUCKET, SLOT)
            split_map = F.expr(
                "map(" + ",".join(f"{b},{n}" for b, n in sorted(hot.items()))
                + ")"
            )
            slot = F.pmod(
                F.xxhash64(*ids),
                F.coalesce(split_map[F.col(BUCKET)], F.lit(1)),
            ).cast("int")
        obs = Observation(f"append_v{new_version}")
        metrics = [F.count_if(~F.col("__valid")).alias("n_bad"),
                   F.count_if(F.col("__valid")).alias("n_input")]
        if exp_fails is not None:
            metrics.append(F.count_if(exp_fails).alias("n_exp"))
        # __valid rides along unused: the delta projection below drops it.
        # A batch that fits one partition is coalesced instead: the window
        # needs no Exchange then (see _fits_one_partition)
        fanned = (
            batch.observe(obs, *metrics)
            .filter(F.col("__valid"))
            .withColumn(SLOT, slot)
        )
        fanned = (fanned.coalesce(1) if self._fits_one_partition(batch)
                  else fanned.repartition(*fan))
        winners = lww_dedup(fanned, self.model, cluster_cols=fan)
        # all but the per-commit literal is schema-stable — cached across
        # a replay's micro-batches (see _expr_cache)
        _dkey = ("mor_delta", evolved.json(), tuple(winners.columns))
        if _dkey not in self._expr_cache:
            self._expr_cache[_dkey] = ([
                *[F.col(k) for k in ids],
                *[
                    (F.col(f.name).try_cast(f.dataType)
                     if f.name in winners.columns
                     else F.lit(None).cast(f.dataType)).alias(f.name)
                    for f in evolved.fields if f.name not in ids
                ],
                (F.col("seq") if "seq" in winners.columns else F.lit(-1))
                .cast("long").alias(META_SEQ),
                (F.lower(F.col("op")) == DELETE_OP).alias(META_DELETED),
            ],)
        (_dsel,) = self._expr_cache[_dkey]
        # write-ordered files (see _fanout_frame); the window's sort on
        # (bucket, slot, ids, ...) already provides this order
        delta = winners.select(
            *_dsel,
            F.lit(new_version).cast("long").alias(META_COMMIT),
            F.col(BUCKET), F.col(SLOT),
        ).sortWithinPartitions(BUCKET, SLOT, *ids)
        written = self._write_buckets(
            delta, man, self._attempt_dir(new_version, snapshot_id), [],
            evolved, f"append_v{new_version}")
        m = obs.get
        n_quarantined = m["n_bad"]

        _t0 = time.perf_counter()
        if n_quarantined:
            self._write_quarantine(batch, exp_reason, new_version, snapshot_id)
        _prof("quarantine_write", _t0)

        touched = sorted(int(b) for b in written.files)
        row = functools.partial(_lineage_row, checkpoint_id, batch_id,
                                snapshot_id)
        # create/update/delete cannot be classified without reading the
        # base — the whole point of this path; the applied row count is
        # recorded honestly as n_append (None when a footer was unreadable)
        lineage_rows = [row(bk, n_append=written.rows.get(bk))
                        for bk in touched]
        if n_quarantined:
            lineage_rows.append(row(-1, n_quarantined=n_quarantined,
                                    n_append=0))
        quarantine_dir = (
            self._quarantine_dir(new_version, snapshot_id)
            if n_quarantined else None
        )

        # a layer's CONTENT never depends on the snapshot it lands on, so
        # after a lost race _commit_with_rebase re-invokes this against the
        # winner's manifest (metadata-only rebase) when the winner left
        # this layer's buckets alone. The layer record's "commit" takes
        # the rebased version (when it became visible); the files'
        # physical __commit column keeps the original attempt's number,
        # which stays strictly largest within its buckets (every earlier
        # layer there predates our base, every later one allocates past
        # our manifest version), so the fold's total order is unchanged.
        def build(base: dict, version: int) -> dict:
            deltas = list(base.get("deltas") or [])
            if written.files:
                deltas.append({
                    "commit": version,
                    "files": written.files,
                    "splits": {b: splits.get(int(b), 1) for b in written.files},
                })
            bucket_rows = dict(base.get("bucket_rows", {}))
            for bk, n in written.rows.items():
                bucket_rows[str(bk)] = bucket_rows.get(str(bk), 0) + n
            return next_manifest(
                base, version, snapshot_id, evolved, checkpoint_id, batch_id,
                lineage_rows, quarantine_dir, written.stats, deltas=deltas,
                bucket_rows=bucket_rows,
                # a layered bucket's live rows are unknown until compact()
                # folds it and re-observes (see docstring)
                bucket_live_rows=(None if touched
                                  else base.get("bucket_live_rows")),
            )

        _t0 = time.perf_counter()
        manifest, n_rebases = self._commit_with_rebase(
            build, man, new_version, touched, checkpoint_id, batch_id
        )
        _prof("commit", _t0)
        return {
            "skipped": False,
            "snapshot_id": snapshot_id,
            "version": manifest["version"],
            "touched_buckets": touched,
            "metadata_rebases": n_rebases,
            # valid batch rows that entered the MERGE (post-quarantine,
            # pre-LWW-dedup) — the denominator for pre-filter reduction
            "n_input": m["n_input"],
            "n_append": sum(written.rows.values()),
            "n_quarantined": n_quarantined,
            "n_expectation_failed": m["n_exp"] if exp_fails is not None else 0,
            "n_delta_layers": len(manifest.get("deltas") or []),
        }

    def apply_diff(self, diff_df: DataFrame, checkpoint_id: str = "diff",
                   batch_id: int | None = None) -> dict[str, Any]:
        """Apply a diff frame from :func:`diffsync_spark.diff` — the
        ``sync_from(diff_df=...)`` path (reference ``__init__.py:577-644``):
        create/update upsert the ``after`` payload, delete tombstones the key.
        Force mode: the diff was computed against the current state, so it is
        authoritative (no LWW race)."""
        return self.merge(
            diff_to_batch(diff_df, self.model),
            checkpoint_id=checkpoint_id,
            batch_id=batch_id,
            mode="force",
        )

    def _apply_where(self, build_batch, checkpoint_id: str,
                     batch_id: int | None,
                     max_commit_retries: int = 5) -> dict[str, Any]:
        """Force-apply a predicate-derived batch with SAFE conflict
        retries: ``build_batch()`` re-reads the CURRENT snapshot on every
        attempt, so a concurrent commit between our read and our commit
        re-evaluates the predicate against the winner's state instead of
        force-overwriting it with rows computed from a stale snapshot
        (merge()'s internal rebase replays the same batch, which is
        convergent for LWW but NOT for authoritative force batches)."""
        return retrying(lambda _: self.merge(
            build_batch(), checkpoint_id=checkpoint_id, batch_id=batch_id,
            mode="force", max_commit_retries=0,
        ), max_commit_retries)

    def _where_frame(self, predicate) -> DataFrame:
        """The matched-rows read behind ``update_where``/``delete_where``.
        A predicate given as a LIST of ``(column, op, value)`` conjuncts
        routes through :meth:`scan` — manifest-level file skipping (bucket
        routing + per-file stats) before Spark lists anything, the shape a
        targeted correction on a 100 TB table needs. Any other predicate
        (SQL string / Column) reads the table and filters: fully general,
        but every file of every bucket is scanned."""
        if (isinstance(predicate, (list, tuple)) and predicate
                and all(isinstance(c, (list, tuple)) and len(c) == 3
                        for c in predicate)):
            return self.scan([tuple(c) for c in predicate])
        return self.read().filter(predicate)

    def delete_where(self, predicate, checkpoint_id: str = "delete_where",
                     batch_id: int | None = None) -> dict[str, Any]:
        """Set-based cascade delete (reference ``store.remove`` with
        ``remove_children``, ``store/__init__.py:84-116`` / M10-M13):
        tombstone every live row matching ``predicate`` (a SQL string, a
        Column, or a list of ``(column, op, value)`` conjuncts — the list
        form prunes files at the manifest level, see :meth:`_where_frame`).
        Concurrent-writer safe: a lost commit race re-evaluates the
        predicate against the winner's snapshot (see :meth:`_apply_where`).
        """

        def build_batch():
            victims = self._where_frame(predicate)
            return victims.select(
                *self.model.identifiers,
                F.lit("delete").alias("op"),
                *[F.col(c) for c in victims.columns
                  if c not in self.model.identifiers],
            )

        return self._apply_where(build_batch, checkpoint_id, batch_id)

    def update_where(self, predicate, set: "dict[str, Any]",
                     checkpoint_id: str = "update_where",
                     batch_id: int | None = None) -> dict[str, Any]:
        """Set-based UPDATE (the Iceberg/Delta ``UPDATE ... WHERE``
        analog): rewrite every live row matching ``predicate`` with the
        ``set`` assignments (``{column: Column-or-SQL-string}``, evaluated
        over the matched rows — referencing existing columns works, e.g.
        ``{"val": F.col("val") * 2}``). Identifier columns cannot be
        assigned (an identity change is a delete + create, by design).
        Internally an authoritative force-merge of only the matched rows:
        unmatched buckets are never rewritten. Concurrent-writer safe: a
        lost commit race re-reads and re-evaluates the assignments against
        the winner's snapshot (see :meth:`_apply_where`). ``predicate``
        accepts the same forms as ``delete_where``; the ``(column, op,
        value)`` conjunct-list form prunes files at the manifest level."""
        bad = set.keys() & builtins.set(self.model.identifiers)
        if bad:
            raise DiffSyncSparkError(
                f"cannot update identifier columns {sorted(bad)}; "
                "delete + re-create to change identity"
            )
        def build_batch():
            rows = self._where_frame(predicate)
            for col, expr in set.items():
                rows = rows.withColumn(
                    col, F.expr(expr) if isinstance(expr, str) else expr
                )
            return rows.withColumn("op", F.lit("upsert"))

        return self._apply_where(build_batch, checkpoint_id, batch_id)

    def version_as_of(self, ts: "datetime.datetime | int | float") -> int:
        """Latest retained snapshot committed at or before ``ts`` — the
        Iceberg ``snapshot_as_of``/``TIMESTAMP AS OF`` resolution step.
        ``ts`` is a datetime (naive = local clock, matching the commit
        stamp) or an epoch number in seconds, millis, or micros — the unit
        is told apart by magnitude (seconds ≈ 1.7e9, millis ≈ 1.7e12,
        micros ≈ 1.7e15 for present-day instants; the bands are separated
        by ~1000× so e.g. a Debezium ``ts_ms`` passed straight through
        resolves correctly). Driver-side metadata walk only."""
        if hasattr(ts, "timestamp"):
            want_us = int(ts.timestamp() * 1_000_000)
        elif ts < 1e11:       # epoch seconds (covers through year 5138)
            want_us = int(ts * 1_000_000)
        elif ts < 1e14:       # epoch millis
            want_us = int(ts * 1_000)
        else:                 # epoch micros
            want_us = int(ts)
        best = None
        # walk THIS ref's ancestry chain, not the shared number space —
        # main time-travel must never resolve to an unpublished branch
        # snapshot that happens to carry an in-between version number
        for v in self.chain(self.current_version()).versions:
            at = self.stored_manifest(v).get("committed_at")
            if at is not None and at <= want_us:
                best = v
                break  # the chain is monotone in commit time
        if best is None:
            raise DiffSyncSparkError(
                f"no retained snapshot committed at or before {ts!r}"
            )
        return best

    def read_as_of(self, ts: "datetime.datetime | int | float") -> DataFrame:
        """Wall-clock time travel: the table state as of ``ts``."""
        return self.read(self.version_as_of(ts))

    def requeue_quarantine(
        self,
        version: int | None = None,
        fix: "Any | None" = None,
        checkpoint_id: str | None = None,
        batch_id: int | None = None,
        mode: str = "lww",
        expectations: "dict[str, Any] | None" = None,
    ) -> dict[str, Any]:
        """Re-drive a commit's quarantined rows through the MERGE after
        repair — the operational closure of CONTINUE_ON_FAILURE (the
        reference logs failures and keeps going,
        ``diffsync/helpers.py:442-446``; a real pipeline must eventually
        re-submit them). ``fix`` is an optional ``DataFrame -> DataFrame``
        repair hook applied to the rejected rows (status columns already
        stripped); without a fix, still-invalid rows simply quarantine
        again under the new commit — never lost, never duplicated (LWW
        keeps the requeue idempotent). ``mode`` passes through to
        :meth:`merge` — versionless models (whose rejects came from
        force-mode applies) must requeue with ``mode='force'``, since LWW
        needs a version column."""
        man = self._manifest(version)
        qdir = man.get("quarantine_dir")
        if not qdir:
            return {
                "skipped": True,
                "reason": f"version {man['version']} quarantined nothing",
            }
        rows = self.spark.read.parquet(qdir).drop("_status", "_status_reason")
        if fix is not None:
            rows = fix(rows)
        return self.merge(
            rows,
            checkpoint_id=checkpoint_id or f"requeue-v{man['version']}",
            batch_id=batch_id,
            mode=mode,
            expectations=expectations,
        )

    def history(self) -> DataFrame:
        """Snapshot history (the Iceberg ``table.history()`` analog): one
        row per retained version — snapshot/parent ids, schema width,
        bucket/file/row counts, checkpoint count, quarantine presence.
        Driver-side metadata only (one small JSON per retained version)."""
        rows = []
        cur = self.current_version()
        # this ref's ancestry, plus retention-proof tagged snapshots that
        # sit beyond an expiry gap the chain walk cannot cross
        listed = sorted(set(self.chain(cur).versions)
                        | set(self.tags().values()))
        for v in listed:
            try:
                man = self._manifest(v)
            except FileNotFoundError:
                continue  # a tag on an expired version
            schema = T.StructType.fromJson(json.loads(man["schema"]))
            rows.append({
                "version": v,
                "snapshot_id": man["snapshot_id"],
                "parent_snapshot_id": man.get("parent_snapshot_id"),
                "is_current": v == cur,
                "n_columns": len(schema.fields),
                "n_buckets_with_data": len(man["files"]),
                "n_files": sum(len(fl) for fl in man["files"].values()),
                "n_rows": sum(man.get("bucket_rows", {}).values()) or None,
                "n_live_rows": (
                    sum(man["bucket_live_rows"].values())
                    if man.get("bucket_live_rows") is not None else None
                ),
                "n_checkpoints": len(man["checkpoints"]),
                "has_quarantine": bool(man.get("quarantine_dir")),
                "committed_at_us": man.get("committed_at"),
                "n_delta_layers": len(man.get("deltas") or []),
            })
        return self.spark.createDataFrame(
            rows,
            "version int, snapshot_id string, parent_snapshot_id string, "
            "is_current boolean, n_columns int, n_buckets_with_data int, "
            "n_files int, n_rows long, n_live_rows long, n_checkpoints int, "
            "has_quarantine boolean, committed_at_us long, n_delta_layers int",
        )

    def files(
        self, version: int | None = None, with_row_counts: bool = False
    ) -> DataFrame:
        """Per-file inventory of a snapshot — the Iceberg ``files`` metadata
        table. One row per live data file: bucket, writer slot, base-vs-delta
        kind (delta = a merge-on-read layer, stamped with its commit), size,
        and the manifest's per-file column (min, max) stats as JSON.

        Driver-side metadata only: one manifest read plus a cheap size stat
        per file. ``with_row_counts=True`` additionally opens each parquet
        FOOTER for exact row counts — O(files) driver IO, an inspection
        convenience, never a data path. Reference analog: enumerating the
        store's backing keys (``/root/reference/diffsync/store/local.py:46``),
        here at the physical-layout level a 100 TB operator actually needs."""
        man = self._manifest(version)
        stats = man.get("_file_stats") or {}

        def _size(p: str) -> int | None:
            try:
                return os.path.getsize(p)
            except OSError:
                return None

        def _nrows(p: str) -> int | None:
            if not with_row_counts:
                return None
            try:
                import pyarrow as pa
                import pyarrow.parquet as pq
            except ImportError as e:
                warn_fallback_once("files() row counts", e)
                return None
            try:
                return pq.ParquetFile(p).metadata.num_rows
            except (OSError, ValueError, pa.ArrowException) as e:
                warn_fallback_once("files() row counts", e)
                return None

        def _row(b, p, kind, commit):
            return {
                "bucket": int(b), "slot": _slot_of(p), "path": p, "kind": kind,
                "delta_commit": commit, "size_bytes": _size(p),
                "n_rows": _nrows(p),
                "stats_json": (json.dumps(stats[p], sort_keys=True, default=str)
                               if p in stats else None),
            }

        rows = [
            _row(b, p, "base", None)
            for b, fl in man["files"].items() for p in fl
        ] + [
            _row(b, p, "delta", int(layer["commit"]))
            for layer in man.get("deltas") or []
            for b, fl in layer["files"].items() for p in fl
        ]
        return self.spark.createDataFrame(
            rows,
            "bucket int, slot int, path string, kind string, "
            "delta_commit long, size_bytes long, n_rows long, "
            "stats_json string",
        )

    def partitions(self, version: int | None = None) -> DataFrame:
        """Per-bucket layout summary — the Iceberg ``partitions`` metadata
        table: file counts, pending delta layers, and the manifest's row
        accounting (``n_live_rows`` is NULL while unknown, e.g. after a
        merge-on-read append, until ``compact()`` re-observes it). Pure
        manifest math, no file IO — the view that tells an operator which
        buckets need compaction before any data is read."""
        man = self._manifest(version)
        base = man["files"]
        deltas = man.get("deltas") or []
        bucket_rows = man.get("bucket_rows") or {}
        live = man.get("bucket_live_rows")
        buckets = set(base) | {b for l in deltas for b in l["files"]}
        rows = []
        for b in sorted(buckets, key=int):
            layers = [l for l in deltas if b in l["files"]]
            rows.append({
                "bucket": int(b),
                "n_base_files": len(base.get(b, [])),
                "n_delta_layers": len(layers),
                "n_delta_files": sum(len(l["files"][b]) for l in layers),
                "n_rows": bucket_rows.get(b),
                "n_live_rows": (live or {}).get(b) if live is not None else None,
            })
        return self.spark.createDataFrame(
            rows,
            "bucket int, n_base_files int, n_delta_layers int, "
            "n_delta_files int, n_rows long, n_live_rows long",
        )

    def refs(self) -> DataFrame:
        """Every named ref of the table — main, branches, tags — with the
        version and snapshot id it points at (the Iceberg ``refs`` metadata
        table). A ref whose manifest was expired still lists, with NULL
        snapshot details."""
        entries = [("main", "branch",
                    self._read_pointer(os.path.join(self.path, "_current")))]
        entries += [(n, "branch", v) for n, v in sorted(self.branches().items())]
        entries += [(n, "tag", v) for n, v in sorted(self.tags().items())]
        rows = []
        for name, kind, v in entries:
            try:
                man = self._manifest(v)
                sid, at = man["snapshot_id"], man.get("committed_at")
            except FileNotFoundError:
                sid, at = None, None
            rows.append({"name": name, "type": kind, "version": v,
                         "snapshot_id": sid, "committed_at_us": at})
        return self.spark.createDataFrame(
            rows,
            "name string, type string, version int, snapshot_id string, "
            "committed_at_us long",
        )

    def quarantine_df(self, version: int | None = None) -> DataFrame | None:
        """Rejected rows of a commit, with per-record ``_status`` (the
        reference's ``DiffSyncStatus`` values, ``enum.py:90-96``) and
        ``_status_reason`` (the log message of ``helpers.py:442-446``) as
        columns. Returns None when that commit quarantined nothing."""
        qdir = self._manifest(version).get("quarantine_dir")
        if not qdir:
            return None
        return self.spark.read.parquet(qdir)

    # -------------------------------------------------------------- lineage
    def last_change_share(self) -> float | None:
        """Share of the stored rows that sit in the buckets the latest
        commit changed (created, updated, deleted or appended rows in),
        from the current manifest alone; 0.0 after a commit that changed
        nothing (maintenance, an empty sync) and None for a table with no
        rows. :meth:`Engine.sync_from` takes it as the prediction of how
        much of the table the next sync changes."""
        man = self._manifest()
        rows = {int(b): n for b, n in (man.get("bucket_rows") or {}).items()}
        total = sum(rows.values())
        if not total:
            return None
        changed = {
            r["partition"] for r in man["lineage"]
            if r["partition"] >= 0 and any(
                r.get(k) for k in ("n_create", "n_update", "n_delete",
                                   "n_append"))
        }
        return sum(rows.get(b, 0) for b in changed) / total

    def lineage_df(self) -> DataFrame:
        """Per-partition lineage across all retained commits (FIXTURES.md
        T6; versions dropped by ``expire_snapshots`` are skipped)."""
        rows = []
        cur = self.current_version()
        listed = sorted(set(self.chain(cur).versions)
                        | set(self.tags().values()))
        for v in listed:
            try:
                man = self._manifest(v)
            except FileNotFoundError:
                continue  # a tag on an expired version
            for r in man["lineage"]:
                # n_append: rows landed as a merge-on-read delta layer
                # (commits predating the field, and all copy-on-write
                # commits, default to 0)
                rows.append({"n_append": 0, **r, "table_version": v})
        schema = (
            "checkpoint_id string, batch_id long, snapshot_id string, "
            "partition int, n_create long, n_update long, n_delete long, "
            "n_noop long, n_quarantined long, n_append long, table_version int"
        )
        return self.spark.createDataFrame(rows, schema=schema)

    @staticmethod
    def _bucket_signature(man: dict) -> dict[str, tuple]:
        """Per-bucket content signature: base file list + the ordered delta
        layers touching the bucket. Two snapshots whose signature matches
        hold byte-identical logical content for that bucket."""
        sig: dict[str, tuple] = {
            b: (tuple(fl), ()) for b, fl in man["files"].items()
        }
        for layer in man.get("deltas") or []:
            for b, fl in layer["files"].items():
                base, layers = sig.get(b, ((), ()))
                sig[b] = (base, layers + ((layer["commit"], tuple(fl)),))
        return sig

    def changed_buckets(self, from_version: int, to_version: int | None = None) -> list[int]:
        """Buckets whose stored content differs between two snapshots — the
        manifest-level pruning unit for incremental reads. Compares base
        file lists AND delta layers, so a merge-on-read append (which never
        touches base files) still marks its buckets changed."""
        sig_from = self._bucket_signature(self._manifest(from_version))
        sig_to = self._bucket_signature(self._manifest(to_version))
        return sorted(
            int(b)
            for b in set(sig_from) | set(sig_to)
            if sig_from.get(b) != sig_to.get(b)
        )

    def committed_batch(self, checkpoint_id: str) -> int:
        """Highest batch_id committed under ``checkpoint_id`` (-1 if none) —
        the resume point for exactly-once consumers (``stream_changes`` /
        ``pipe_changes`` store the upstream version they last applied as
        their batch id here)."""
        return int(self._manifest()["checkpoints"].get(checkpoint_id, -1))

    def changes(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Incremental (CDC) read: the net row-level changes that turn
        snapshot ``from_version`` into ``to_version`` (default: current) —
        the Iceberg incremental-scan analog, so downstream consumers can
        tail THIS table instead of re-reading it.

        Scale shape: only buckets whose manifest file sets differ
        participate at all (a commit touching 3 of 1,024 buckets scans 2×3
        bucket file sets, not the table); within those, a keyed full-outer
        diff classifies create/update/delete against the older live state.
        A ``compact()`` rewrites files with no logical change — its buckets
        are scanned but every row compares noop → empty result, preserving
        correctness over pure file-diff approaches.
        """
        from diffsync_spark.operators.diff import diff as diff_op

        # pin the end version ONCE: a concurrent commit between the pruning
        # computation and the reads must not shift what "current" means
        if to_version is None:
            to_version = self.current_version()
        changed = self.changed_buckets(from_version, to_version)
        d = diff_op(
            self.read(to_version, buckets=changed),
            self.read(from_version, buckets=changed),
            self.model,
        )
        return d.filter(F.col("op") != "noop")

    def change_feed(
        self,
        from_version: int,
        to_version: int | None = None,
        per_commit: bool = False,
    ) -> DataFrame:
        """Delta-CDF-shaped change feed: one FLAT row per changed row image,
        ready for downstream consumers that expect full rows rather than
        ``changes()``'s nested before/after structs.

        Columns: identifiers, the payload columns of the newer snapshot's
        schema (a column added between the versions reads NULL in
        pre-images), ``_change_type`` in {insert, delete, update_preimage,
        update_postimage} (an update emits BOTH images), and
        ``_commit_version`` — the snapshot whose commit produced the row.

        ``per_commit=False`` (default) emits the NET feed ``from_version →
        to_version`` in one keyed diff (a row updated five times appears
        once); ``per_commit=True`` walks the snapshot chain and diffs each
        consecutive pair, attributing every change to the commit that made
        it — the full history, at one bucket-pruned diff per commit (plan
        size grows with the commit count; tail in bounded windows at scale).
        Raises if the ancestry between the versions has been expired.

        Reference analog: consuming ``Diff.get_children()`` as a stream of
        per-element changes (``/root/reference/diffsync/diff.py:130-147``) —
        here the stream is a DataFrame any engine can subscribe to.
        """
        if to_version is None:
            to_version = self.current_version()
        if not per_commit or to_version <= from_version:
            return self._cdf_frame(from_version, to_version)
        walk = self.chain(to_version, stop_after=from_version)
        if walk.expired or walk.end != from_version:
            raise DiffSyncSparkError(
                f"ancestry expired between v{from_version} and "
                f"v{to_version} — per-commit feed cannot be reconstructed "
                f"(walk stopped at v{walk.end})"
            )
        out = None
        prev = from_version
        for v in reversed(walk.versions):
            step = self._cdf_frame(prev, v)
            # allowMissingColumns: a column added mid-range is absent from
            # earlier hops' frames and reads NULL there — the same
            # newer-schema rule the net feed documents
            out = (step if out is None
                   else out.unionByName(step, allowMissingColumns=True))
            prev = v
        return out

    def apply_change_feed(
        self,
        feed: DataFrame,
        checkpoint_id: str = "change_feed",
        batch_id: int | None = None,
        **merge_kwargs: Any,
    ) -> dict[str, Any]:
        """Apply another table's change feed to THIS table — the consumer
        half of the CDC-hub loop. Accepts the flat row-image shape both
        producers emit (``change_feed()`` and the ``diffsync_table``
        streaming source): pre-images are dropped, deletes map to delete
        ops, inserts/post-images to upserts, a ``_seq`` column (the
        producer's monotone tiebreak) rides along so in-batch dedup of a
        multi-commit feed orders identically to the producer. Applies in
        FORCE mode by default — the feed IS the authoritative truth about
        those keys, and a net feed's delete rows carry the pre-image
        version, which a versioned LWW merge would tie-lose (pass
        ``mode="lww"`` only when the consumer holds independent newer
        writes that must win). One plain ``merge()`` underneath —
        exactly-once, quarantine, expectations, retries all unchanged."""
        cols = set(feed.columns)
        if "_change_type" not in cols:
            raise DiffSyncSparkError(
                "apply_change_feed expects a _change_type column "
                "(change_feed() / diffsync_table 'changes' output)"
            )
        batch = feed.filter(F.col("_change_type") != "update_preimage")
        batch = batch.withColumn(
            "op",
            F.when(F.col("_change_type") == "delete", F.lit("delete"))
            .otherwise(F.lit("upsert")),
        ).drop("_change_type", "_commit_version")
        if "_seq" in cols and "seq" not in cols:
            batch = batch.withColumnRenamed("_seq", "seq")
        merge_kwargs.setdefault("mode", "force")
        return self.merge(batch, checkpoint_id=checkpoint_id,
                          batch_id=batch_id, **merge_kwargs)

    def _cdf_frame(self, v_from: int, v_to: int) -> DataFrame:
        """One net change-feed hop: ``changes()`` flattened to CDF rows."""
        d = self.changes(v_from, v_to)
        ids = list(self.model.identifiers)
        a_fields = list(d.schema["after"].dataType.fields)
        b_fields = list(d.schema["before"].dataType.fields)
        names = [f.name for f in a_fields]
        names += [f.name for f in b_fields if f.name not in names]
        types = {f.name: f.dataType for f in b_fields}
        types.update({f.name: f.dataType for f in a_fields})

        def img(side: str, present: set[str]):
            return F.struct(*[
                (F.col(f"{side}.{c}") if c in present
                 else F.lit(None).cast(types[c])).alias(c)
                for c in names
            ])

        a_present = {f.name for f in a_fields}
        b_present = {f.name for f in b_fields}

        if names:
            def elem(image, tag: str):
                return F.struct(image.alias("img"), F.lit(tag).alias("ct"))
            after_img, before_img = img("after", a_present), img("before", b_present)
        else:
            def elem(image, tag: str):
                return F.struct(F.lit(tag).alias("ct"))
            after_img = before_img = None
        rows = (
            F.when(F.col("op") == "create", F.array(elem(after_img, "insert")))
            .when(F.col("op") == "delete", F.array(elem(before_img, "delete")))
            .otherwise(F.array(
                elem(before_img, "update_preimage"),
                elem(after_img, "update_postimage"),
            ))
        )
        ex = d.select(*ids, F.explode(rows).alias("__c"))
        return ex.select(
            *ids,
            *[F.col(f"__c.img.{c}").alias(c) for c in names],
            F.col("__c.ct").alias("_change_type"),
            F.lit(v_to).cast("long").alias("_commit_version"),
        )

    def compact(
        self,
        max_commit_retries: int = 5,
        min_files: int | None = None,
        buckets: list[int] | None = None,
        purge_tombstones_older_than: Any | None = None,
        zorder: Sequence[str] | None = None,
        zorder_files_per_bucket: int | None = None,
    ) -> dict[str, Any]:
        """Rewrite buckets into fresh files (small-file maintenance, like
        Iceberg ``rewrite_data_files``). New snapshot; no logical change.

        Targeting — the 100 TB shape, where a full-table rewrite is not an
        option:

        - ``min_files=N``: only buckets whose manifest lists >= N files are
          rewritten (binpack the fragmented buckets, leave healthy ones
          byte-untouched — their file lists carry over into the new
          manifest, copy-on-write style);
        - ``buckets=[...]``: an explicit bucket subset;
        - neither: every bucket (the original full rewrite).

        ``purge_tombstones_older_than=H`` (a value comparable to the
        model's version column, e.g. a timestamp) additionally DROPS
        tombstone rows whose version is older than ``H`` — the Delta-style
        delete-retention horizon. Tombstones exist to make a deleted key
        lose against late-arriving OLDER events; once the caller can
        promise no event older than ``H`` will still arrive (the stream's
        watermark), a tombstone older than ``H`` protects nothing and is
        pure dead weight — at 10^10 events with churn they otherwise
        accumulate forever. NULL-version tombstones (the "admin delete is
        always newest" rule) are NEVER purged: absence would let a future
        event land where the tombstone would have beaten it. This is the
        one compaction variant with a (caller-authorized) logical change;
        ``changes()`` across it reports nothing, since purged rows were
        already invisible to ``read()``.

        ``zorder=[c1, c2, ...]`` rewrites the selected buckets CLUSTERED on
        the Morton (Z-order) interleaving of the named columns instead of
        the natural key — Delta's ``OPTIMIZE ZORDER BY``. Each column is
        quantile-binned to 8 bits (one ``approx_percentile`` pass, so skewed
        distributions still fill the curve), the bins bit-interleave into a
        64-bit Z value, and each bucket's rows are RANGE-split on it, so
        every rewritten file covers a compact hyper-rectangle of the value
        space. Per-file (min, max) stats are then recorded for the Z
        columns too, and ``scan()`` predicates on ANY of them skip files —
        multi-dimensional pruning a single sort column can't give. The
        tradeoff is explicit: Z-clustered buckets write one slot (the
        natural-key slot fan-out no longer holds), so point lookups fall
        back to file stats, and later MERGEs restore key-sorted layout for
        the buckets they rewrite (Z-clustering decays with writes —
        re-run it as maintenance, as on any lakehouse).
        ``zorder_files_per_bucket`` overrides the binpack sizing: pruning
        granularity is per FILE, so more, smaller files trade open()
        overhead for tighter hyper-rectangles (default: the same
        row-count-targeted sizing every write uses).

        A no-op selection (nothing fragmented) commits NOTHING and returns
        ``{"skipped": True}``. Loses any commit race gracefully: rebase =
        re-read the (new) current snapshot and re-select, bounded by
        ``max_commit_retries``."""
        return retrying(lambda _: self._compact_attempt(
            min_files, buckets, purge_tombstones_older_than, zorder,
            zorder_files_per_bucket,
        ), max_commit_retries)

    def _compact_attempt(
        self,
        min_files: int | None = None,
        buckets: list[int] | None = None,
        purge_tombstones_older_than: Any | None = None,
        zorder: Sequence[str] | None = None,
        zorder_files_per_bucket: int | None = None,
    ) -> dict[str, Any]:
        man = self._manifest()
        # per-bucket file counts across base + delta layers: on a
        # merge-on-read table a bucket with 1 base file and 9 layers is
        # exactly what compaction exists to fold
        n_files_by_bucket: dict[str, int] = {
            b: len(fl) for b, fl in man["files"].items()
        }
        for layer in man.get("deltas") or []:
            for b, fl in layer["files"].items():
                n_files_by_bucket[b] = n_files_by_bucket.get(b, 0) + len(fl)
        if buckets is not None:
            targets = sorted(set(int(b) for b in buckets))
        elif min_files is not None:
            targets = sorted(
                int(b) for b, n in n_files_by_bucket.items()
                if n >= min_files
            )
        else:
            targets = sorted(int(b) for b in n_files_by_bucket)
        if not targets:
            return {"skipped": True, "version": man["version"],
                    "compacted_buckets": [], "n_files": 0}
        new_version = self._next_version(man)
        snapshot_id = uuid.uuid4().hex
        public = T.StructType.fromJson(json.loads(man["schema"]))
        bucket_src = self.model.parent_key or self.model.identifiers
        # fold-aware read: on a MoR table this IS the fold — base + layers
        # resolve to one winner per key (tombstones kept: they must stay to
        # beat late-arriving older updates), written back as plain base.
        # Rows are bucketed with this snapshot's n_buckets.
        raw = self._stored_frame(man, targets, public).withColumn(
            BUCKET,
            F.pmod(F.xxhash64(*bucket_src), F.lit(man["n_buckets"])).cast("int"),
        )
        if purge_tombstones_older_than is not None:
            if not self.model.version_cols:
                raise DiffSyncSparkError(
                    "tombstone purge needs model.version_cols"
                )
            vc = F.col(self.model.version_cols[0])
            # keep everything EXCEPT ts-tombstones older than the horizon;
            # NULL-version tombstones are always-newest by rule and never
            # purgeable (see compact() docstring)
            raw = raw.filter(
                ~(
                    F.coalesce(F.col(META_DELETED), F.lit(False))
                    & vc.isNotNull()
                    & (vc < F.lit(purge_tombstones_older_than))
                )
            )
        # binpack with the same slot fan-out the MERGE uses: a hot bucket
        # keeps several (bounded-size) files + its lookup-prunable slot dirs
        # instead of collapsing into one oversized file
        cur_rows = {int(b): n for b, n in man.get("bucket_rows", {}).items()}
        splits = self._plan_splits({b: cur_rows.get(b, 0) for b in targets})
        stat_cols = self._stat_cols(public)
        if zorder:
            if zorder_files_per_bucket:
                splits = {b: zorder_files_per_bucket for b in targets}
            out = self._zorder_fanout(raw, targets, splits, list(zorder),
                                      public)
            # one slot dir per bucket: lookups see splits=1 and read the
            # bucket's (range-split, stats-pruned) files
            splits = {b: 1 for b in targets}
            # Z columns earn per-file stats too — that's what makes the
            # clustering prunable by scan(); numeric-only, same soundness
            # rule as _stat_cols (string min/max may be truncated)
            stat_cols += [c for c in zorder if c not in stat_cols]
        else:
            out = self._fanout_frame(raw, targets, splits,
                                     self._fits_one_partition(raw))
        # the written counts restore the metadata-only count_rows() a MoR
        # append had to give up; a commit that lost the race rebases onto
        # the winner when it left the compacted buckets alone (targeted
        # compaction racing an ingest stream on OTHER buckets is the
        # common case at scale), skipping a full re-fold
        written = self._write_buckets(
            out, man, self._attempt_dir(new_version, snapshot_id), targets,
            public, f"compact_v{new_version}", stat_cols,
        )
        res = self._commit_rewrite(
            man, new_version, snapshot_id, targets, splits, written, public)
        return {
            "skipped": False,
            "version": res["version"],
            "compacted_buckets": targets,
            "metadata_rebases": res["metadata_rebases"],
            "n_files": res["n_files"],
            **({"zorder": list(zorder)} if zorder else {}),
        }

    # ---------------------------------------------------------- maintenance
    def rebucket(self, n_buckets: int,
                 max_commit_retries: int = 5) -> dict[str, Any]:
        """Change the table's bucket count — partition-spec evolution
        (Iceberg ``REPLACE PARTITION FIELD bucket(N, key)``). A table sized
        at creation for 10^8 rows needs more buckets at 10^10: MERGE
        parallelism, file pruning granularity, and writer fan-out all key
        off ``n_buckets``, and this is the only dial that moves them.

        One full-table rewrite (fold-aware: outstanding merge-on-read
        layers are folded in; tombstones kept) committed as a snapshot with
        the NEW bucket count. Every manifest carries its own ``n_buckets``,
        so time travel to pre-rebucket versions keeps routing lookups and
        incremental reads with the old count — nothing is invalidated.
        ``changes()`` across the rebucket boundary degrades gracefully: all
        buckets compare as changed (numbering moved), so the diff scans the
        full pair of snapshots and still returns only real row changes.

        Loses a commit race like compact: re-read, re-select, retry."""
        return retrying(lambda _: self._rebucket_attempt(n_buckets),
                        max_commit_retries)

    def _rebucket_attempt(self, n_buckets: int) -> dict[str, Any]:
        if n_buckets < 1:
            raise DiffSyncSparkError("n_buckets must be >= 1")
        man = self._manifest()
        if n_buckets == man["n_buckets"]:
            return {"skipped": True, "version": man["version"],
                    "n_buckets": n_buckets}
        new_version = self._next_version(man)
        snapshot_id = uuid.uuid4().hex
        public = T.StructType.fromJson(json.loads(man["schema"]))
        ids = list(self.model.identifiers)
        bucket_src = self.model.parent_key or ids
        raw = self._stored_frame(man, None, public).withColumn(
            BUCKET, F.pmod(F.xxhash64(*bucket_src), F.lit(n_buckets)).cast("int")
        )
        # uniform writer fan-out: rebucketing rebalances by construction, so
        # every new bucket gets the same slot count (no per-bucket maps —
        # at 4,096 buckets a literal create_map would bloat the plan)
        total = sum(man.get("bucket_rows", {}).values())
        per_bucket_est = max(1, total // n_buckets)
        uniform = self._plan_splits({0: per_bucket_est})[0]
        out = raw.withColumn(
            SLOT, F.pmod(F.xxhash64(*ids), F.lit(uniform)).cast("int"))
        out = out.coalesce(1) if self._fits_one_partition(raw) else (
            out.repartition(
                n_buckets * uniform,
                (F.col(BUCKET) * uniform + F.col(SLOT)).cast("int"),
            ))
        out = out.sortWithinPartitions(BUCKET, SLOT, *ids)
        # the new numbering cannot rebase onto a winner, so this commits
        # directly: every bucket is new and the layers are folded in
        written = self._write_buckets(
            out, man, self._attempt_dir(new_version, snapshot_id),
            list(range(n_buckets)), public, f"rebucket_v{new_version}",
        )
        files = written.files
        self._commit(next_manifest(
            man, new_version, snapshot_id, public, new_stats=written.stats,
            n_buckets=n_buckets, files=files, deltas=None,
            bucket_rows={str(b): n for b, n in written.rows.items()},
            bucket_splits={b: uniform for b in files},
            bucket_live_rows={b: written.live[int(b)] for b in files},
        ), parent=man["version"])
        return {
            "skipped": False,
            "version": new_version,
            "n_buckets": n_buckets,
            "n_files": sum(map(len, files.values())),
        }

    def maintain(self, max_delta_layers: int = 8,
                 max_commit_retries: int = 5) -> dict[str, Any]:
        """Bound the merge-on-read read tax: fold (only) the buckets whose
        outstanding delta-layer count reached ``max_delta_layers`` back into
        base files. The steady-state contract for a continuously-ingesting
        MoR table — call it on a maintenance cadence (or every K batches
        from the ingest loop) and every read folds at most
        ``max_delta_layers`` layers per bucket while cold buckets are never
        rewritten. No-op (and no commit) on copy-on-write tables or when no
        bucket is over the threshold."""
        if max_delta_layers < 1:
            raise DiffSyncSparkError("max_delta_layers must be >= 1")
        man = self._manifest()
        layer_count: dict[int, int] = {}
        for layer in man.get("deltas") or []:
            for b in layer["files"]:
                layer_count[int(b)] = layer_count.get(int(b), 0) + 1
        over = sorted(b for b, n in layer_count.items()
                      if n >= max_delta_layers)
        if not over:
            return {"skipped": True, "version": man["version"],
                    "compacted_buckets": [], "n_files": 0}
        return self.compact(buckets=over,
                            max_commit_retries=max_commit_retries)

    def verify_table(
        self, version: int | None = None, check_counts: bool = False
    ) -> dict[str, Any]:
        """Integrity audit (fsck) of a snapshot — the check an operator
        runs before trusting a 100 TB table after an incident. Metadata
        checks are driver-side O(files-in-manifest):

        - every referenced data file (base and delta layer) EXISTS;
        - no file is claimed by two buckets or two layers;
        - every file sits in a ``__slot=S`` dir with ``S`` below its
          bucket's committed split (the layer's own split for a layer
          file): lookups prune to the slot a key hashes to, so a file
          outside the split is a row no lookup can find;
        - the schema parses and its field ids are unique and within the
          manifest's ``last_field_id`` watermark;
        - delta-layer commit numbers do not exceed the snapshot version;
        - per-file stats entries only describe referenced files;
        - the parent chain walks back to retention (gaps past an expired
          manifest are reported as info, not failure).

        ``check_counts=True`` additionally SCANS the table and compares
        each bucket without delta layers against the manifest's
        ``bucket_rows`` (stored rows) and ``bucket_live_rows`` (live rows)
        — one Spark aggregate over the data, the only non-metadata check. A
        published ``bucket_live_rows`` that leaves out a bucket holding
        files or layers is an error too: ``count_rows()`` would undercount.

        Returns ``{"ok": bool, "issues": [{severity, code, detail}, ...],
        "n_files": int, "version": int}`` — never raises on findings, so
        it can run inside monitoring."""
        man = self._manifest(version)
        v = man["version"]
        issues: list[dict[str, str]] = []

        def issue(sev: str, code: str, detail: str) -> None:
            issues.append({"severity": sev, "code": code, "detail": detail})

        owner: dict[str, str] = {}
        n_files = 0
        splits = man.get("bucket_splits", {})
        groups = [(f"bucket {b} (base)", fl, int(splits.get(b, 1)))
                  for b, fl in man["files"].items()]
        for layer in man.get("deltas") or []:
            c = int(layer["commit"])
            if c > v:
                issue("error", "layer_commit_future",
                      f"delta layer commit v{c} exceeds snapshot v{v}")
            lsplits = layer.get("splits", {})
            groups += [(f"bucket {b} (layer v{c})", fl,
                        int(lsplits.get(b, 1)))
                       for b, fl in layer["files"].items()]
        for where, fl, split in groups:
            for p in fl:
                n_files += 1
                if p in owner:
                    issue("error", "file_double_referenced",
                          f"{p} claimed by {owner[p]} and {where}")
                owner[p] = where
                if not os.path.exists(p):
                    issue("error", "file_missing", f"{where}: {p}")
                slot = _slot_of(p)
                if slot is None or slot >= split:
                    issue("error", "slot_outside_split",
                          f"{where}: {p} is not in a slot below the "
                          f"split {split}")
        try:
            schema = T.StructType.fromJson(json.loads(man["schema"]))
            ids_seen: dict[int, str] = {}
            last = man["last_field_id"]
            for f in schema.fields:
                fid = (f.metadata or {}).get(_FIELD_ID_KEY)
                if fid is None:
                    continue
                if fid in ids_seen:
                    issue("error", "field_id_duplicate",
                          f"id {fid} on both {ids_seen[fid]!r} and "
                          f"{f.name!r}")
                ids_seen[fid] = f.name
                if fid > last:
                    issue("error", "field_id_past_watermark",
                          f"{f.name!r} has id {fid} > last_field_id {last}"
                          " — a future evolution could collide")
        except Exception as e:  # malformed schema JSON
            issue("error", "schema_unparsable", str(e))
        # NOTE: _file_stats may describe files this snapshot no longer
        # references — a shared bm segment carries stats for every file it
        # listed when written, and other buckets still ref that segment.
        # scan() keys pruning off the manifest's file lists, so stale
        # entries are inert; they are NOT an integrity finding.
        qdir = man.get("quarantine_dir")
        if qdir and not os.path.exists(qdir):
            issue("warn", "quarantine_missing", qdir)
        walk = self.chain(v)
        if walk.expired:
            issue("info", "chain_gap",
                  f"ancestry walk stops at v{walk.versions[-1]} (parent "
                  f"v{walk.end} expired) — history/per-commit feeds reach "
                  "this far")
        live_rows = man.get("bucket_live_rows")
        if check_counts and (man.get("bucket_rows") or live_rows is not None):
            # layered buckets are excluded: their manifest counts track
            # raw appended rows while any scan folds to winners — only
            # compact() re-establishes a comparable number
            layered = {int(b) for lay in man.get("deltas") or []
                       for b in lay["files"]}
            plain = [int(b) for b in man["files"]
                     if int(b) not in layered]
            public = T.StructType.fromJson(json.loads(man["schema"]))
            # bucket with THIS manifest's n_buckets — the current layout
            # may have been rebucketed since the audited snapshot
            bucket_src = list(self.model.parent_key or self.model.identifiers)
            bcol = F.pmod(F.xxhash64(*bucket_src),
                          F.lit(man["n_buckets"])).cast("int")
            got = {
                r[BUCKET]: (r["n"], r["live"])
                for r in self._stored_frame(man, plain, public)
                .withColumn(BUCKET, bcol)
                .groupBy(BUCKET).agg(
                    F.count("*").alias("n"),
                    F.count_if(~F.coalesce(F.col(META_DELETED),
                                           F.lit(False))).alias("live"),
                ).collect()
            }
            for key, i in (("bucket_rows", 0), ("bucket_live_rows", 1)):
                for b, want in (man.get(key) or {}).items():
                    n = got.get(int(b), (0, 0))[i]
                    if int(b) not in layered and n != want:
                        issue("error", f"{key}_mismatch",
                              f"bucket {b}: manifest says {want}, "
                              f"scan found {n}")
            if live_rows is not None:
                holding = {b for b, fl in man["files"].items() if fl}
                holding |= {str(b) for b in layered}
                for b in sorted(holding - set(live_rows), key=int):
                    issue("error", "bucket_live_rows_missing",
                          f"bucket {b} holds data but has no live count")
        ok = not any(i["severity"] == "error" for i in issues)
        return {"ok": ok, "version": v, "n_files": n_files,
                "issues": issues}

    def remove_orphans(self, min_versions_old: int = 1,
                       dry_run: bool = False) -> dict[str, Any]:
        """Delete data/quarantine dirs referenced by NO retained manifest —
        the droppings of losing commit attempts and crashed writers (the
        Iceberg ``remove_orphan_files`` analog; each losing ``merge()``
        attempt leaves a whole ``v{N}-{sid}`` dir no manifest points at).
        ``dry_run=True`` reports what would be deleted without touching
        anything.

        Scope: only dirs matching the per-attempt ``v{N}-{sid}`` naming are
        candidates.

        In-flight-writer safety: dirs tagged less than ``min_versions_old``
        versions behind current are never touched. The default (1) is safe
        when no concurrent writer's manifest read is more than one commit
        stale; under heavy multi-writer churn run GC from a quiesced
        maintenance window or raise ``min_versions_old`` to cover the
        longest plausible write duration in commits (a stale writer whose
        dir IS removed fails its write job and retries cleanly on the next
        ``merge`` call, but that is a noisy failure mode, not a data-loss
        one — the dir was never committed).
        """
        cur = self.current_version()
        # Liveness is decided by the v{N}-{sid} dir BASENAME, never by path
        # prefix: manifests record file paths as spelled at write time, and
        # a table reopened under an equivalent-but-different spelling
        # (relative vs absolute, ``./tbl`` vs ``tbl``) would fail a
        # prefix/startswith comparison for every live file — deleting
        # committed data the current manifest still references. The uuid
        # suffix makes each basename globally unique, so basename
        # membership is both spelling-proof and collision-free.
        live_data_dirs: set[str] = set()   # basenames of live data dirs
        live_quar_dirs: set[str] = set()   # basenames of live quarantine dirs
        for v in range(1, cur + 1):
            try:
                man = self._manifest(v)
            except FileNotFoundError:
                continue
            all_file_lists = list(man["files"].values()) + [
                fl
                for layer in man.get("deltas") or []
                for fl in layer["files"].values()
            ]
            for fl in all_file_lists:
                for p in fl:
                    # file layout: .../data/v{N}-{sid}/_bucket=K/__slot=S/
                    # part-*.parquet — the v{N}-{sid} component is found
                    # by pattern
                    for comp in os.path.normpath(p).split(os.sep):
                        if _VDIR_RE.match(comp):
                            live_data_dirs.add(comp)
                            break
            if man.get("quarantine_dir"):
                live_quar_dirs.add(os.path.basename(
                    os.path.normpath(man["quarantine_dir"])
                ))
        removed: list[str] = []
        for root, live in (
            (os.path.join(self.path, "data"), live_data_dirs),
            (os.path.join(self.path, "quarantine"), live_quar_dirs),
        ):
            for d in self.io.list_dirs(root):
                if not _VDIR_RE.match(d):
                    continue
                ver = int(d[1:].split("-", 1)[0])
                if ver > cur - min_versions_old:  # possible in-flight attempt
                    continue
                if d not in live:
                    full = os.path.join(root, d)
                    if not dry_run:
                        self.io.remove_dir(full)
                    removed.append(full)
        key = "would_remove_dirs" if dry_run else "removed_dirs"
        return {key: sorted(removed)}

    # ------------------------------------------------------------------ refs
    @property
    def _refs_dir(self) -> str:
        return os.path.join(self.path, "refs")

    def create_tag(self, name: str, version: int | None = None) -> int:
        """Pin a snapshot under an immutable name (the Iceberg TAG ref):
        ``read(version=table.tag_version(name))`` then works forever —
        tagged versions survive ``expire_snapshots`` (their manifests and
        exclusively-referenced files are retained), which is the actual
        point: "the dataset we trained run X on" must stay readable after
        routine retention. Exclusive-create: re-tagging an existing name
        raises (delete first) — so a tag can never silently move."""
        if not re.fullmatch(r"[A-Za-z0-9._\-]{1,128}", name):
            raise DiffSyncSparkError(f"invalid tag name {name!r}")
        if version is None:
            version = self.current_version()
        self._manifest(version)  # raises if unknown/expired
        self.io.makedirs(self._refs_dir, exist_ok=True)
        try:
            self.io.write_exclusive(
                os.path.join(self._refs_dir, name), str(version)
            )
        except FileExistsError:
            raise DiffSyncSparkError(
                f"tag {name!r} already exists (tags are immutable; "
                "delete_tag first)"
            ) from None
        return version

    def tag_version(self, name: str) -> int:
        path = os.path.join(self._refs_dir, name)
        if not self.io.exists(path):
            raise DiffSyncSparkError(f"no tag {name!r}")
        return self._read_pointer(path)

    def tags(self) -> dict[str, int]:
        if not self.io.exists(self._refs_dir):
            return {}
        return {
            n: self._read_pointer(os.path.join(self._refs_dir, n))
            for n in self.io.list_files(self._refs_dir)
        }

    def delete_tag(self, name: str) -> None:
        path = os.path.join(self._refs_dir, name)
        if not self.io.exists(path):
            raise DiffSyncSparkError(f"no tag {name!r}")
        self.io.remove_file(path)

    # ------------------------------------------------------ schema evolution
    def _schema_commit(self, mutate, max_retries: int = 5) -> dict[str, Any]:
        """Metadata-only schema commit with the usual optimistic retry:
        ``mutate(schema, manifest) -> new_schema`` runs against the
        freshly-read manifest each attempt; everything else carries over
        (:func:`next_manifest`)."""

        def attempt(_: int) -> dict[str, Any]:
            man = self._manifest()
            public = T.StructType.fromJson(json.loads(man["schema"]))
            manifest = next_manifest(man, self._next_version(man),
                                     uuid.uuid4().hex, mutate(public, man))
            self._commit(manifest, parent=man["version"])
            return {"version": manifest["version"],
                    "snapshot_id": manifest["snapshot_id"]}

        return retrying(attempt, max_retries)

    def add_column(self, name: str, dtype: T.DataType) -> dict[str, Any]:
        """Explicit ADD COLUMN (metadata-only; the implicit path is merge
        schema evolution, which adds batch columns automatically). The new
        column reads NULL from every existing file and gets a fresh field
        id past the monotone counter."""

        def mutate(public: T.StructType, man: dict) -> T.StructType:
            if name in _RESERVED_COL_NAMES:
                raise DiffSyncSparkError(
                    f"{name!r} is a reserved engine column name"
                )
            if name in {f.name for f in public.fields}:
                raise DiffSyncSparkError(f"column {name!r} already exists")
            nid = _next_field_id(man)
            if nid > _MAX_USER_FIELD_ID:
                raise DiffSyncSparkError("field-id space exhausted")
            return T.StructType(public.fields + [
                T.StructField(name, dtype, True, {_FIELD_ID_KEY: nid})
            ])

        return self._schema_commit(mutate)

    def rename_column(self, old: str, new: str) -> dict[str, Any]:
        """Rename a payload column — METADATA-ONLY (the Iceberg
        ``RENAME COLUMN``): the column keeps its stable field id, so every
        already-written file resolves under the new name via parquet
        field-id resolution; zero data movement. Identifiers, version
        columns, and the bucketing key cannot rename (their names are the
        physical layout contract)."""
        protected = set(self.model.identifiers) | set(
            self.model.version_cols or ()
        ) | set(self.model.parent_key or ())
        if old in protected:
            raise DiffSyncSparkError(
                f"cannot rename {old!r}: identifier/version/bucketing "
                "columns are the physical layout contract"
            )

        def mutate(public: T.StructType, man: dict) -> T.StructType:
            names = {f.name for f in public.fields}
            if old not in names:
                raise DiffSyncSparkError(f"no column {old!r}")
            if new in names:
                raise DiffSyncSparkError(f"column {new!r} already exists")
            if new in _RESERVED_COL_NAMES:
                raise DiffSyncSparkError(
                    f"{new!r} is a reserved engine column name"
                )
            return T.StructType([
                T.StructField(new, f.dataType, f.nullable, f.metadata)
                if f.name == old else f
                for f in public.fields
            ])

        return self._schema_commit(mutate)

    def drop_column(self, name: str) -> dict[str, Any]:
        """Drop a payload column — METADATA-ONLY: files keep the bytes,
        readers prune them; a column later re-added by schema evolution
        gets a FRESH field id, so the dropped values never resurrect
        (Iceberg drop semantics, pinned by test)."""
        protected = set(self.model.identifiers) | set(
            self.model.version_cols or ()
        ) | set(self.model.parent_key or ())
        if name in protected:
            raise DiffSyncSparkError(
                f"cannot drop {name!r}: identifier/version/bucketing "
                "columns are the physical layout contract"
            )

        def mutate(public: T.StructType, man: dict) -> T.StructType:
            names = {f.name for f in public.fields}
            if name not in names:
                raise DiffSyncSparkError(f"no column {name!r}")
            return T.StructType(
                [f for f in public.fields if f.name != name]
            )

        return self._schema_commit(mutate)

    # -------------------------------------------------------------- branches
    def create_branch(self, name: str, version: int | None = None) -> int:
        """Cut a mutable named ref at ``version`` (default: this ref's
        head) — the Iceberg BRANCH analog, and the write half of
        write-audit-publish: ingest commits to the branch, validation
        queries read it, :meth:`publish` fast-forwards main only after the
        audit passes. Branch commits share the table's data layout, commit
        protocol, and version-number space (exclusive manifest create
        arbitrates across refs); only the pointer differs."""
        if not re.fullmatch(r"[A-Za-z0-9._\-]{1,128}", name) or name.startswith("."):
            raise DiffSyncSparkError(f"invalid branch name {name!r}")
        if version is None:
            version = self.current_version()
        self._manifest(version)  # raises if unknown/expired
        self.io.makedirs(self._branches_dir, exist_ok=True)
        try:
            self.io.write_exclusive(
                os.path.join(self._branches_dir, name), str(version)
            )
        except FileExistsError:
            raise DiffSyncSparkError(
                f"branch {name!r} already exists"
            ) from None
        return version

    def branch(self, name: str) -> "SnapshotTable":
        """A handle whose reads and commits target branch ``name``. All
        table operations (merge/compact/lookup/changes/history/...) work
        unchanged — they just follow the branch pointer."""
        if not self.io.exists(os.path.join(self._branches_dir, name)):
            raise DiffSyncSparkError(f"no branch {name!r}")
        t = type(self)(self.spark, self.path, self.model, io=self.io)
        t.ref = name
        return t

    def branch_version(self, name: str) -> int:
        path = os.path.join(self._branches_dir, name)
        if not self.io.exists(path):
            raise DiffSyncSparkError(f"no branch {name!r}")
        return self._read_pointer(path)

    def branches(self) -> dict[str, int]:
        if not self.io.exists(self._branches_dir):
            return {}
        return {
            n: self._read_pointer(os.path.join(self._branches_dir, n))
            for n in self.io.list_files(self._branches_dir)
            if not n.startswith(".")  # skip CAS .ptrlock sidecars
        }

    def delete_branch(self, name: str) -> None:
        """Drop the branch pointer AND purge the branch's successor tokens.
        Its commits' manifests stay on disk (retention/GC reclaims
        unpublished data in time); number allocation stays conflict-safe
        because any collision flips writers to global allocation.

        The token purge matters: tokens are keyed ``.next-<ref>-v<base>``,
        so recreating a branch with the same name at the same base (the
        documented audit-failure recovery) would otherwise hit the DELETED
        incarnation's stale token and the conflict handler would roll the
        fresh branch's pointer to the dead branch's head — resurrecting
        discarded data. Deleting a branch while its writers are still
        committing is undefined (a racing writer can mint a new token after
        the purge); quiesce the branch first."""
        path = os.path.join(self._branches_dir, name)
        if not self.io.exists(path):
            raise DiffSyncSparkError(f"no branch {name!r}")
        self.io.remove_file(path)
        tok_pat = re.compile(rf"\.next-{re.escape(name)}-v\d+")
        for f in self.io.list_files(self._manifest_dir):
            if tok_pat.fullmatch(f):
                self.io.remove_file(os.path.join(self._manifest_dir, f))
        self.io.remove_file(os.path.join(self._branches_dir, f".{name}.ptrlock"))

    def publish(
        self, name: str, delete_branch: bool = False, max_retries: int = 5
    ) -> dict[str, Any]:
        """The publish step of write-audit-publish: fast-forward MAIN to
        branch ``name``'s head as a METADATA-ONLY commit (no data files
        move — the new main manifest is the branch head's content under a
        fresh version number, Iceberg ``fastForward``). The branch head's
        checkpoint watermarks come along, so a replayed source batch stays
        exactly-once across the publish.

        Requires main to be an ancestor of the branch head: if main
        advanced past the branch point, raises :class:`CommitConflict`
        (the audit ran against a stale base — cut a fresh branch and
        re-ingest). Racing publishers/writers are arbitrated by the usual
        exclusive manifest create; a publish that lost the race but whose
        content already landed (same branch, same head) reports
        ``skipped``."""
        if self.ref != "main":
            raise DiffSyncSparkError("publish() must run on the main handle")

        def attempt(_: int) -> dict[str, Any]:
            head = self.branch_version(name)
            head_man = self._manifest(head)
            main_cur = self.current_version()
            if head == main_cur:
                return {"skipped": True, "version": main_cur}
            main_man = self._manifest(main_cur)
            pub = main_man.get("published_from")
            if pub and pub.get("branch") == name and pub.get("version") == head:
                return {"skipped": True, "version": main_cur}
            walk = self.chain(head, stop_after=main_cur)
            if walk.expired:
                # the ancestry between main and the branch head can no
                # longer be proven
                raise CommitConflict(
                    f"branch {name!r} (v{head}) ancestry to main v{main_cur} "
                    f"contains expired manifests — cannot verify "
                    f"fast-forward; cut a fresh branch and re-run the audit"
                )
            if not walk.versions or walk.end != main_cur:
                raise CommitConflict(
                    f"branch {name!r} (v{head}) does not descend from main "
                    f"v{main_cur}: cut a fresh branch and re-run the audit"
                )
            manifest = dict(head_man)
            manifest["version"] = self._next_version(head_man)
            manifest["snapshot_id"] = uuid.uuid4().hex
            manifest["parent_snapshot_id"] = main_man["snapshot_id"]
            manifest["published_from"] = {"branch": name, "version": head}
            manifest.pop("ref", None)
            self._commit(manifest, parent=main_cur)
            if delete_branch:
                self.delete_branch(name)
            return {
                "skipped": False,
                "version": manifest["version"],
                "from_branch": name,
                "branch_head": head,
                "snapshot_id": manifest["snapshot_id"],
            }

        return retrying(attempt, max_retries)

    def expire_snapshots(self, keep_last: int = 10) -> dict[str, Any]:
        """Drop manifests older than the newest ``keep_last`` versions and
        delete the data files ONLY they reference (Iceberg
        ``expire_snapshots``). Copy-on-write means old manifests share most
        files with newer ones — only the exclusively-referenced ones are
        deleted. Time travel to an expired version then raises; current
        reads, lineage (of retained versions), checkpoints, and incremental
        ``changes()`` between retained versions are unaffected.

        Main-handle only: version numbers are shared across refs, so a
        branch handle's (higher) head would compute a cutoff that sweeps
        past MAIN's current manifest and delete it — retention is a
        table-level admin operation, run it from the main ref."""
        if self.ref != "main":
            raise DiffSyncSparkError(
                "expire_snapshots() must run on the main handle (a branch "
                "head's version number would miscompute the cutoff)"
            )
        if keep_last < 1:
            raise DiffSyncSparkError("keep_last must be >= 1")
        cur = self.current_version()
        cutoff = cur - keep_last + 1
        if cutoff <= 1:
            return {"expired_versions": [], "removed_files": 0}
        def _all_files(man: dict):
            for fl in man["files"].values():
                yield from fl
            for layer in man.get("deltas") or []:
                for fl in layer["files"].values():
                    yield from fl

        # tagged snapshots and branch HEADS are retention-proof: their
        # manifests stay and their files count as referenced (Iceberg
        # tag/branch ref semantics; branch ancestors below the horizon do
        # expire — each manifest is self-contained, so the head stays
        # readable)
        tagged = set(self.tags().values()) | set(self.branches().values())
        keep_files: set[str] = set()
        keep_bm: set[str] = set()  # bm files kept manifests still reference
        for v in sorted(set(range(cutoff, cur + 1)) | tagged):
            try:
                man = self._manifest(v)
            except FileNotFoundError:
                continue  # tag pointing at an already-expired version
            keep_files.update(_all_files(man))
            for ref in (man.get("_files_src") or {}).values():
                keep_bm.add(ref.split("#", 1)[0])
            for layer in man.get("deltas") or []:
                if "_src" in layer:
                    keep_bm.add(layer["_src"][0].split("#", 1)[0])
        expired: list[int] = []
        n_removed = 0
        for v in range(1, cutoff):
            if v in tagged:
                continue
            try:
                man = self._manifest(v)
            except FileNotFoundError:
                continue  # already expired earlier
            for p in _all_files(man):
                if p not in keep_files:
                    self.io.remove_file(p)
                    n_removed += 1
            if man.get("quarantine_dir"):
                self.io.remove_dir(man["quarantine_dir"])
            self.io.remove_file(
                os.path.join(self._manifest_dir, f"v{v}.json")
            )
            expired.append(v)
        # successor tokens of expired bases serve no further arbitration
        for f in self.io.list_files(self._manifest_dir):
            if f.startswith(".next-"):
                try:
                    base = int(f.rsplit("-v", 1)[1])
                except (ValueError, IndexError):
                    continue
                if base < cutoff:
                    self.io.remove_file(os.path.join(self._manifest_dir, f))
        # bucket-manifest files are shared across commits by ref, so GC is
        # reference-based: old enough (an in-flight writer's bm is always
        # versioned >= current) AND unreferenced by every kept manifest
        for f in self.io.list_files(self._bm_dir):
            m = re.match(r"bm-v(\d+)-", f)
            if m and int(m.group(1)) < cutoff and f not in keep_bm:
                self.io.remove_file(os.path.join(self._bm_dir, f))
        return {"expired_versions": expired, "removed_files": n_removed}

def diff_to_batch(diff_df: DataFrame, model: ModelSchema) -> DataFrame:
    """Project a diff frame (op, before/after structs) into the changelog
    row shape a MERGE consumes: ``(key cols, op, payload cols)`` — the
    after-image for creates/updates, the before-image for deletes. Shared
    by ``apply_diff`` and the cascade's transform hook (``pipe_changes``),
    so both paths apply identical diff semantics."""
    actionable = diff_df.filter(F.col("op") != "noop")
    after_fields = [f.name for f in actionable.schema["after"].dataType.fields]
    before_fields = [f.name for f in actionable.schema["before"].dataType.fields]
    ids = list(model.identifiers)
    cols = [F.col(k) for k in ids] + [F.col("op")]
    for name in after_fields:
        cols.append(
            F.when(F.col("op") != "delete", F.col(f"after.{name}"))
            .otherwise(
                F.col(f"before.{name}") if name in before_fields else F.lit(None)
            )
            .alias(name)
        )
    return actionable.select(*cols)
