"""Engine facade — the reference's ``Adapter`` API surface, Spark-native.

A user of networktocode/diffsync drives everything through an ``Adapter``:
``load / dict / str / diff_from / diff_to / sync_from / sync_to /
sync_complete / get / get_all / get_by_uids / get_or_none / add / update /
remove / count`` (``/root/reference/diffsync/__init__.py:431-913``). This
class exposes the same verbs over a DataFrame source and a SnapshotTable
destination, so a reference user can port call-site by call-site; each verb
delegates to the set-based operator documented in SURVEY.md §2.

Per-record mutation verbs (add/update/remove) exist for API parity but are
driver-side conveniences over one-row MERGEs — the scale path is always a
batched ``sync_from``/``merge``.
"""

from __future__ import annotations

from typing import Any, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from diffsync_spark.errors import DiffClassMismatch, ObjectAlreadyExists
from diffsync_spark.flags import DiffFlags
from diffsync_spark.metrics import ProgressCallback, log_merge, observe_diff, report_progress
from diffsync_spark.model import ModelSchema
from diffsync_spark.operators import store_ops
from diffsync_spark.operators.diff import diff, diff_summary, has_diffs
from diffsync_spark.sinks.table import SnapshotTable
from diffsync_spark.sources.io import diff_str, to_nested_dict


# A sync without a precomputed diff runs as one snapshot merge when the
# table's latest commit changed at least this share of its rows. That merge
# reads the table once but writes every bucket and keeps only the changed
# ones; diff + apply reads it three times and writes only the changed
# buckets, so it is the cheaper one when few buckets change.
SNAPSHOT_SYNC_MIN_SHARE = 0.5


class Engine:
    """Keyed compare-and-sync over a SnapshotTable destination."""

    def __init__(self, spark: SparkSession, model: ModelSchema, table: SnapshotTable):
        self.spark = spark
        self.model = model
        self.table = table

    # ------------------------------------------------------------ adapters
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        model: ModelSchema,
        schema,
        n_buckets: int = 64,
    ) -> "Engine":
        return cls(spark, model, SnapshotTable.create(spark, path, model, schema,
                                                      n_buckets))

    @classmethod
    def load(cls, spark: SparkSession, path: str, model: ModelSchema) -> "Engine":
        """Reference ``Adapter.load`` (``__init__.py:532-534``) — attach to an
        existing destination table."""
        return cls(spark, model, SnapshotTable.load(spark, path, model))

    # --------------------------------------------------------------- reads
    def read(self) -> DataFrame:
        return self.table.read()

    def get(self, key: Sequence[Any]) -> dict:
        # bucket-pruned path: the manifest restricts the scan to the key's
        # single bucket (table.lookup), instead of filtering a full read
        row = self.table.lookup(key)
        if row is None:
            from diffsync_spark.errors import ObjectNotFound

            raise ObjectNotFound(f"{self.model.name} {tuple(key)!r} not found")
        return row

    def get_or_none(self, key: Sequence[Any]) -> dict | None:
        return self.table.lookup(key)

    def get_all(self) -> DataFrame:
        return store_ops.get_all(self.read(), self.model)

    def get_by_uids(self, keys: Sequence[Sequence[Any]]) -> DataFrame:
        # bucket/slot-pruned path: lookup_many restricts the scan to the
        # key set's file sets before store_ops applies the reference
        # semantics (request order preserved, raise on any missing)
        kdf = self.spark.createDataFrame(
            [tuple(k) for k in keys], list(self.model.identifiers)
        )
        return store_ops.get_by_uids(
            self.table.lookup_many(kdf), self.model, keys
        )

    def count(self) -> int:
        # manifest-metadata count (live counts ride every merge's write
        # job) — O(buckets) on the driver instead of a table scan
        return self.table.count_rows()

    def __len__(self) -> int:
        return self.count()

    def dict(self, max_rows: int = 100_000) -> dict:
        return to_nested_dict(self.read(), self.model, max_rows)

    # ---------------------------------------------------------------- diff
    def diff_from(self, source: DataFrame, flags: DiffFlags = DiffFlags(),
                  ignore: Column | None = None,
                  on_complete=None) -> DataFrame:
        """Ops that would bring THIS table to the source's state
        (reference ``diff_from``, ``__init__.py:673-696``).

        ``on_complete(diff_df)`` is the reference's ``Diff.complete()``
        extension point (``diff.py:49-54``): a hook fired once the diff
        plan is built, e.g. to persist the diff frame for audit. It
        receives the (lazy) DataFrame — write it or observe it; the hook
        deciding to materialize is what makes the cost explicit."""
        d = diff(source, self.read(), self.model, flags, ignore)
        if on_complete is not None:
            on_complete(d)
        return d

    def diff_to(self, target: DataFrame, flags: DiffFlags = DiffFlags(),
                ignore: Column | None = None) -> DataFrame:
        """Mirror image (reference ``diff_to``, ``__init__.py:698-720``)."""
        return diff(self.read(), target, self.model, flags, ignore)

    def diff_summary(self, source: DataFrame,
                     flags: DiffFlags = DiffFlags()) -> dict:
        row = diff_summary(self.diff_from(source, flags)).first()
        return row.asDict()

    # ---------------------------------------------------------------- sync
    def _validate_diff_frame(self, diff_df: DataFrame) -> None:
        """Raise :class:`DiffClassMismatch` when a precomputed diff frame was
        not built by :func:`diff` for THIS model — the reference's
        ``diff_class`` guard (``__init__.py:598-604``) re-expressed as a
        schema contract (a DataFrame's "class" is its schema)."""
        expected = set(self.model.identifiers) | {"op", "changed_cols", "before", "after"}
        missing = expected - set(diff_df.columns)
        if missing:
            raise DiffClassMismatch(
                f"precomputed diff frame is missing {sorted(missing)} — "
                f"expected a diff over model {self.model.name!r} with "
                f"identifiers {self.model.identifiers}"
            )

    def sync_from(
        self,
        source: DataFrame,
        flags: DiffFlags = DiffFlags(),
        diff_df: DataFrame | None = None,
        batch_id: int | None = None,
        checkpoint_id: str = "sync",
        callback: ProgressCallback | None = None,
    ) -> dict:
        """Make this table equal ``source`` — reference ``sync_from`` incl.
        the ``diff=`` reuse parameter and the progress ``callback``
        (``__init__.py:577-644``, ``helpers.py:62-67``). Fires
        :meth:`sync_complete` when anything changed (``__init__.py:616-618``).

        Without ``diff_df`` the path is picked from the table's latest
        commit (:meth:`SnapshotTable.last_change_share`). When it changed
        at least :data:`SNAPSHOT_SYNC_MIN_SHARE` of the rows, the sync is
        one snapshot merge (``SnapshotTable.merge(mode="snapshot")``): the
        source joined once against the stored rows, every bucket written
        and the unchanged ones discarded. The diff frame is then built
        (never run here) only for a consumer: the ``log_unchanged_records``
        flag or a :meth:`sync_complete` override, and the callback's totals
        come from the write's own observation. Otherwise (a sparse last
        commit, or a table with no rows) the diff is computed and applied
        as a force merge (:meth:`SnapshotTable.apply_diff`), which writes
        only the changed buckets.

        With ``diff_df`` (a precomputed diff; raises
        :class:`DiffClassMismatch` for a foreign one) the diff is applied
        as a force merge."""
        share = None if diff_df is not None else self.table.last_change_share()
        obs = None
        if share is not None and share >= SNAPSHOT_SYNC_MIN_SHARE:
            # built before the merge, so it compares against the snapshot
            # the sync started from
            wants_diff = (
                (flags.log_unchanged_records and flags.keep_noop)
                or type(self).sync_complete is not Engine.sync_complete
            )
            d = self.diff_from(source, flags) if wants_diff else None
            result = self.table.merge(source, checkpoint_id=checkpoint_id,
                                      batch_id=batch_id, mode="snapshot",
                                      flags=flags)
        else:
            if diff_df is not None:
                self._validate_diff_frame(diff_df)
                d = diff_df
            else:
                d = self.diff_from(source, flags)
            if callback is not None:
                d, obs = observe_diff(d)
            result = self.table.apply_diff(d, checkpoint_id=checkpoint_id,
                                           batch_id=batch_id)
        log_merge(result, self.table.path)
        if flags.log_unchanged_records and not result.get("skipped"):
            from diffsync_spark.metrics import log_unchanged_records, logger

            if flags.keep_noop:
                log_unchanged_records(d, self.model.identifiers)
            else:
                # keep_noop=False means the diff frame carries no noop rows
                # at all — scanning it would silently log nothing; say so
                # instead of paying a job to find zero rows
                logger.warning(
                    "log_unchanged_records requires keep_noop=True "
                    "(the diff frame has no unchanged rows to log)"
                )
        if callback is not None and not result.get("skipped"):
            report_progress(callback, obs.get if obs is not None
                            else result["diff"])
        if not result.get("skipped") and (
            result.get("n_create", 0) + result.get("n_update", 0)
            + result.get("n_delete", 0) > 0
        ):
            self.sync_complete(source, d, flags, result)
        return result

    def sync_to(
        self,
        target: "Engine | SnapshotTable",
        flags: DiffFlags = DiffFlags(),
        diff_df: DataFrame | None = None,
        batch_id: int | None = None,
        checkpoint_id: str = "sync",
        callback: ProgressCallback | None = None,
    ) -> dict:
        """Push THIS table's state into ``target`` — the reference's
        symmetric pair ``sync_to(target) == target.sync_from(self)``
        (``__init__.py:622-644``)."""
        if isinstance(target, SnapshotTable):
            target = Engine(self.spark, self.model, target)
        return target.sync_from(self.read(), flags=flags, diff_df=diff_df,
                                batch_id=batch_id, checkpoint_id=checkpoint_id,
                                callback=callback)

    def sync_complete(self, source: DataFrame, diff_df: DataFrame,
                      flags: DiffFlags, result: dict) -> None:
        """Post-commit hook, signature-aligned with the reference's
        ``sync_complete(source, diff, flags, logger)``
        (``__init__.py:647-667``): same first three arguments; the
        reference's structlog ``logger`` maps to this engine's module logger
        (``diffsync_spark.metrics``), and ``result`` adds the commit record
        (snapshot id, op counts) a set-based sync has that a per-object walk
        does not. ``diff_df`` is the diff against the snapshot the sync
        started from; after a snapshot merge it is lazy and built only for
        an override (None when the default no-op runs). Default: no-op;
        subclass to export metrics, notify, etc."""

    def converged(self, source: DataFrame) -> bool:
        """True when re-diff after sync is empty (the reference's convergence
        test property, tests/unit/test_diffsync.py:576-583)."""
        return not has_diffs(self.diff_from(source))

    def str(self, source: DataFrame, limit: int = 50) -> str:
        return diff_str(self.diff_from(source), self.model, limit)

    # ------------------------------------- per-record verbs (parity only)
    def add(self, record: dict[str, Any], strict: bool = True) -> dict:
        """Insert one record; with ``strict``, raise ObjectAlreadyExists when
        a DIFFERENT record already holds the key, and no-op when the identical
        record does (reference ``store.add``, ``store/local.py:91-113``)."""
        key = [record[k] for k in self.model.identifiers]
        if strict:
            existing = self.get_or_none(key)
            if existing is not None:
                same = all(existing.get(k) == v for k, v in record.items())
                if same:
                    return {"skipped": True, "reason": "identical record"}
                raise ObjectAlreadyExists(
                    f"{self.model.name} {tuple(key)!r} already exists"
                )
        return self._one_row_merge(record, "insert")

    def update(self, record: dict[str, Any]) -> dict:
        """Unconditional single-record upsert (reference ``store.update``,
        ``store/local.py:115-128``)."""
        return self._one_row_merge(record, "upsert")

    def remove(self, key: Sequence[Any], remove_children: bool = False) -> dict:
        """Delete by key; optionally cascade to child rows sharing the parent
        key (reference ``store.remove``, ``store/__init__.py:84-116``)."""
        rec = self.get_or_none(key)
        if rec is None:
            return {"skipped": True, "reason": "not found"}
        if remove_children and self.model.parent_key:
            cond = F.lit(True)
            for c in self.model.parent_key:
                cond = cond & (F.col(c) == F.lit(rec[c]))
            return self.table.delete_where(cond)
        return self._one_row_merge(rec, "delete")

    def get_or_instantiate(self, record: dict[str, Any]) -> tuple[dict, bool]:
        """Reference ``get_or_instantiate`` (``store/__init__.py:141-183``):
        returns (record, created)."""
        key = [record[k] for k in self.model.identifiers]
        existing = self.get_or_none(key)
        if existing is not None:
            return existing, False
        self._one_row_merge(record, "insert")
        return record, True

    def update_or_instantiate(self, record: dict[str, Any]) -> tuple[dict, bool]:
        """Reference ``update_or_instantiate`` (``store/__init__.py:185-239``)."""
        key = [record[k] for k in self.model.identifiers]
        existing = self.get_or_none(key)
        self._one_row_merge(record, "upsert")
        return record, existing is None

    def _one_row_merge(self, record: dict[str, Any], op: str) -> dict:
        public = self.table.schema()
        row = {f.name: record.get(f.name) for f in public.fields}
        df = self.spark.createDataFrame([row], public).withColumn("op", F.lit(op))
        return self.table.merge(df, checkpoint_id="record_verbs", mode="force")
