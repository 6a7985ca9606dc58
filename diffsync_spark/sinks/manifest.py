"""The manifest format and commit protocol of a :class:`SnapshotTable`.

Every writer and reader of a table goes through this module: the table
engine (``sinks/table.py``, whose ``SnapshotTable`` is a
:class:`ManifestLog`) and the ``diffsync_table`` DataSource, whose planning
runs in a Python worker with no SparkSession — so nothing here needs one.

On-disk format (``format_version`` 1)::

    table_dir/
      _current                        main's pointer: the live version
      branches/<name>                 a branch's pointer
      manifests/v{N}.json             snapshot manifests (exclusive-create)
      manifests/bm/bm-v{N}-{sid}.json the bucket-manifest ("bm") segments
                                      commit N wrote
      manifests/.next-<ref>-v{P}      successor tokens (commit arbitration)

A snapshot manifest never inlines its per-bucket file lists: that would
make every commit's metadata O(total live files). A commit writes ONE bm
file holding only the buckets it rewrote, and the manifest stores a REF
string per bucket (``"<bm-file>#<segment>"``); untouched buckets carry
their parent's ref forward, so commit metadata is O(touched buckets) — the
Iceberg manifest-list / manifest-file reuse shape. Delta layers
(merge-on-read) ref their own segment the same way; a layer partially
cleared by a bucket rewrite keeps its ref plus a small ``drop`` list.
Segments also carry per-file column stats (``stats``) for scan pruning.

The split is invisible above this seam: :meth:`ManifestLog.manifest`
HYDRATES refs into ``{bucket: [paths]}`` lists, and :meth:`_commit`
DEHYDRATES by identity — a bucket whose (cached, immutable) hydrated list
object is unchanged reuses its ref, anything else lands in the new
commit's bm file. Hydrated lists must therefore never be mutated in place;
manifest builders construct new dicts and lists.

Every commit stamps ``format_version``; the one reader refuses any other
value, as Iceberg readers refuse an unknown table ``format-version``.
"""

from __future__ import annotations

import json
import os
import re
import time
from typing import TYPE_CHECKING, Any, NamedTuple, Sequence

from diffsync_spark.errors import CommitConflict, DiffSyncSparkError
from diffsync_spark.sinks.arrow_read import FIELD_ID_KEY
from diffsync_spark.sinks.fsio import LocalCommitIO

if TYPE_CHECKING:
    from pyspark.sql import types as T

# the on-disk format this code writes and the only one it reads
FORMAT_VERSION = 1


def retrying(attempt, max_retries: int):
    """The one optimistic-concurrency loop of every commit: run
    ``attempt(n)``, ``n`` the commit races lost so far, until it returns.
    Each attempt re-reads the current snapshot itself; after
    ``max_retries`` lost retries the last :class:`CommitConflict`
    propagates."""
    n = 0
    while True:
        try:
            return attempt(n)
        except CommitConflict:
            if n >= max_retries:
                raise
            n += 1


# durable table state: a commit carries these from its base snapshot unless
# it replaces them. Every other field describes the one commit that wrote it
# (ids, schema, lineage, quarantine_dir; only publish() sets published_from)
CARRIED = ("n_buckets", "write_mode", "bloom_cols", "model", "checkpoints",
           "files", "_files_src", "_file_stats", "deltas", "bucket_rows",
           "bucket_splits", "bucket_live_rows")


def next_manifest(
    base: dict,
    version: int,
    snapshot_id: str,
    schema: "T.StructType",
    checkpoint_id: str | None = None,
    batch_id: int | None = None,
    lineage: Sequence[dict] = (),
    quarantine_dir: str | None = None,
    new_stats: dict[str, dict[str, list]] | None = None,
    **replace: Any,
) -> dict:
    """The manifest of a commit on top of ``base``: the one place that
    knows which fields carry over (every data and DDL commit builds here;
    ``create`` has no base and ``publish`` takes the branch head's content).

    ``replace`` overrides :data:`CARRIED` fields; a ``None`` value drops
    the field, and an empty ``deltas`` list is left out. ``last_field_id``
    is the larger of the base's watermark and ``schema``'s field ids.
    ``batch_id`` advances ``checkpoint_id``'s exactly-once watermark, and
    ``new_stats`` adds the per-file stats of the files this commit wrote
    (only referenced files' stats serialize, see
    :meth:`ManifestLog._dehydrate`)."""
    man = {
        "version": version,
        "snapshot_id": snapshot_id,
        "parent_snapshot_id": base["snapshot_id"],
        "schema": schema.json(),
        "last_field_id": max(
            base["last_field_id"],
            max((f.metadata[FIELD_ID_KEY] for f in schema.fields), default=0),
        ),
        "lineage": list(lineage),
        "quarantine_dir": quarantine_dir,
    }
    for k in CARRIED:
        v = replace[k] if k in replace else base.get(k)
        if v is not None and (v or k != "deltas"):
            man[k] = v
    if batch_id is not None:
        man["checkpoints"] = {**man["checkpoints"], checkpoint_id: batch_id}
    if new_stats:
        man["_file_stats"] = {**(man.get("_file_stats") or {}), **new_stats}
    return man


class Chain(NamedTuple):
    """One walk down a ref's parent links (:meth:`ManifestLog.chain`)."""

    versions: list[int]  # head first; each had a readable manifest
    # the first version NOT walked: the walk's stop version when the head
    # descends from it, a lower one when the chain jumps past it, 0 past
    # the root — or, with ``expired``, a version whose manifest is gone
    end: int
    expired: bool


class ManifestLog:
    """One table's snapshot manifests on a :class:`LocalCommitIO`: the
    version pointer of a ref, the hydrated manifest read, the parent-chain
    walk and the commit protocol that writes them."""

    def __init__(self, path: str, io: LocalCommitIO | None = None):
        self.path = path.rstrip("/")
        # all non-Spark I/O (manifests, pointer, file listing) goes through
        # this seam — swap for an object-store/catalog backend (fsio.py)
        self.io = io or LocalCommitIO()
        # which ref this handle's commits advance: "main" (the _current
        # pointer) or a branch name (branches/<name>)
        self.ref = "main"
        # flips to True after any commit conflict: from then on version
        # numbers are allocated past EVERY existing manifest, so a retry
        # can never ping-pong on a number another ref's writer took
        self._alloc_global = False
        # cached max version number seen across ALL refs (None = never
        # listed); see _next_version
        self._version_floor = None
        # bm segment cache (ref string -> parsed segment) and drop-filtered
        # layer views ((ref, drop) -> dict); bm files are immutable so both
        # caches never invalidate — see _load_seg
        self._bm_cache: dict[str, dict] = {}
        self._bm_view_cache: dict[tuple, dict] = {}

    @property
    def _manifest_dir(self) -> str:
        return os.path.join(self.path, "manifests")

    @property
    def _bm_dir(self) -> str:
        return os.path.join(self._manifest_dir, "bm")

    @property
    def _current_path(self) -> str:
        if self.ref == "main":
            return os.path.join(self.path, "_current")
        return os.path.join(self._branches_dir, self.ref)

    @property
    def _branches_dir(self) -> str:
        return os.path.join(self.path, "branches")

    # ------------------------------------------------------------------ read
    def _read_pointer(self, path: str) -> int:
        """The version a pointer file names (``_current``, a branch or a
        tag): the one parse of the pointer format."""
        return int(self.io.read_text(path).strip())

    def current_version(self) -> int:
        return self._read_pointer(self._current_path)

    def stored_manifest(self, version: int | None = None) -> dict:
        """The manifest of ``version`` (default: this ref's current one) as
        stored — bm refs unresolved. Raises ``FileNotFoundError`` for an
        unknown or expired version and :class:`DiffSyncSparkError` for a
        manifest of another ``format_version``."""
        if version is None:
            version = self.current_version()
        man = json.loads(self.io.read_text(
            os.path.join(self._manifest_dir, f"v{version}.json")))
        found = man.get("format_version")
        if found != FORMAT_VERSION:
            raise DiffSyncSparkError(
                f"manifest v{version} of the table at {self.path} has "
                f"format_version {found!r}; this reader reads only "
                f"format_version {FORMAT_VERSION}"
            )
        return man

    def manifest(self, version: int | None = None) -> dict:
        """The manifest of ``version`` (default: this ref's current one)
        with every bm ref resolved: ``files`` and each layer's ``files``
        are ``{bucket: [paths]}``, ``_file_stats`` maps a path to its
        column stats."""
        return self._hydrate(self.stored_manifest(version))

    def chain(self, head: int, stop_after: int = 0) -> Chain:
        """Walk the parent links from ``head`` down to (excluding)
        ``stop_after``. The root manifest has no ``parent`` (``create``
        commits with none), so a full walk ends at 0; a walk that meets
        an expired manifest ends there (see :class:`Chain`)."""
        versions: list[int] = []
        v = head
        while v > stop_after:
            try:
                man = self.stored_manifest(v)
            except FileNotFoundError:
                return Chain(versions, v, True)
            versions.append(v)
            v = man.get("parent", 0)
        return Chain(versions, v, False)

    def _load_seg(self, ref: str) -> dict:
        """Parse (once, cached — bm files are immutable) the bm segment a
        ref names: ``{"files": {bucket: [paths]}, "stats": {...}?}``."""
        seg = self._bm_cache.get(ref)
        if seg is None:
            fname = ref.split("#", 1)[0]
            data = json.loads(
                self.io.read_text(os.path.join(self._bm_dir, fname)))
            for sid, s in data["segments"].items():
                self._bm_cache.setdefault(f"{fname}#{sid}", s)
            seg = self._bm_cache[ref]
        return seg

    def _hydrate(self, man: dict) -> dict:
        """Resolve bm refs into per-bucket file lists. ``_files_src`` /
        per-layer ``_src`` record where each hydrated list came from so
        :meth:`_dehydrate` can reuse refs (keys starting with ``_`` never
        serialize)."""
        src = man["files"]
        man["files"] = {b: self._load_seg(ref)["files"][b]
                        for b, ref in src.items()}
        man["_files_src"] = src
        stats: dict[str, dict] = {}
        for ref in dict.fromkeys(src.values()):
            stats.update(self._load_seg(ref).get("stats") or {})
        for layer in man.get("deltas") or []:
            ref = layer["files"]
            drop = tuple(sorted(layer.pop("drop", ())))
            seg = self._load_seg(ref)
            view = self._bm_view_cache.get((ref, drop))
            if view is None:
                dropped = set(drop)
                view = {b: fl for b, fl in seg["files"].items()
                        if b not in dropped}
                self._bm_view_cache[(ref, drop)] = view
            layer["files"] = view
            layer["_src"] = [ref, list(drop)]
            stats.update(seg.get("stats") or {})
        if stats:
            man["_file_stats"] = stats
        return man

    # ----------------------------------------------------------------- write
    def _dehydrate(self, manifest: dict) -> tuple[dict, dict | None, str]:
        """Split a hydrated manifest into (serializable manifest, bm payload
        or None, bm file name): buckets/layers whose hydrated list objects
        are unchanged keep their parent's ref; everything else becomes a
        segment of this commit's single new bm file."""
        fname = (f"bm-v{manifest['version']}-"
                 f"{str(manifest['snapshot_id'])[:12]}.json")
        stats = manifest.get("_file_stats") or {}
        segments: dict[str, dict] = {}

        def _seg(seg_id: str, fl: dict) -> str:
            st = {p: stats[p] for flist in fl.values() for p in flist
                  if p in stats}
            segments[seg_id] = {"files": fl, **({"stats": st} if st else {})}
            return f"{fname}#{seg_id}"

        src = manifest.get("_files_src") or {}
        files_ser: dict[str, Any] = {}
        new_base: dict[str, list] = {}
        for b, fl in manifest["files"].items():
            ref = src.get(b)
            if ref is not None:
                seg = self._bm_cache.get(ref)
                if seg is not None and seg["files"].get(b) is fl:
                    files_ser[b] = ref
                    continue
            new_base[b] = fl
        if new_base:
            base_ref = _seg("base", new_base)
            for b in new_base:
                files_ser[b] = base_ref
        deltas_ser = []
        for i, layer in enumerate(manifest.get("deltas") or []):
            lf = layer["files"]
            ser = {k: v for k, v in layer.items()
                   if k != "files" and not k.startswith("_")}
            s = layer.get("_src")
            if s:
                full = self._bm_cache.get(s[0])
                if full is not None and all(
                    full["files"].get(b) is fl for b, fl in lf.items()
                ):
                    drop = sorted(b for b in full["files"] if b not in lf)
                    deltas_ser.append({**ser, "files": s[0],
                                       **({"drop": drop} if drop else {})})
                    continue
            deltas_ser.append({**ser, "files": _seg(f"d{i}", lf)})
        out = {k: v for k, v in manifest.items() if not k.startswith("_")}
        out["files"] = files_ser
        if "deltas" in out:
            out["deltas"] = deltas_ser
        return out, ({"segments": segments} if segments else None), fname

    def _next_version(self, man: dict) -> int:
        """Next snapshot number for a commit on top of ``man``. Version
        numbers are a SINGLE space shared by main and every branch (the
        exclusive manifest create arbitrates); when branches exist (or a
        conflict proved another writer is active), allocate past every
        manifest on disk so two refs' writers can't fight over a number.

        The manifest-dir listing is CACHED: it runs on this handle's first
        branched allocation and again only after a CommitConflict proved
        the cached floor stale — steady-state commits pay no listing."""
        nxt = man["version"] + 1
        branched = self.ref != "main" or (
            self.io.exists(self._branches_dir)
            and any(not f.startswith(".")  # ignore CAS .ptrlock sidecars
                    for f in self.io.list_files(self._branches_dir))
        )
        if branched or self._alloc_global or self._version_floor is not None:
            if self._version_floor is None or self._alloc_global:
                taken = [
                    int(f[1:-5])
                    for f in self.io.list_files(self._manifest_dir)
                    if re.fullmatch(r"v\d+\.json", f)
                ]
                self._version_floor = max(taken, default=0)
                self._alloc_global = False
            nxt = max(nxt, self._version_floor + 1)
            self._version_floor = nxt  # claim it for this handle
        return nxt

    def _commit(self, manifest: dict, parent: int | None = None) -> None:
        """Write the manifest with exclusive-create (conflict detection), then
        atomically swing this ref's pointer (main's ``_current`` or the
        branch file). On a real object store this would be a
        metastore/catalog swap; locally os.replace is atomic.

        ``parent`` records the numeric base version — needed because branch
        commits and publishes make version numbers jump, so ``version - 1``
        is not always the parent. Only ``create`` commits without one.

        **Arbitration is on the PARENT, not the version number**: before
        writing the manifest, the committer claims the per-ref SUCCESSOR
        TOKEN ``.next-<ref>-v<parent>`` with an exclusive create — only
        one successor of a given base can ever commit on a ref, no matter
        what version numbers the writers allocated. (Number-collision
        arbitration alone is insufficient once numbers can diverge: two
        same-ref writers holding different numbers would both commit, and
        the later full-listing manifest would silently drop the earlier
        writer's files.) Crash recovery: a token whose manifest exists but
        whose pointer never swung is ROLLED FORWARD by the next conflicting
        writer; a token whose manifest never appeared is reaped after a
        staleness horizon.

        Raises :class:`CommitConflict` when another writer claimed the
        successor slot (or the version number) first — ``merge()``/
        ``compact()`` catch it and rebase against the new snapshot
        (optimistic concurrency, the Iceberg commit loop)."""
        version = manifest["version"]
        manifest["format_version"] = FORMAT_VERSION
        if parent is not None:
            manifest["parent"] = parent
        if self.ref != "main":
            manifest["ref"] = self.ref
        # commit wall clock (epoch micros) — the single choke point stamps
        # every snapshot (create/merge/compact/expire), enabling
        # version_as_of()/read_as_of() wall-clock time travel
        now_us = time.time_ns() // 1_000
        manifest["committed_at"] = now_us
        token = (
            os.path.join(self._manifest_dir, f".next-{self.ref}-v{parent}")
            if parent is not None else None
        )
        if token is not None:
            try:
                self.io.write_exclusive(token, f"{version} {now_us}")
            except FileExistsError as e:
                self._handle_taken_token(token, parent)
                self._alloc_global = True
                raise CommitConflict(
                    f"v{parent} already has a committed successor on "
                    f"ref {self.ref!r}"
                ) from e
        # serialize incrementally: newly-written buckets/layers go to ONE
        # bm file (O(touched) metadata), everything else stays a ref
        ser, bm_payload, bm_fname = self._dehydrate(manifest)
        bm_path = os.path.join(self._bm_dir, bm_fname)
        if bm_payload is not None:
            self.io.makedirs(self._bm_dir)
            self.io.write_atomic(bm_path, json.dumps(bm_payload))

        def _abort_bm() -> None:
            if bm_payload is not None:
                self.io.remove_file(bm_path)

        target = os.path.join(self._manifest_dir, f"v{version}.json")
        try:
            self.io.write_exclusive(target, json.dumps(ser, default=str))
        except FileExistsError as e:
            # number taken by ANOTHER ref's writer: release our successor
            # slot (we are aborting) and rebase with a fresh number
            if token is not None:
                self.io.remove_file(token)
            _abort_bm()
            self._alloc_global = True
            raise CommitConflict(
                f"snapshot v{version} already committed by a concurrent writer"
            ) from e
        if parent is None:
            # table create: the pointer doesn't exist yet, nothing to race
            self.io.write_atomic(self._current_path, str(version))
            return
        # ---- fenced pointer swing. The staleness reap makes the successor
        # token a LEASE, not a lock: a writer stalled past _TOKEN_STALE_US
        # between token claim and manifest write (GC pause, object-store
        # retry storm) can have its token reaped and a second successor of
        # the same parent committed. Re-read the token immediately before
        # the swing and abort if it no longer names this writer's version —
        # the manifest we just wrote is removed so no later roll-forward
        # can resurrect it. (Residual window: a reap between this check and
        # the CAS below; the CAS then fails closed because the pointer has
        # moved, or the chain check catches it.)
        try:
            tok_winner = int(self.io.read_text(token).split()[0])
        except (FileNotFoundError, ValueError, IndexError):
            tok_winner = None
        if tok_winner != version:
            self.io.remove_file(target)
            _abort_bm()
            self._alloc_global = True
            raise CommitConflict(
                f"successor token for v{parent} on ref {self.ref!r} was "
                f"reaped while this writer stalled — another successor may "
                f"have committed; rebase and retry"
            )
        # CAS, not a blind replace: the pointer must still be at `parent`.
        # If it moved, the ONLY legitimate mover is a crash roll-forward of
        # THIS commit (a conflicting writer saw token+manifest and swung it
        # for us, possibly with further commits already on top) — verify by
        # walking the ref's chain back to parent; our version being in it
        # means we are committed. Anything else is a protocol violation →
        # conflict, fail closed.
        if not self.io.compare_and_swap(
            self._current_path, str(parent), str(version)
        ):
            cur = self.current_version()
            if cur != version and version not in self.chain(
                cur, stop_after=parent
            ).versions:
                self.io.remove_file(target)
                self.io.remove_file(token)
                _abort_bm()
                self._alloc_global = True
                raise CommitConflict(
                    f"ref {self.ref!r} moved off v{parent} without adopting "
                    f"v{version} — concurrent successor won; rebase and retry"
                )

    # how long an orphaned successor token (writer died between claiming
    # the slot and writing its manifest) blocks the slot before the next
    # writer reaps it; long enough that a LIVE writer's microsecond
    # token→manifest gap can never be mistaken for a corpse
    _TOKEN_STALE_US = 60_000_000

    def _handle_taken_token(self, token: str, parent: int) -> None:
        """A successor slot was already claimed. Recover the two crash
        shapes: (a) winner wrote its manifest but died before the pointer
        swing → complete the swing; (b) winner died before writing any
        manifest → after the staleness horizon, reap the token so the slot
        frees up. Everything else is a plain conflict (the caller rebases
        and will see the winner's commit)."""
        try:
            txt = self.io.read_text(token).split()
            winner, t_us = int(txt[0]), int(txt[1])
        except (FileNotFoundError, ValueError, IndexError):
            return
        try:
            cur = self.current_version()
        except FileNotFoundError:
            return
        if cur != parent:
            return  # the winner's swing already happened; normal conflict
        wpath = os.path.join(self._manifest_dir, f"v{winner}.json")
        if self.io.exists(wpath):
            # crashed between manifest write and pointer swing: roll the
            # winner forward so the ref isn't stuck on a committed-but-
            # unpublished snapshot. CAS, not a blind replace — between the
            # cur==parent check above and this write the live winner (or a
            # successor of it) may have advanced the pointer, and a blind
            # replace would move the ref BACKWARDS past committed
            # snapshots. If the pointer moved, the roll-forward already
            # happened (or is moot) — skip.
            self.io.compare_and_swap(
                self._current_path, str(parent), str(winner)
            )
        elif time.time_ns() // 1_000 - t_us > self._TOKEN_STALE_US:
            # the winner never produced a manifest and is long dead —
            # free the slot (a live writer's token is microseconds old)
            self.io.remove_file(token)

    # ------------------------------------------- metadata-only commit rebase
    #
    # Losing a commit race does NOT have to mean recomputing the merge. The
    # data files a losing attempt wrote are a pure function of (its batch,
    # the touched buckets' state in its base snapshot): if the winner chain
    # provably did not change those buckets — identical file lists, identical
    # delta layers, identical schema — the files are still exactly the rows
    # a serial execution would have produced, and the loser only needs a NEW
    # MANIFEST on top of the winner (Iceberg's validation-based retry,
    # recast for hash buckets). At 100 TB this is the difference between
    # concurrent disjoint writers (multi-stream ingest into different key
    # ranges, targeted compaction racing an ingest stream) serializing on
    # METADATA — microseconds — versus re-running a bucket-rewrite job per
    # conflict. Overlapping writers still take the full recompute path.

    def _rebase_ok(self, parent: dict, cur: dict, touched: list[int],
                   checkpoint_id: str | None = None,
                   batch_id: int | None = None) -> bool:
        """May a commit computed against ``parent`` that touched exactly
        ``touched`` buckets be re-committed on top of ``cur`` without
        recomputation? Conservative: any doubt → False (full recompute).

        The serializability argument: rebasing picks the "loser committed
        first" linearization of two concurrent commits. That is sound iff
        the loser's output is bit-identical under either order, which the
        bucket-disjointness checks below guarantee — the winner never read
        or wrote the loser's buckets, and vice versa (the winner committed
        without seeing ours at all). MoR layer ordering stays monotone per
        bucket: a rebased layer's physical ``__commit`` stamp X exceeds
        every earlier layer in its buckets (they are all <= our base
        version < X) and every later layer allocates past our manifest
        version Y > X."""
        if cur["version"] == parent["version"]:
            return False  # pointer never moved (stale token) — nothing to rebase onto
        if batch_id is not None and checkpoint_id is not None and (
            cur["checkpoints"].get(checkpoint_id, -1) >= batch_id
        ):
            return False  # a twin already committed this very batch → skip path
        if any(cur[k] != parent[k] for k in
               ("n_buckets", "write_mode", "schema", "last_field_id")):
            return False  # rebucket, or the winner evolved the schema

        def _layers_on(man: dict, b: str) -> list[tuple[int, list[str]]]:
            return [
                (layer["commit"], layer["files"][b])
                for layer in man.get("deltas") or []
                if b in layer["files"]
            ]

        for bk in touched:
            b = str(bk)
            if cur["files"].get(b) != parent["files"].get(b):
                return False  # winner rewrote/compacted one of our buckets
            if _layers_on(cur, b) != _layers_on(parent, b):
                return False  # winner layered onto one of our buckets
            if (cur.get("bucket_splits", {}).get(b)
                    != parent.get("bucket_splits", {}).get(b)):
                return False
        return True

    def _commit_with_rebase(
        self,
        build,
        man: dict,
        version: int,
        touched: list[int],
        checkpoint_id: str | None = None,
        batch_id: int | None = None,
        max_rebases: int = 5,
    ) -> tuple[dict, int]:
        """Commit ``build(man, version)``; on losing the race, retry
        metadata-only against each successive winner while
        :meth:`_rebase_ok` holds (the data files already written under the
        original attempt's unique dir are referenced as-is — dir names keep
        the original version tag, which GC and readers never interpret).
        Returns ``(committed manifest, n_metadata_rebases)``; re-raises
        :class:`CommitConflict` for the caller's full-recompute loop when
        the winner overlapped."""
        manifest = build(man, version)
        try:
            self._commit(manifest, parent=man["version"])
            return manifest, 0
        except CommitConflict:
            for attempt in range(1, max_rebases + 1):
                cur = self.manifest()
                if not self._rebase_ok(man, cur, touched,
                                       checkpoint_id, batch_id):
                    raise
                rebased = build(cur, self._next_version(cur))
                try:
                    self._commit(rebased, parent=cur["version"])
                    return rebased, attempt
                except CommitConflict:
                    continue  # another winner landed mid-rebase — re-read
            raise
