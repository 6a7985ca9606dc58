"""Branches + write-audit-publish: branch isolation, shared version-number
space, fast-forward publish (metadata-only, checkpoint-preserving),
divergence detection, retention protection of branch heads."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from diffsync_spark.errors import DiffSyncSparkError
from diffsync_spark.fixtures import gen_source
from diffsync_spark.model import TRANSCRIPT_MODEL
from diffsync_spark.sinks.table import CommitConflict, SnapshotTable

IDS = ["conv_id", "turn_idx"]


def _table(spark, tmp_path, n_convs=30) -> SnapshotTable:
    df = spark.createDataFrame(gen_source(n_convs=n_convs, seed=7))
    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_MODEL,
        schema=df.schema, n_buckets=4,
    )
    t.merge(df.withColumn("op", F.lit("insert")), mode="force",
            checkpoint_id="boot", batch_id=0)
    return t


def _upsert_batch(spark, conv, turn, text, ts="2030-01-01 00:00:00"):
    import datetime

    dt = datetime.datetime.fromisoformat(ts)
    return spark.createDataFrame(
        [(conv, turn, "upsert", "assistant", text, None, dt)],
        "conv_id string, turn_idx int, op string, role string, "
        "text string, tool string, ts timestamp",
    )


def test_branch_isolation_and_publish(spark, tmp_path):
    t = _table(spark, tmp_path)
    base = t.current_version()
    t.create_branch("audit")
    br = t.branch("audit")

    res = br.merge(_upsert_batch(spark, "wap-conv", 0, "staged"),
                   checkpoint_id="ingest", batch_id=1)
    assert not res["skipped"]
    # branch advanced, main untouched
    assert br.current_version() > base
    assert t.current_version() == base
    assert br.read().filter("conv_id = 'wap-conv'").count() == 1
    assert t.read().filter("conv_id = 'wap-conv'").count() == 0

    # audit passed → publish: main fast-forwards, METADATA only (the main
    # manifest's files are exactly the branch head's)
    head = br.current_version()
    pub = t.publish("audit")
    assert not pub["skipped"] and pub["branch_head"] == head
    assert t.current_version() == pub["version"] > head
    assert t.read().filter("conv_id = 'wap-conv'").count() == 1
    assert t._manifest()["files"] == br._manifest(head)["files"]

    # checkpoint watermarks ride the publish: replaying the source batch
    # into MAIN is an exactly-once skip, not a double-apply
    again = t.merge(_upsert_batch(spark, "wap-conv", 0, "dup"),
                    checkpoint_id="ingest", batch_id=1)
    assert again["skipped"]

    # re-publishing the same head is a no-op
    assert t.publish("audit")["skipped"]


def test_publish_detects_divergence(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.create_branch("audit")
    br = t.branch("audit")
    br.merge(_upsert_batch(spark, "staged", 0, "x"),
             checkpoint_id="ingest", batch_id=1)
    # main advances past the branch point before the audit completes
    t.merge(_upsert_batch(spark, "hotfix", 0, "y"),
            checkpoint_id="hotfix", batch_id=1)
    with pytest.raises(CommitConflict):
        t.publish("audit")
    # the failed publish must not have moved main
    assert t.read().filter("conv_id = 'staged'").count() == 0


def test_shared_version_space_no_livelock(spark, tmp_path):
    """Main and branch writers share one number space: commits on both
    refs interleave without exhausting retries, and every version number
    is unique."""
    t = _table(spark, tmp_path)
    t.create_branch("b")
    br = t.branch("b")
    versions = [t.current_version()]
    for i in range(3):
        r1 = br.merge(_upsert_batch(spark, f"bc{i}", 0, "b"),
                      checkpoint_id="bb", batch_id=i + 1)
        r2 = t.merge(_upsert_batch(spark, f"mc{i}", 0, "m"),
                     checkpoint_id="mm", batch_id=i + 1)
        assert not r1["skipped"] and not r2["skipped"]
        versions += [br.current_version(), t.current_version()]
    assert len(set(versions)) == len(versions)
    # each ref's chain stays consistent: branch rows only on branch
    assert br.read().filter("conv_id like 'bc%'").count() == 3
    assert br.read().filter("conv_id like 'mc%'").count() == 0
    assert t.read().filter("conv_id like 'mc%'").count() == 3
    assert t.read().filter("conv_id like 'bc%'").count() == 0


def test_branch_history_and_lineage_follow_the_chain(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.create_branch("b")
    br = t.branch("b")
    br.merge(_upsert_batch(spark, "bc", 0, "b"), checkpoint_id="bb", batch_id=1)
    t.merge(_upsert_batch(spark, "mc", 0, "m"), checkpoint_id="mm", batch_id=1)
    bh = {r.version for r in br.history().collect()}
    mh = {r.version for r in t.history().collect()}
    assert br.current_version() in bh and br.current_version() not in mh
    assert t.current_version() in mh and t.current_version() not in bh
    assert bh & mh  # shared ancestry up to the branch point
    # lineage likewise scoped per ref
    assert {r.checkpoint_id for r in br.lineage_df().collect()} == {"boot", "bb"}
    assert {r.checkpoint_id for r in t.lineage_df().collect()} == {"boot", "mm"}


def test_expire_protects_branch_heads(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.create_branch("keep")
    br = t.branch("keep")
    br.merge(_upsert_batch(spark, "bc", 0, "b"), checkpoint_id="bb", batch_id=1)
    head = br.current_version()
    for i in range(6):  # push main far ahead
        t.merge(_upsert_batch(spark, f"m{i}", 0, "m"),
                checkpoint_id="mm", batch_id=i + 1)
    t.expire_snapshots(keep_last=2)
    # the branch head survives retention and stays readable
    assert br.read().filter("conv_id = 'bc'").count() == 1
    assert br.current_version() == head


def test_publish_delete_branch_and_errors(spark, tmp_path):
    t = _table(spark, tmp_path)
    with pytest.raises(DiffSyncSparkError):
        t.branch("nope")
    t.create_branch("once")
    with pytest.raises(DiffSyncSparkError):
        t.create_branch("once")
    br = t.branch("once")
    br.merge(_upsert_batch(spark, "bc", 0, "b"), checkpoint_id="bb", batch_id=1)
    with pytest.raises(DiffSyncSparkError):
        br.publish("once")  # publish only from the main handle
    t.publish("once", delete_branch=True)
    assert "once" not in t.branches()
    assert t.read().filter("conv_id = 'bc'").count() == 1


# ---------------------------------------------------------- pipe_aggregate
def _agg(df):
    return df.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias("max_ts_us"),
    )


def _rollup_pair(spark, tmp_path):
    from diffsync_spark.model import ModelSchema

    up = _table(spark, tmp_path, n_convs=20)
    model = ModelSchema(name="conv_rollup", identifiers=("conv_id",),
                        attributes=("n_turns", "max_ts_us"))
    import pyspark.sql.types as T
    down = SnapshotTable.create(
        spark, str(tmp_path / "rollup"), model,
        schema=T.StructType([
            T.StructField("conv_id", T.StringType()),
            T.StructField("n_turns", T.LongType()),
            T.StructField("max_ts_us", T.LongType()),
        ]),
        n_buckets=4,
    )
    return up, down


def test_pipe_aggregate_incremental_and_tombstones(spark, tmp_path):
    from diffsync_spark.streaming.replay import pipe_aggregate

    up, down = _rollup_pair(spark, tmp_path)
    r = pipe_aggregate(up, down, _agg, checkpoint_id="roll")
    assert len(r) == 1 and not r[0]["skipped"]  # bootstrap
    want = {x.conv_id: x.n_turns for x in _agg(up.read()).collect()}
    got = {x.conv_id: x.n_turns for x in down.read().collect()}
    assert got == want

    # add a turn to one conv, delete ANOTHER conv entirely
    victim = sorted(want)[0]
    grown = sorted(want)[1]
    up.merge(_upsert_batch(spark, grown, 999, "extra"),
             checkpoint_id="chg", batch_id=1)
    up.delete_where(F.col("conv_id") == victim, batch_id=2)

    r2 = pipe_aggregate(up, down, _agg, checkpoint_id="roll")
    assert len(r2) == 1  # one coalesced dirty hop, no re-bootstrap
    got2 = {x.conv_id: x.n_turns for x in down.read().collect()}
    assert victim not in got2                 # group tombstoned downstream
    assert got2[grown] == want[grown] + 1     # dirty group recomputed
    untouched = sorted(want)[2]
    assert got2[untouched] == want[untouched]  # clean groups untouched
    # downstream state equals a from-scratch aggregate at every point
    want2 = {x.conv_id: x.n_turns for x in _agg(up.read()).collect()}
    assert got2 == want2

    # idle re-run: nothing upstream → no new downstream commits
    v = down.current_version()
    pipe_aggregate(up, down, _agg, checkpoint_id="roll")
    assert down.current_version() == v


def test_pipe_aggregate_redelivered_hop_is_exactly_once(spark, tmp_path):
    from diffsync_spark.streaming.replay import pipe_aggregate

    up, down = _rollup_pair(spark, tmp_path)
    pipe_aggregate(up, down, _agg, checkpoint_id="roll")
    up.merge(_upsert_batch(spark, "newc", 0, "x"),
             checkpoint_id="chg", batch_id=1)
    pipe_aggregate(up, down, _agg, checkpoint_id="roll")
    # simulate a crash-and-replay: force the pipe to re-deliver the hop by
    # resuming from a stale version — the downstream's (checkpoint, batch)
    # metadata must skip it
    from diffsync_spark.streaming.replay import stream_changes
    stale = [h for h in stream_changes(up, from_version=1, max_idle_polls=1)]
    assert stale  # the hop exists
    r = down.merge(
        _agg(up.read()).withColumn("op", F.lit("upsert")), mode="force",
        checkpoint_id="roll", batch_id=up.current_version(),
    )
    assert r["skipped"]  # already applied under this (checkpoint, batch)


# ------------------------------------------------- review-fix regressions
def test_expire_refuses_branch_handle(spark, tmp_path):
    """A branch head's (higher) version number would sweep main's current
    manifest past the cutoff — retention is main-handle-only."""
    t = _table(spark, tmp_path, n_convs=10)
    t.create_branch("b")
    br = t.branch("b")
    for i in range(4):
        br.merge(_upsert_batch(spark, f"b{i}", 0, "x"),
                 checkpoint_id="bb", batch_id=i + 1)
    with pytest.raises(DiffSyncSparkError, match="main handle"):
        br.expire_snapshots(keep_last=2)
    # main stays fully readable
    assert t.read().count() > 0


def test_time_travel_never_resolves_to_branch_snapshots(spark, tmp_path):
    """version_as_of walks the ref's ancestry chain: an unpublished branch
    commit carrying an in-between version number must be invisible to
    main time travel (WAP isolation)."""
    import time as _time

    t = _table(spark, tmp_path, n_convs=10)
    t.create_branch("b")
    br = t.branch("b")
    br.merge(_upsert_batch(spark, "staged", 0, "x"),
             checkpoint_id="bb", batch_id=1)
    branch_head = br.current_version()
    _time.sleep(0.01)
    after_branch_commit_us = __import__("time").time_ns() // 1_000
    t.merge(_upsert_batch(spark, "mainrow", 0, "y"),
            checkpoint_id="mm", batch_id=1)
    # a timestamp between the branch commit and main's next commit must
    # resolve to main's OLD head, never the branch snapshot
    v = t.version_as_of(after_branch_commit_us)
    assert v != branch_head
    assert t.read(v).filter("conv_id = 'staged'").count() == 0
    # the branch handle still time-travels its own chain
    assert br.version_as_of(after_branch_commit_us) == branch_head


def test_ddl_rejects_reserved_names(spark, tmp_path):
    from pyspark.sql import types as T

    t = _table(spark, tmp_path, n_convs=5)
    for bad in ("_seq", "_deleted", "__commit", "_bucket", "__slot", "op"):
        with pytest.raises(DiffSyncSparkError, match="reserved"):
            t.add_column(bad, T.StringType())
        with pytest.raises(DiffSyncSparkError):
            t.rename_column("text", bad)
    # table still healthy
    assert t.read().count() > 0


def test_update_where_reevaluates_on_commit_conflict(spark, tmp_path):
    """A concurrent commit landing between update_where's read and its
    commit must NOT be overwritten by stale force rows: the predicate and
    assignments re-evaluate against the winner's snapshot."""
    from diffsync_spark.sinks.fsio import RacingCommitIO
    from diffsync_spark.fixtures import gen_source

    df = spark.createDataFrame(gen_source(n_convs=10, seed=7))
    path = str(tmp_path / "t")
    t_boot = SnapshotTable.create(
        spark, path, TRANSCRIPT_MODEL, schema=df.schema, n_buckets=2,
    )
    t_boot.merge(df.withColumn("op", F.lit("insert")), mode="force",
                 checkpoint_id="boot", batch_id=0)
    key = df.first()
    other = SnapshotTable.load(spark, path, TRANSCRIPT_MODEL)

    def interloper():
        # concurrent writer flips the row's text AFTER updater's read
        other.merge(_upsert_batch(spark, key.conv_id, key.turn_idx,
                                  "winner", ts="2032-01-01 00:00:00"),
                    checkpoint_id="w", batch_id=1)

    racing = SnapshotTable.load(
        spark, path, TRANSCRIPT_MODEL,
        io=RacingCommitIO(interloper, races=1),
    )
    racing.update_where(
        (F.col("conv_id") == key.conv_id)
        & (F.col("turn_idx") == key.turn_idx),
        set={"text": "concat(text, '!')"},
        batch_id=2,
    )
    row = t_boot.read().filter(
        (F.col("conv_id") == key.conv_id)
        & (F.col("turn_idx") == key.turn_idx)
    ).collect()[0]
    # the retry re-read the winner's text: result composes, not clobbers
    assert row.text == "winner!"


# --------------------------------------------- successor-token commit CAS
def test_commit_token_blocks_divergent_numbered_writers(spark, tmp_path):
    """Two same-ref writers holding DIFFERENT version numbers must still
    collide: arbitration is the per-ref successor token, not the number.
    (Regression for the lost-update bug where a second writer with a
    pre-claimed higher number committed a manifest that silently dropped
    the first writer's files.)"""
    t = _table(spark, tmp_path, n_convs=10)
    base = t.current_version()
    # a second handle whose allocator starts from a DIVERGED floor
    other = SnapshotTable.load(spark, str(tmp_path / "t"), TRANSCRIPT_MODEL)
    other._version_floor = base + 7
    r1 = t.merge(_upsert_batch(spark, "w1", 0, "a"),
                 checkpoint_id="c1", batch_id=1)
    r2 = other.merge(_upsert_batch(spark, "w2", 0, "b"),
                     checkpoint_id="c2", batch_id=1)
    assert not r1["skipped"] and not r2["skipped"]
    cur = t.read()
    # BOTH writers' rows present: the later commit rebased, not clobbered
    assert cur.filter("conv_id = 'w1'").count() == 1
    assert cur.filter("conv_id = 'w2'").count() == 1


def test_crashed_commit_rolls_forward(spark, tmp_path):
    """A writer that died between manifest write and pointer swing leaves
    a token + manifest; the next writer completes the swing and rebases
    on top of the recovered commit."""
    import json as _json
    import os as _os
    import time as _time

    t = _table(spark, tmp_path, n_convs=10)
    base = t.current_version()
    man = t.stored_manifest(base)
    ghost_v = base + 5
    ghost = {**man, "version": ghost_v, "parent": base,
             "snapshot_id": "ghost" + "0" * 27,
             "parent_snapshot_id": man["snapshot_id"]}
    mdir = t._manifest_dir
    t.io.write_exclusive(_os.path.join(mdir, f"v{ghost_v}.json"),
                         _json.dumps(ghost, default=str))
    t.io.write_exclusive(
        _os.path.join(mdir, f".next-main-v{base}"),
        f"{ghost_v} {_time.time_ns() // 1_000}",
    )
    assert t.current_version() == base  # the swing never happened
    r = t.merge(_upsert_batch(spark, "after-crash", 0, "x"),
                checkpoint_id="c", batch_id=1)
    assert not r["skipped"]
    assert t.current_version() > ghost_v        # committed ON TOP of ghost
    assert ghost_v in t.chain(t.current_version()).versions
    assert t.read().filter("conv_id = 'after-crash'").count() == 1


def test_stale_token_without_manifest_is_reaped(spark, tmp_path):
    """A writer that died before writing any manifest leaves only a stale
    token; once past the staleness horizon the slot frees up and commits
    proceed."""
    import os as _os

    t = _table(spark, tmp_path, n_convs=10)
    base = t.current_version()
    old_us = 1_000_000  # epoch 1970: ancient
    t.io.write_exclusive(
        _os.path.join(t._manifest_dir, f".next-main-v{base}"),
        f"{base + 9} {old_us}",
    )
    r = t.merge(_upsert_batch(spark, "alive", 0, "x"),
                checkpoint_id="c", batch_id=1)
    assert not r["skipped"]
    assert t.read().filter("conv_id = 'alive'").count() == 1


def test_deleted_branch_tokens_are_purged_no_resurrection(spark, tmp_path):
    """Recreating a branch with the same name at the same base (the
    documented audit-failure recovery) must start CLEAN: the deleted
    incarnation's successor tokens are purged by delete_branch, so the
    fresh branch's first commit can't be rolled forward onto the dead
    branch's head, resurrecting rejected data."""
    t = _table(spark, tmp_path, n_convs=10)
    base = t.current_version()
    t.create_branch("audit", version=base)
    br = t.branch("audit")
    br.merge(_upsert_batch(spark, "rejected-row", 0, "bad data"),
             checkpoint_id="ingest", batch_id=1)
    assert br.read().filter("conv_id = 'rejected-row'").count() == 1

    # audit fails → drop the branch, cut a fresh one at the SAME base
    t.delete_branch("audit")
    t.create_branch("audit", version=base)
    br2 = t.branch("audit")
    r = br2.merge(_upsert_batch(spark, "good-row", 0, "clean data"),
                  checkpoint_id="ingest2", batch_id=1)
    assert not r["skipped"]
    got = br2.read()
    assert got.filter("conv_id = 'good-row'").count() == 1
    # the dead incarnation's data must NOT reappear
    assert got.filter("conv_id = 'rejected-row'").count() == 0


def test_stale_roll_forward_cannot_move_pointer_backwards(spark, tmp_path):
    """_handle_taken_token's crash roll-forward is a CAS: if the live
    winner (or a successor) advanced the pointer between the helper's
    cur==parent check and its write, the stale roll-forward must NOT move
    the ref pointer backwards past already-committed snapshots."""
    import json as _json
    import os as _os
    import time as _time

    from diffsync_spark.sinks.fsio import LocalCommitIO

    t = _table(spark, tmp_path, n_convs=10)
    base = t.current_version()
    man = t._manifest(base)
    mdir = t._manifest_dir
    # the winner (base+5) committed AND a successor (base+6) landed on top
    for v, parent in ((base + 5, base), (base + 6, base + 5)):
        ghost = {**man, "version": v, "parent": parent,
                 "snapshot_id": f"g{v:031d}"}
        t.io.write_exclusive(_os.path.join(mdir, f"v{v}.json"),
                             _json.dumps(ghost, default=str))
    token = _os.path.join(mdir, f".next-main-v{base}")
    t.io.write_exclusive(token, f"{base + 5} {_time.time_ns() // 1_000}")
    t.io.write_atomic(t._current_path, str(base + 6))

    class StaleReadIO(LocalCommitIO):
        """First read of the pointer returns the STALE parent value —
        exactly the check-then-write window the CAS must close."""

        def __init__(self, cur_path: str, stale: str) -> None:
            self.cur_path, self.stale, self.used = cur_path, stale, False

        def read_text(self, path: str) -> str:
            if path == self.cur_path and not self.used:
                self.used = True
                return self.stale
            return super().read_text(path)

    # the constructor, not load(): load() reads the pointer itself and
    # would use up the one stale read
    stale = SnapshotTable(spark, str(tmp_path / "t"), TRANSCRIPT_MODEL,
                          io=StaleReadIO(t._current_path, str(base)))
    stale._handle_taken_token(token, base)
    # the pointer must still be at base+6 — NOT rolled back to base+5
    assert t.current_version() == base + 6


def test_reaped_token_fences_the_stalled_writer(spark, tmp_path):
    """A writer stalled past the staleness horizon between token claim and
    manifest write can have its token reaped and a second successor of the
    same parent committed. The stalled writer must detect the reap at the
    fence, remove its orphan manifest, and rebase — never double-commit
    one parent or swing the pointer onto an unarbitrated snapshot."""
    import json as _json
    import os as _os
    import time as _time

    from diffsync_spark.sinks.fsio import LocalCommitIO

    t = _table(spark, tmp_path, n_convs=10)
    base = t.current_version()
    mdir = t._manifest_dir
    token = _os.path.join(mdir, f".next-main-v{base}")
    cur_path = t._current_path
    usurper_v = base + 9

    class ReapingIO(LocalCommitIO):
        """On the stalled writer's manifest write (it already holds the
        token), simulate: the token aged out, was reaped, and a second
        successor of the same parent committed under a different number."""

        def __init__(self) -> None:
            self.fired = False

        def write_exclusive(self, path: str, text: str) -> None:
            name = _os.path.basename(path)
            if (not self.fired and name.startswith("v")
                    and name.endswith(".json")):
                self.fired = True
                man = _json.loads(
                    super().read_text(_os.path.join(mdir, f"v{base}.json")))
                usurper = {**man, "version": usurper_v, "parent": base,
                           "snapshot_id": "u" * 32,
                           "parent_snapshot_id": man["snapshot_id"]}
                super().remove_file(token)
                super().write_exclusive(
                    token, f"{usurper_v} {_time.time_ns() // 1_000}")
                super().write_exclusive(
                    _os.path.join(mdir, f"v{usurper_v}.json"),
                    _json.dumps(usurper, default=str))
                assert super().compare_and_swap(
                    cur_path, str(base), str(usurper_v))
            super().write_exclusive(path, text)

    stalled = SnapshotTable.load(spark, str(tmp_path / "t"),
                                 TRANSCRIPT_MODEL, io=ReapingIO())
    r = stalled.merge(_upsert_batch(spark, "stalled-writer", 0, "late"),
                      checkpoint_id="c", batch_id=1)
    # the merge retried (fence tripped) and converged on top of the usurper —
    # metadata-only, since the usurper provably changed no bucket
    assert not r["skipped"]
    assert r.get("commit_retries", 0) + r.get("metadata_rebases", 0) >= 1
    cur = t.current_version()
    assert usurper_v in t.chain(cur).versions
    # the stalled writer's first-attempt manifest was removed, not left as
    # a roll-forward-able orphan
    assert not t.io.exists(_os.path.join(mdir, f"v{base + 1}.json"))
    assert t.read().filter("conv_id = 'stalled-writer'").count() == 1


def test_publish_with_expired_ancestry_raises_commit_conflict(spark, tmp_path):
    """publish() over a chain with expired mid-ancestry manifests must
    raise a clear CommitConflict, not a raw FileNotFoundError."""
    import os as _os

    t = _table(spark, tmp_path, n_convs=10)
    t.create_branch("b")
    br = t.branch("b")
    for i in range(3):
        br.merge(_upsert_batch(spark, f"c{i}", 0, f"x{i}"),
                 checkpoint_id="ing", batch_id=i + 1)
    head = br.current_version()
    mid = int(br._manifest(head).get("parent", head - 1))
    t.io.remove_file(_os.path.join(t._manifest_dir, f"v{mid}.json"))
    with pytest.raises(CommitConflict, match="expired"):
        t.publish("b")


def test_merge_never_evolves_reserved_columns(spark, tmp_path):
    """A batch column named like an engine-internal column (__commit,
    __slot, ...) must not be evolution-added as a user column — it would
    collide with the MoR fold / writer internals on the next read."""
    t = _table(spark, tmp_path, n_convs=10)
    batch = _upsert_batch(spark, "rc", 0, "payload").withColumn(
        "__commit", F.lit(42).cast("long")).withColumn(
        "__slot", F.lit(1).cast("int"))
    r = t.merge(batch, checkpoint_id="c", batch_id=1)
    assert not r["skipped"]
    cols = {f.name for f in t.schema().fields}
    assert "__commit" not in cols and "__slot" not in cols
    assert t.read().filter("conv_id = 'rc'").count() == 1
