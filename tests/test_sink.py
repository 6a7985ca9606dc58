"""SnapshotTable: MERGE semantics, exactly-once, schema evolution, LWW vs the
oracle, lineage, compaction, time travel."""

from __future__ import annotations

import datetime
import json

import pandas as pd
import pytest
from pyspark.sql import functions as F

from diffsync_spark import diff
from diffsync_spark.errors import DiffSyncSparkError
from diffsync_spark.fixtures import TRANSCRIPT_COLUMNS, evolve
from diffsync_spark.model import TRANSCRIPT_MODEL
from diffsync_spark.operators.diff import has_diffs
from diffsync_spark.oracle import OracleStore
from diffsync_spark.sinks.table import SnapshotTable
from diffsync_spark.streaming.replay import replay_batches

IDS = ["conv_id", "turn_idx"]
PAYLOAD = ["role", "text", "tool", "ts"]


def _bootstrap(spark, tmp_path, target_df, n_buckets=8) -> SnapshotTable:
    table = SnapshotTable.create(
        spark, str(tmp_path / "table"), TRANSCRIPT_MODEL,
        schema=target_df.schema, n_buckets=n_buckets,
    )
    table.merge(target_df.withColumn("op", F.lit("insert")), mode="force",
                checkpoint_id="bootstrap", batch_id=0)
    return table


def _state(table: SnapshotTable) -> pd.DataFrame:
    return (
        table.read()
        .toPandas()
        .sort_values(IDS)
        .reset_index(drop=True)
    )


def test_bootstrap_roundtrip(spark, tmp_path, target_df, target_pdf):
    table = _bootstrap(spark, tmp_path, target_df)
    got = _state(table)
    want = target_pdf.sort_values(IDS).reset_index(drop=True)
    assert list(got.columns) == TRANSCRIPT_COLUMNS
    pd.testing.assert_series_equal(got["text"], want["text"])
    assert len(got) == len(want)


def test_apply_diff_converges(spark, tmp_path, source_df, target_df):
    """After sync, re-diff is empty — reference
    tests/unit/test_diffsync.py:576-583 (sync convergence)."""
    table = _bootstrap(spark, tmp_path, target_df)
    d = diff(source_df, table.read(), TRANSCRIPT_MODEL)
    res = table.apply_diff(d, batch_id=1)
    assert res["n_create"] > 0 and res["n_delete"] > 0 and res["n_update"] > 0
    assert not has_diffs(diff(source_df, table.read(), TRANSCRIPT_MODEL))


def test_exactly_once_reapply(spark, tmp_path, target_df, changelog_df):
    table = _bootstrap(spark, tmp_path, target_df)
    r1 = table.merge(changelog_df, checkpoint_id="ck", batch_id=1)
    state1 = _state(table)
    v1 = table.current_version()
    # redelivery of the same batch id → skipped, no new snapshot
    r2 = table.merge(changelog_df, checkpoint_id="ck", batch_id=1)
    assert not r1["skipped"] and r2["skipped"]
    assert table.current_version() == v1
    pd.testing.assert_frame_equal(_state(table), state1)


def test_lww_replay_matches_oracle(spark, tmp_path, target_df, target_pdf,
                                   changelog_pdf, changelog_df):
    """Full replay reproduces the oracle's final state with per-turn text
    equality under stable (conv_id, turn_idx, ts) ordering — the BASELINE
    correctness gate. Replay in 7 batches to also exercise batching."""
    table = _bootstrap(spark, tmp_path, target_df)
    results = replay_batches(table, changelog_df, n_batches=7)
    assert all(not r["skipped"] for r in results)

    store = OracleStore.from_snapshot(target_pdf, IDS, PAYLOAD)
    store.apply_changelog(changelog_pdf)
    want = store.final_df().sort_values(IDS).reset_index(drop=True)
    got = _state(table)
    assert len(got) == len(want)
    assert (got["conv_id"].values == want["conv_id"].values).all()
    assert (got["turn_idx"].values == want["turn_idx"].values).all()
    # per-turn text equality (None-aware)
    gt = got["text"].where(got["text"].notna(), None)
    wt = want["text"].where(want["text"].notna(), None)
    assert list(gt) == list(wt)
    assert list(got["ts"]) == list(want["ts"])


def test_batching_invariance(spark, tmp_path, target_df, changelog_df):
    """Any batch split converges to the same state (idempotence + LWW)."""
    t1 = _bootstrap(spark, tmp_path / "a", target_df)
    replay_batches(t1, changelog_df, n_batches=2, checkpoint_id="a")
    t2 = _bootstrap(spark, tmp_path / "b", target_df)
    replay_batches(t2, changelog_df, n_batches=13, checkpoint_id="b")
    pd.testing.assert_frame_equal(_state(t1), _state(t2))


def test_batching_invariance_null_ts_delete(spark, tmp_path, target_df):
    """A null-ts delete + a later-seq update for the same key must converge
    to the same state whether they share a batch or not: the null-ts delete
    is always-newest (cross-batch rule in merge(); in-batch rule is
    lww_dedup's desc_nulls_first). Regression for the round-1 advice."""
    first = target_df.first()
    key = (first.conv_id, first.turn_idx)
    events = spark.createDataFrame(
        [(key[0], key[1], None, None, None, None, "delete", 10),
         (key[0], key[1], "user", "late-update", None,
          datetime.datetime(2030, 1, 1), "update", 11)],
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp, op string, seq long",
    )
    t1 = _bootstrap(spark, tmp_path / "one", target_df)
    t1.merge(events, checkpoint_id="x", batch_id=1)          # same batch
    t2 = _bootstrap(spark, tmp_path / "two", target_df)
    t2.merge(events.filter("op = 'delete'"), checkpoint_id="x", batch_id=1)
    t2.merge(events.filter("op = 'update'"), checkpoint_id="x", batch_id=2)
    s1, s2 = _state(t1), _state(t2)
    pd.testing.assert_frame_equal(s1, s2)
    # and the delete won in both: the key is gone
    assert not ((s1.conv_id == key[0]) & (s1.turn_idx == key[1])).any()


def test_null_op_quarantined(spark, tmp_path, target_df):
    """A NULL op must land in quarantine, not vanish (NULL predicate is
    excluded by both filter(p) and filter(~p)). Regression for round-1 advice."""
    table = _bootstrap(spark, tmp_path, target_df)
    batch = spark.createDataFrame(
        [("conv_000001", 1, "user", "no-op-col", None,
          datetime.datetime(2030, 1, 1), None, 1)],
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp, op string, seq long",
    )
    res = table.merge(batch, checkpoint_id="nullop", batch_id=1)
    assert res["n_quarantined"] == 1
    assert res.get("n_update", 0) == 0 and res.get("n_create", 0) == 0


def test_schema_evolution_merge(spark, tmp_path, source_pdf, source_df):
    table = _bootstrap(spark, tmp_path, source_df)
    evolved_pdf = evolve(source_pdf.head(20))
    evolved_pdf["ts"] = evolved_pdf["ts"] + pd.Timedelta(hours=1)
    batch = spark.createDataFrame(evolved_pdf).withColumn(
        "op", F.lit("update")
    ).withColumn("seq", F.lit(1).cast("long"))
    res = table.merge(batch, checkpoint_id="evo", batch_id=1)
    assert res["n_update"] == 20
    got = table.read()
    assert "tool_call_id" in got.columns          # column added
    n_with = got.filter(F.col("tool_call_id").isNotNull()).count()
    assert n_with == int(evolved_pdf["tool_call_id"].notna().sum())
    # untouched rows read as null through the widened schema
    assert got.count() == source_df.count()


def test_quarantine(spark, tmp_path, target_df):
    table = _bootstrap(spark, tmp_path, target_df)
    bad = spark.createDataFrame(
        [(None, 0, "user", "x", None, None, "update", 1),
         ("conv_000001", 1, "user", "ok", None, None, "badop", 2)],
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp, op string, seq long",
    )
    res = table.merge(bad, checkpoint_id="q", batch_id=1)
    assert res["n_quarantined"] == 2
    lin = table.lineage_df().filter("partition = -1").first()
    assert lin.n_quarantined == 2
    # per-record status columns (reference DiffSyncStatus, enum.py:90-96):
    # each rejected row carries status + the WHY
    qdf = table.quarantine_df()
    assert qdf is not None and qdf.count() == 2
    rows = {r.text: (r._status, r._status_reason) for r in qdf.collect()}
    assert rows["x"] == ("failure", "null identifier")
    assert rows["ok"] == ("failure", "unknown or null op")
    # a clean commit has no quarantine frame
    good = spark.createDataFrame(
        [("conv_000001", 1, "user", "fine", None,
          datetime.datetime(2031, 1, 1), "update", 9)],
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp, op string, seq long",
    )
    table.merge(good, checkpoint_id="q", batch_id=2)
    assert table.quarantine_df() is None


def test_custom_commit_io(spark, tmp_path, target_df, changelog_df):
    """The sink runs against a custom CommitIO with manifests/pointer held
    in memory (the object-store-catalog shape) — proving the seam: no
    manifest JSON or _current pointer ever touches the local FS."""
    from diffsync_spark.sinks.fsio import InMemoryManifestIO

    io = InMemoryManifestIO()
    table = SnapshotTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_MODEL,
        schema=target_df.schema, n_buckets=8, io=io,
    )
    table.merge(target_df.withColumn("op", F.lit("insert")), mode="force",
                checkpoint_id="boot", batch_id=0)
    r1 = table.merge(changelog_df, checkpoint_id="ck", batch_id=1)
    r2 = table.merge(changelog_df, checkpoint_id="ck", batch_id=1)  # replay
    assert not r1["skipped"] and r2["skipped"]          # exactly-once intact
    assert table.read().count() > 0
    # commit metadata lives only in the IO object
    assert not (tmp_path / "t" / "manifests").exists()
    assert not (tmp_path / "t" / "_current").exists()
    assert any(p.endswith("_current") for p in io.blobs)


def test_lineage_counts(spark, tmp_path, source_df, target_df):
    table = _bootstrap(spark, tmp_path, target_df)
    d = diff(source_df, table.read(), TRANSCRIPT_MODEL)
    res = table.apply_diff(d, batch_id=1)
    lin = table.lineage_df().filter("checkpoint_id = 'diff'").toPandas()
    assert lin["n_create"].sum() == res["n_create"]
    assert lin["n_delete"].sum() == res["n_delete"]
    assert set(lin[lin.partition >= 0].partition) <= set(range(8))


def test_delete_where_cascade(spark, tmp_path, target_df):
    table = _bootstrap(spark, tmp_path, target_df)
    victim = target_df.first().conv_id
    table.delete_where(F.col("conv_id") == victim, batch_id=1)
    assert table.read().filter(F.col("conv_id") == victim).count() == 0
    # tombstones still present physically (late-data protection)
    assert table.read_raw().filter(
        (F.col("conv_id") == victim) & F.col("_deleted")
    ).count() > 0


def test_time_travel_and_compact(spark, tmp_path, target_df, changelog_df):
    table = _bootstrap(spark, tmp_path, target_df)
    v_before = table.current_version()
    before = _state(table)
    table.merge(changelog_df, checkpoint_id="tt", batch_id=1)
    after = _state(table)
    # time travel to the pre-merge snapshot
    old = table.read(version=v_before).toPandas().sort_values(IDS).reset_index(drop=True)
    pd.testing.assert_frame_equal(old, before)
    # compaction rewrites files but preserves state
    table.compact()
    pd.testing.assert_frame_equal(_state(table), after)


def test_incremental_changes_read(spark, tmp_path, target_df, changelog_df):
    """changes(v1, v2) reports exactly the net create/update/delete between
    two snapshots, prunes to the touched buckets, and sees a compaction as
    zero changes (file rewrite, no logical change)."""
    table = _bootstrap(spark, tmp_path, target_df)
    v1 = table.current_version()
    table.merge(changelog_df, checkpoint_id="inc", batch_id=1)
    v2 = table.current_version()

    got = table.changes(v1, v2)
    assert set(got.select("op").distinct().toPandas()["op"]) <= {
        "create", "update", "delete"
    }
    # must equal the brute-force diff of the two full snapshots
    want = (
        diff(table.read(v2), table.read(v1), TRANSCRIPT_MODEL)
        .filter("op <> 'noop'")
    )
    g = got.select(*IDS, "op").toPandas().sort_values(IDS).reset_index(drop=True)
    w = want.select(*IDS, "op").toPandas().sort_values(IDS).reset_index(drop=True)
    pd.testing.assert_frame_equal(g, w)
    assert len(g) > 0

    # same-version window and changes() across a pure compact() are empty
    assert table.changes(v2, v2).count() == 0
    table.compact()
    v3 = table.current_version()
    # compact rewrites every bucket (no manifest pruning win) but yields no
    # logical change
    assert table.changes(v2, v3).count() == 0

    # bucket pruning: a single brand-new key touches exactly one bucket
    row = target_df.first()
    one = spark.createDataFrame(
        [("zzz_brand_new", 0, row.role, "patched", row.tool,
          row.ts + datetime.timedelta(hours=1), "insert", 10_000)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp, op string, seq long",
    )
    table.merge(one, checkpoint_id="inc", batch_id=2)
    v4 = table.current_version()
    assert len(table.changed_buckets(v3, v4)) == 1
    inc = table.changes(v3, v4).collect()
    assert len(inc) == 1 and inc[0].op == "create"
    assert inc[0].after["text"] == "patched"


def test_tombstone_blocks_late_update(spark, tmp_path, target_df):
    """Delete then a LATE (older-ts) update for the same key → key stays
    deleted. The tombstone keeps the LWW version."""
    table = _bootstrap(spark, tmp_path, target_df)
    row = target_df.first()
    late_ts = row.ts
    del_batch = spark.createDataFrame(
        [(row.conv_id, row.turn_idx, None, None, None,
          late_ts + pd.Timedelta(hours=2).to_pytimedelta(), "delete", 10)],
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp, op string, seq long",
    )
    table.merge(del_batch, checkpoint_id="t", batch_id=1)
    late_upd = spark.createDataFrame(
        [(row.conv_id, row.turn_idx, "user", "zombie", None,
          late_ts + pd.Timedelta(hours=1).to_pytimedelta(), "update", 11)],
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp, op string, seq long",
    )
    res = table.merge(late_upd, checkpoint_id="t", batch_id=2)
    assert res["n_create"] == 0 and res["n_update"] == 0
    assert table.read().filter(
        (F.col("conv_id") == row.conv_id) & (F.col("turn_idx") == row.turn_idx)
    ).count() == 0


# --------------------------------------------------------- concurrent writers

_CDC_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp, op string, seq long"
)


def _cw_batch(spark, conv: str, n: int = 3):
    t0 = datetime.datetime(2031, 1, 1)
    rows = [
        (conv, i, "user", f"{conv} turn {i}", None,
         t0 + datetime.timedelta(seconds=i), "insert", i)
        for i in range(n)
    ]
    return spark.createDataFrame(rows, _CDC_SCHEMA)


def test_concurrent_writers_both_land(spark, tmp_path, target_df):
    """Two interleaved writers on one table: writer B commits in the middle
    of writer A's attempt (injected at the exclusive manifest write — the
    conditional-PUT race of an object-store catalog). A must detect the
    conflict, rebase onto B's snapshot, and re-commit: both batches land
    exactly once, B's committed files are untouched, lineage shows both."""
    from diffsync_spark.sinks.fsio import RacingCommitIO

    table = _bootstrap(spark, tmp_path, target_df)
    path = table.path
    writer_b = SnapshotTable.load(spark, path, TRANSCRIPT_MODEL)
    batch_a = _cw_batch(spark, "cw_A")
    batch_b = _cw_batch(spark, "cw_B")
    b_results = []

    def interloper():
        b_results.append(
            writer_b.merge(batch_b, checkpoint_id="writer_b", batch_id=1)
        )

    writer_a = SnapshotTable.load(
        spark, path, TRANSCRIPT_MODEL, io=RacingCommitIO(interloper, races=1)
    )
    res_a = writer_a.merge(batch_a, checkpoint_id="writer_a", batch_id=1)

    assert len(b_results) == 1 and not b_results[0]["skipped"]
    assert not res_a["skipped"]
    # lost once, rebased, won — metadata-only when the writers' convs hash
    # to different buckets (B provably never touched A's bucket), a full
    # recompute when they collide
    def _bucket(conv: str) -> int:
        return spark.range(1).select(
            F.pmod(F.xxhash64(F.lit(conv)), F.lit(8)).cast("int")
        ).first()[0]

    if _bucket("cw_A") != _bucket("cw_B"):
        assert res_a["metadata_rebases"] == 1
        assert res_a["commit_retries"] == 0
    else:
        assert res_a["commit_retries"] == 1
    assert res_a["n_create"] == 3
    # both batches landed exactly once
    state = table.read()
    assert state.filter(F.col("conv_id") == "cw_A").count() == 3
    assert state.filter(F.col("conv_id") == "cw_B").count() == 3
    # B committed v3 (bootstrap=2), A rebased onto it as v4
    assert table.current_version() == 4
    # the loser's first attempt must NOT have clobbered B's files:
    # time travel to B's snapshot still reads
    at_b = table.read(version=3)
    assert at_b.filter(F.col("conv_id") == "cw_B").count() == 3
    assert at_b.filter(F.col("conv_id") == "cw_A").count() == 0
    # lineage records both writers' commits
    cks = {r.checkpoint_id for r in table.lineage_df().collect()}
    assert {"writer_a", "writer_b"} <= cks


def test_concurrent_twin_replay_skips(spark, tmp_path, target_df):
    """Two workers race to commit the SAME (checkpoint_id, batch_id) — e.g.
    a speculative retry of one stream task. The loser's rebase must detect
    the checkpoint already committed and become an idempotent no-op, not a
    double-apply."""
    from diffsync_spark.sinks.fsio import RacingCommitIO

    table = _bootstrap(spark, tmp_path, target_df)
    path = table.path
    writer_b = SnapshotTable.load(spark, path, TRANSCRIPT_MODEL)
    batch = _cw_batch(spark, "cw_twin")

    def interloper():
        writer_b.merge(batch, checkpoint_id="shared", batch_id=1)

    writer_a = SnapshotTable.load(
        spark, path, TRANSCRIPT_MODEL, io=RacingCommitIO(interloper, races=1)
    )
    res = writer_a.merge(batch, checkpoint_id="shared", batch_id=1)
    assert res["skipped"]                        # winner's commit detected
    assert table.read().filter(F.col("conv_id") == "cw_twin").count() == 3
    assert table.current_version() == 3          # exactly one commit landed


def test_commit_retries_exhausted(spark, tmp_path, target_df):
    """A writer that keeps losing (interloper commits a fresh snapshot on
    every attempt) raises CommitConflict once max_commit_retries is spent —
    bounded, never an infinite rebase loop. The table stays readable."""
    from diffsync_spark.errors import CommitConflict
    from diffsync_spark.sinks.fsio import RacingCommitIO

    table = _bootstrap(spark, tmp_path, target_df)
    path = table.path
    writer_b = SnapshotTable.load(spark, path, TRANSCRIPT_MODEL)

    writer_a = SnapshotTable.load(
        spark, path, TRANSCRIPT_MODEL,
        io=RacingCommitIO(lambda: writer_b.compact(), races=10),
    )
    with pytest.raises(CommitConflict):
        writer_a.merge(_cw_batch(spark, "cw_lost"), checkpoint_id="a",
                       batch_id=1, max_commit_retries=1)
    assert table.read().filter(F.col("conv_id") == "cw_lost").count() == 0
    assert table.read().count() == target_df.count()


def test_remove_orphans_after_lost_race(spark, tmp_path, target_df):
    """A losing commit attempt that had to RECOMPUTE (the interloper wrote
    the same conv → same bucket, so the metadata-only rebase correctly
    refuses) leaves a whole unreferenced data dir; GC removes exactly that,
    never a referenced version, and is idempotent."""
    from diffsync_spark.sinks.fsio import RacingCommitIO

    table = _bootstrap(spark, tmp_path, target_df)
    writer_b = SnapshotTable.load(spark, table.path, TRANSCRIPT_MODEL)
    # same conversation, disjoint turn ranges: both batches route to the
    # SAME bucket, forcing the full-recompute conflict path (and its orphan)
    t0 = datetime.datetime(2031, 1, 1)
    sch = _CDC_SCHEMA
    batch_b = spark.createDataFrame(
        [("gc_X", i, "user", f"B turn {i}", None,
          t0 + datetime.timedelta(seconds=i), "insert", i)
         for i in range(10, 13)], sch)
    batch_a = spark.createDataFrame(
        [("gc_X", i, "user", f"A turn {i}", None,
          t0 + datetime.timedelta(seconds=i), "insert", i)
         for i in range(3)], sch)

    writer_a = SnapshotTable.load(
        spark, table.path, TRANSCRIPT_MODEL,
        io=RacingCommitIO(
            lambda: writer_b.merge(batch_b, checkpoint_id="gcb", batch_id=1),
            races=1,
        ),
    )
    res = writer_a.merge(batch_a, checkpoint_id="gca", batch_id=1)
    assert res["commit_retries"] == 1 and res["metadata_rebases"] == 0
    assert table.read().filter(F.col("conv_id") == "gc_X").count() == 6
    state_before = _state(table)
    res = table.remove_orphans()
    assert len(res["removed_dirs"]) == 1          # the loser's v3 attempt
    assert "/data/v3-" in res["removed_dirs"][0]
    # every retained snapshot still reads; state unchanged
    for v in range(1, table.current_version() + 1):
        table.read(version=v).count()
    pd.testing.assert_frame_equal(_state(table), state_before)
    assert table.remove_orphans()["removed_dirs"] == []   # idempotent


def test_expire_snapshots(spark, tmp_path, target_df, changelog_df):
    """Snapshot expiration deletes ONLY files exclusively referenced by
    expired versions (copy-on-write shares the rest); current reads and
    lineage of retained versions survive, expired time travel raises."""
    table = _bootstrap(spark, tmp_path, target_df)           # v1 + v2
    half = changelog_df.filter(F.col("seq") % 2 == 0)
    table.merge(half, checkpoint_id="e", batch_id=1)         # v3
    table.merge(changelog_df, checkpoint_id="e", batch_id=2) # v4
    state_before = _state(table)
    cur = table.current_version()
    res = table.expire_snapshots(keep_last=2)
    assert res["expired_versions"] == list(range(1, cur - 1))
    assert res["removed_files"] > 0
    pd.testing.assert_frame_equal(_state(table), state_before)
    table.read(version=cur - 1).count()                      # retained
    with pytest.raises(FileNotFoundError):
        table.read(version=2)                                # expired
    lin = table.lineage_df()
    assert set(lin.toPandas()["table_version"]) <= {cur - 1, cur}
    # expiring again is a no-op at the same horizon
    assert table.expire_snapshots(keep_last=2)["expired_versions"] == []


def test_history(spark, tmp_path, target_df, changelog_df):
    """history(): one row per retained snapshot with ids, counts, and the
    current marker; expired versions disappear from the listing."""
    table = _bootstrap(spark, tmp_path, target_df)
    table.merge(changelog_df, checkpoint_id="h", batch_id=1)
    h = table.history().toPandas().sort_values("version").reset_index(drop=True)
    assert list(h["version"]) == [1, 2, 3]
    assert list(h["is_current"]) == [False, False, True]
    # the chain is linked parent → child
    assert h.loc[2, "parent_snapshot_id"] == h.loc[1, "snapshot_id"]
    assert h.loc[2, "n_rows"] > 0 and h.loc[2, "n_files"] > 0
    table.expire_snapshots(keep_last=2)
    h2 = table.history().toPandas()
    assert list(sorted(h2["version"])) == [2, 3]


def test_type_widening_evolution(spark, tmp_path):
    """Schema evolution beyond new columns: a batch delivering WIDER
    payload types (int->long, float->double) widens the stored schema;
    old files read through the widened schema via parquet upcast. Key
    types never widen - a long-typed key column is cast to the stored
    int type BEFORE bucketing, so it updates the same stored row instead
    of hashing into a different bucket."""
    import datetime

    from diffsync_spark.model import ModelSchema

    model = ModelSchema(name="m", identifiers=("k",), attributes=("v", "f"),
                        version_cols=("ts",))
    t0 = datetime.datetime(2030, 1, 1)
    boot = spark.createDataFrame(
        [(1, 10, 1.5, t0), (2, 20, 2.5, t0)],
        "k int, v int, f float, ts timestamp",
    )
    table = SnapshotTable.create(
        spark, str(tmp_path / "w"), model, schema=boot.schema, n_buckets=4,
    )
    table.merge(boot.withColumn("op", F.lit("insert")), mode="force",
                checkpoint_id="b", batch_id=0)
    # batch arrives with long key, long v, double f
    batch = spark.createDataFrame(
        [(1, 2**40, 3.25, t0 + datetime.timedelta(hours=1), "update", 1),
         (3, 30, 0.5, t0, "insert", 2)],
        "k long, v long, f double, ts timestamp, op string, seq long",
    )
    res = table.merge(batch, checkpoint_id="w", batch_id=1)
    assert res["n_update"] == 1 and res["n_create"] == 1
    got = table.read()
    types = dict((f.name, f.dataType.simpleString()) for f in got.schema.fields)
    assert types["k"] == "int"        # identifiers never widen
    assert types["v"] == "bigint"     # int -> long
    assert types["f"] == "double"     # float -> double
    rows = {r.k: (r.v, r.f) for r in got.collect()}
    assert rows[1] == (2**40, 3.25)   # wide value stored exactly
    assert rows[2] == (20, 2.5)       # old int/float rows read upcast
    assert rows[3] == (30, 0.5)
    assert len(rows) == 3             # the long-key update hit the stored row

def test_lossy_key_cast_quarantines_not_crashes(spark, tmp_path, target_df):
    """ADVICE r3 (high): Spark 4.1 defaults ANSI mode ON, where a plain
    cast() THROWS on overflow — one out-of-range key (2**40 into the int
    turn_idx) would crash the whole merge (and poison-pill a stream).
    try_cast must null the key and route the row to quarantine while the
    rest of the batch applies normally."""
    table = _bootstrap(spark, tmp_path, target_df)
    before = len(_state(table))
    ts = datetime.datetime(2024, 1, 1)
    bad = spark.createDataFrame(
        [("cv_bad", 2**40, "user", "overflow key", None, ts, "insert"),
         ("cv_ok", 1, "user", "fine", None, ts, "insert")],
        "conv_id string, turn_idx long, role string, text string, "
        "tool string, ts timestamp, op string",
    )
    res = table.merge(bad, checkpoint_id="ansi", batch_id=1)  # must not raise
    assert res["n_quarantined"] == 1
    q = table.quarantine_df()
    assert q.count() == 1
    row = q.first()
    assert row["_status"] == "failure" and "null identifier" in row["_status_reason"]
    got = _state(table)
    assert len(got) == before + 1
    assert got[got.conv_id == "cv_ok"]["text"].iloc[0] == "fine"


def test_unparsable_payload_value_nulls_not_crashes(spark, tmp_path, target_df):
    """ADVICE r3 (high), payload side: a batch value that can't cast to the
    stored payload type (string 'n/a' into an int column) must become NULL
    in the applied row — under ANSI a plain cast would throw instead."""
    table = _bootstrap(spark, tmp_path, target_df)
    ts = datetime.datetime(2024, 1, 1)
    # evolve: batch 1 adds an int payload column `score`
    add = spark.createDataFrame(
        [("cv_s", 1, "user", "scored", None, ts, "insert", 7)],
        "conv_id string, turn_idx long, role string, text string, "
        "tool string, ts timestamp, op string, score int",
    )
    table.merge(add, checkpoint_id="evo", batch_id=1)
    # batch 2 delivers score as an unparsable STRING → stored int kept,
    # try_cast nulls the value, merge succeeds
    bad = spark.createDataFrame(
        [("cv_s", 2, "user", "unscored", None, ts, "insert", "n/a"),
         ("cv_s", 3, "user", "ok", None, ts, "insert", "11")],
        "conv_id string, turn_idx long, role string, text string, "
        "tool string, ts timestamp, op string, score string",
    )
    res = table.merge(bad, checkpoint_id="evo", batch_id=2)  # must not raise
    assert res["n_quarantined"] == 0
    got = _state(table)
    mine = got[got.conv_id == "cv_s"].sort_values("turn_idx")
    assert mine["score"].tolist() == [7.0, None, 11.0] or [
        None if pd.isna(v) else int(v) for v in mine["score"]
    ] == [7, None, 11]


def test_remove_orphans_survives_path_respelling(spark, tmp_path, target_df,
                                                 changelog_df):
    """ADVICE r3 (medium): liveness must not depend on how the table path
    is spelled. Reopen the table through an equivalent-but-different
    spelling (`x/./tbl`) and run remove_orphans: genuinely orphaned dirs
    go, every committed data dir stays, and the table still reads."""
    table = _bootstrap(spark, tmp_path, target_df)
    replay_batches(table, changelog_df, n_batches=2)
    assert table.current_version() >= 3
    rows_before = table.read().count()
    # plant a genuine orphan (a crashed writer's dir no manifest references)
    import os
    orphan = tmp_path / "table" / "data" / "v1-deadbeefdead"
    orphan.mkdir()
    (orphan / "part-00000.parquet").write_bytes(b"junk")

    respelled = str(tmp_path / "." / "table")
    reopened = SnapshotTable.load(spark, respelled, TRANSCRIPT_MODEL)
    res = reopened.remove_orphans(min_versions_old=1)
    assert [os.path.basename(d) for d in res["removed_dirs"]] == ["v1-deadbeefdead"]
    # all committed data survives under both spellings
    assert table.read().count() == rows_before
    assert reopened.read().count() == rows_before

def test_threaded_writer_soak(spark, tmp_path, target_df):
    """TRUE-concurrency soak (r3 verdict item 8): 4 writers x 5 merges each
    through real threads on one table — no injected race points, genuine
    manifest-commit contention. Every batch must land exactly once, lineage
    totals must add up, history() must show all commits, and remove_orphans
    afterwards must delete only loser-attempt dirs."""
    import threading

    table = _bootstrap(spark, tmp_path, target_df)
    base_rows = table.read().count()
    base_version = table.current_version()
    n_writers, n_per = 4, 5
    errors: list = []
    results: dict = {}
    ts = datetime.datetime(2024, 6, 1)
    sch = ("conv_id string, turn_idx int, role string, text string, "
           "tool string, ts timestamp, op string")

    def worker(w: int) -> None:
        handle = SnapshotTable.load(spark, table.path, TRANSCRIPT_MODEL)
        for b in range(n_per):
            batch = spark.createDataFrame(
                [(f"soak_w{w}_b{b}", t, "user", f"w{w}b{b}t{t}", None,
                  ts, "insert") for t in range(2)],
                sch,
            )
            try:
                results[(w, b)] = handle.merge(
                    batch, checkpoint_id=f"soak_w{w}", batch_id=b,
                    max_commit_retries=30,
                )
            except Exception as exc:  # noqa: BLE001 — recorded for assert
                errors.append((w, b, repr(exc)))

    threads = [threading.Thread(target=worker, args=(w,))
               for w in range(n_writers)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not errors, errors
    assert len(results) == n_writers * n_per
    assert not any(r["skipped"] for r in results.values())
    # every batch landed exactly once: 2 rows per batch, no double-applies
    state = table.read()
    assert state.count() == base_rows + n_writers * n_per * 2
    for w in range(n_writers):
        for b in range(n_per):
            assert state.filter(
                F.col("conv_id") == f"soak_w{w}_b{b}").count() == 2
    # one committed version per merge, in SOME serial order
    assert table.current_version() == base_version + n_writers * n_per
    hist = table.history().toPandas()
    assert len(hist) == base_version + n_writers * n_per
    # lineage: each (checkpoint, batch) appears exactly once, creates sum up
    lin = (table.lineage_df()
           .filter(F.col("checkpoint_id").startswith("soak_w"))
           .groupBy("checkpoint_id", "batch_id")
           .agg(F.sum("n_create").alias("c"))
           .collect())
    assert len(lin) == n_writers * n_per
    assert all(r.c == 2 for r in lin)
    # at least some contention actually happened (threads really raced);
    # retries are recorded per merge result
    total_retries = sum(r.get("commit_retries", 0) for r in results.values())
    # GC: only loser-attempt dirs go; the state is untouched
    state_pdf = _state(table)
    removed = table.remove_orphans()["removed_dirs"]
    pd.testing.assert_frame_equal(_state(table), state_pdf)
    # every removed dir is a v{N}-{sid} attempt dir not referenced by any
    # manifest — re-running GC finds nothing new (idempotent)
    assert table.remove_orphans()["removed_dirs"] == []
    print(f"soak: retries={total_retries}, orphans_removed={len(removed)}")

def test_bucket_pruned_lookup(spark, tmp_path, target_df, target_pdf):
    """SnapshotTable.lookup reads ONLY the key's bucket files: hit returns
    the row, miss returns None, a tombstoned key returns None, and the scan
    actually prunes (file count < total file count)."""
    table = _bootstrap(spark, tmp_path, target_df)
    first = target_pdf.iloc[0]
    key = (first["conv_id"], int(first["turn_idx"]))
    got = table.lookup(key)
    assert got is not None and got["text"] == first["text"]
    assert table.lookup(("no_such_conv", 0)) is None
    # delete the key, lookup must see the tombstone
    ts = datetime.datetime(2030, 1, 1)
    table.merge(spark.createDataFrame(
        [(key[0], key[1], None, None, None, ts, "delete")],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp, op string"), checkpoint_id="del",
        batch_id=1)
    assert table.lookup(key) is None
    # pruning evidence: the bucket read touches strictly fewer files
    man = table._manifest()
    total_files = sum(len(fl) for fl in man["files"].values())
    assert total_files > 1
    probe = table.read(buckets=[0])
    n_b0 = len(probe.inputFiles())
    assert 0 < n_b0 < total_files

def test_lookup_many(spark, tmp_path, target_df, target_pdf):
    """Bulk keyed read: hits come back exactly, misses and tombstoned keys
    drop out, duplicate probe rows dedupe, and the scan is pruned to the
    key set's buckets (file-count evidence via inputFiles)."""
    table = _bootstrap(spark, tmp_path, target_df)
    one_conv = target_pdf["conv_id"].iloc[0]
    want = target_pdf[target_pdf.conv_id == one_conv]
    probes = [(one_conv, int(t)) for t in want["turn_idx"]]
    keys = spark.createDataFrame(
        probes + probes + [("no_such_conv", 0), (one_conv, 10_000)],
        "conv_id string, turn_idx int",
    )
    out = table.lookup_many(keys)
    pdf = out.toPandas().sort_values("turn_idx").reset_index(drop=True)
    assert len(pdf) == len(want)
    assert set(pdf["text"]) == set(want["text"])
    # pruning: a single conv lives in one bucket (parent_key=conv_id), so
    # the probe touches strictly fewer files than the table holds
    man = table._manifest()
    total_files = sum(len(fl) for fl in man["files"].values())
    assert total_files > 1
    assert 0 < len(set(out.inputFiles())) < total_files
    # tombstone a probed key: it must vanish from the bulk result
    ts = datetime.datetime(2030, 1, 1)
    table.merge(spark.createDataFrame(
        [(one_conv, probes[0][1], None, None, None, ts, "delete")],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp, op string"), checkpoint_id="del",
        batch_id=1)
    after = table.lookup_many(keys).toPandas()
    assert len(after) == len(want) - 1
    with pytest.raises(DiffSyncSparkError):
        table.lookup_many(keys.select("conv_id"))


def test_count_rows_metadata(spark, tmp_path, target_df):
    """count_rows is a manifest sum, never a scan: matches read().count()
    at every version, tracks deletes, survives compaction (carry-forward),
    and time-travels."""
    table = _bootstrap(spark, tmp_path, target_df)
    v0 = table._manifest()["version"]
    n0 = table.read().count()
    assert table.count_rows() == n0
    # delete one conv's turns: live count drops by exactly that many
    pdf = target_df.toPandas()
    conv = pdf["conv_id"].iloc[0]
    victims = pdf[pdf.conv_id == conv]
    ts = datetime.datetime(2031, 1, 1)
    table.merge(spark.createDataFrame(
        [(conv, int(t), None, None, None, ts, "delete")
         for t in victims["turn_idx"]],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp, op string"), checkpoint_id="del",
        batch_id=1)
    assert table.count_rows() == n0 - len(victims)
    assert table.count_rows() == table.read().count()
    # time travel: the boot version still reports the boot count
    assert table.count_rows(v0) == n0
    # compaction rewrites files but not liveness
    table.compact()
    assert table.count_rows() == n0 - len(victims)
    # history exposes the same number per snapshot
    hist = {r["version"]: r["n_live_rows"]
            for r in table.history().collect()}
    assert hist[v0] == n0
    assert max(hist) == table.current_version()
    assert hist[max(hist)] == n0 - len(victims)


def test_lookup_many_edge_cases(spark, tmp_path, target_df, target_pdf):
    """Review regressions: a fresh/pre-fanout manifest (no bucket_splits)
    must not crash the probe; a lossy probe key is a miss, not an
    ANSI-cast poison pill that kills the whole bulk job."""
    table = _bootstrap(spark, tmp_path, target_df)
    man_path = table._manifest_dir + f"/v{table.current_version()}.json"
    man = json.loads(open(man_path).read())
    man.pop("bucket_splits", None)
    open(man_path, "w").write(json.dumps(man))
    conv = target_pdf["conv_id"].iloc[0]
    want = target_pdf[target_pdf.conv_id == conv]
    keys = spark.createDataFrame(
        [(conv, int(t)) for t in want["turn_idx"]],
        "conv_id string, turn_idx int",
    )
    assert table.lookup_many(keys).count() == len(want)
    # turn_idx stores as int; a long probe value beyond int range must
    # come back as a miss (try_cast → NULL), with the valid keys intact
    lossy = spark.createDataFrame(
        [(conv, int(want["turn_idx"].iloc[0])), (conv, 2**40)],
        "conv_id string, turn_idx long",
    )
    got = table.lookup_many(lossy).collect()
    assert len(got) == 1 and got[0]["turn_idx"] == int(want["turn_idx"].iloc[0])


def test_live_counts_unknown_for_pre_feature_manifests(spark, tmp_path,
                                                       target_df, target_pdf):
    """A manifest written before bucket_live_rows existed must NOT seed a
    partial dict on the next incremental merge — count_rows falls back to
    a real scan instead of silently undercounting."""
    table = _bootstrap(spark, tmp_path, target_df)
    man_path = table._manifest_dir + f"/v{table.current_version()}.json"
    man = json.loads(open(man_path).read())
    man.pop("bucket_live_rows", None)
    open(man_path, "w").write(json.dumps(man))
    n0 = table.read().count()
    assert table.count_rows() == n0  # fallback scan on the doctored manifest
    # incremental merge touching ONE conv's bucket only
    conv = target_pdf["conv_id"].iloc[0]
    ts = datetime.datetime(2032, 1, 1)
    table.merge(spark.createDataFrame(
        [(conv, 10_001, "user", "new turn", None, ts, "insert")],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp, op string"), checkpoint_id="inc",
        batch_id=7)
    assert "bucket_live_rows" not in table._manifest()  # unknowable → absent
    assert table.count_rows() == n0 + 1 == table.read().count()


def test_version_as_of_accepts_all_epoch_units(spark, tmp_path, target_df):
    import time as _time

    table = _bootstrap(spark, tmp_path, target_df)
    v = table.current_version()
    now = _time.time()
    assert table.version_as_of(now) == v
    assert table.version_as_of(now * 1_000) == v        # millis
    assert table.version_as_of(int(now * 1_000_000)) == v  # micros


def test_time_travel_and_requeue(spark, tmp_path, target_df):
    """Wall-clock time travel resolves to the snapshot current at that
    instant; quarantined rows can be repaired and re-driven through the
    MERGE without loss or duplication."""
    import time as _time

    table = _bootstrap(spark, tmp_path, target_df)
    v0 = table._manifest()["version"]
    n0 = table.read().count()
    t_boot = _time.time()
    # a later commit: one valid row + one null-key row (quarantined)
    ts = datetime.datetime(2031, 1, 1)
    r = table.merge(spark.createDataFrame(
        [("tt_conv", 0, "user", "hello", None, ts, "insert"),
         (None, 1, "user", "bad", None, ts, "insert")],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp, op string"), checkpoint_id="tt",
        batch_id=1)
    assert r["n_quarantined"] == 1
    # as-of the pre-merge instant: the boot snapshot, not the new one
    assert table.version_as_of(t_boot) == v0
    assert table.read_as_of(t_boot).count() == n0
    assert table.read().count() == n0 + 1
    with pytest.raises(DiffSyncSparkError):
        table.version_as_of(0)  # epoch start predates every snapshot
    # history carries the commit clock, monotone across versions
    hist = table.history().orderBy("version").collect()
    stamps = [h["committed_at_us"] for h in hist]
    assert all(s is not None for s in stamps) and stamps == sorted(stamps)
    # repair the rejected row and re-drive it through the merge
    res = table.requeue_quarantine(
        fix=lambda df: df.withColumn(
            "conv_id", F.coalesce(F.col("conv_id"), F.lit("tt_fixed"))
        )
    )
    assert res["n_quarantined"] == 0 and res["n_create"] == 1
    assert table.lookup(("tt_fixed", 1))["text"] == "bad"
    assert table.count_rows() == n0 + 2
    # nothing left to requeue on the new commit
    assert table.requeue_quarantine()["skipped"] is True


def test_write_ordered_files(spark, tmp_path, target_df):
    """Every written file is clustered on (conv_id, turn_idx) — Iceberg's
    WRITE ORDERED BY. Row order inside the file IS the row-group/page stats
    contract: sorted rows give tight, non-overlapping min/max on the key
    columns, so the pushed-down key equality in lookup() skips row groups."""
    import pyarrow.parquet as pq

    table = _bootstrap(spark, tmp_path, target_df)
    man = table._manifest()
    checked = 0
    for fl in man["files"].values():
        for path in fl:
            t = pq.read_table(path, columns=["conv_id", "turn_idx"])
            keys = list(zip(
                t.column("conv_id").to_pylist(),
                t.column("turn_idx").to_pylist(),
            ))
            assert keys == sorted(keys), f"unsorted file {path}"
            checked += 1
    assert checked >= 1


def test_targeted_compaction(spark, tmp_path, target_df, changelog_df):
    """compact(buckets=[...]) rewrites ONLY the targeted buckets: untouched
    buckets' file lists carry over byte-identical (copy-on-write), state is
    unchanged, changes() across the compaction is empty, and a min_files
    selection that matches nothing commits nothing."""
    table = _bootstrap(spark, tmp_path, target_df)
    replay_batches(table, changelog_df, n_batches=2, checkpoint_id="frag")
    man = table._manifest()
    present = sorted(int(b) for b in man["files"])
    targets = present[:2]
    untouched = present[2:]
    assert targets and untouched
    before = _state(table)
    v_before = table.current_version()

    res = table.compact(buckets=targets)
    assert not res["skipped"] and res["compacted_buckets"] == targets
    man2 = table._manifest()
    for b in untouched:  # byte-identical carry-over
        assert man2["files"][str(b)] == man["files"][str(b)]
    for b in targets:    # rewritten into the new snapshot dir
        assert man2["files"][str(b)] != man["files"][str(b)]
        assert len(man2["files"][str(b)]) == 1
    pd.testing.assert_frame_equal(_state(table), before)
    assert table.changes(v_before).count() == 0  # no logical change
    # nothing has >= 99 files -> no-op, no commit
    res2 = table.compact(min_files=99)
    assert res2["skipped"] and table.current_version() == res["version"]


def test_compact_purges_old_tombstones(spark, tmp_path, target_df):
    """Delete-retention horizon: compact(purge_tombstones_older_than=H)
    drops ts-tombstones older than H, keeps younger and NULL-ts ones, and
    changes() across the purge reports nothing (the rows were already
    invisible)."""
    table = _bootstrap(spark, tmp_path, target_df)
    rows = target_df.orderBy(*IDS).take(3)
    k_old, k_new, k_null = [(r.conv_id, r.turn_idx) for r in rows]
    batch = spark.createDataFrame(
        [
            (k_old[0], k_old[1], "delete", datetime.datetime(2026, 1, 1), 1),
            (k_new[0], k_new[1], "delete", datetime.datetime(2030, 1, 1), 2),
            (k_null[0], k_null[1], "delete", None, 3),
        ],
        "conv_id string, turn_idx int, op string, ts timestamp, seq long",
    )
    table.merge(batch, checkpoint_id="d", batch_id=1)
    v_before = table.current_version()
    live_before = _state(table)

    def tombstones():
        return {
            (r.conv_id, r.turn_idx)
            for r in table.read_raw().filter("_deleted").collect()
        }

    assert tombstones() == {k_old, k_new, k_null}
    res = table.compact(
        purge_tombstones_older_than=datetime.datetime(2028, 1, 1)
    )
    assert not res["skipped"]
    assert tombstones() == {k_new, k_null}, "only the old ts-tombstone goes"
    pd.testing.assert_frame_equal(_state(table), live_before)
    assert table.changes(v_before).count() == 0
    # the documented trade: after the purge, an event OLDER than the horizon
    # for the purged key lands again (the caller promised none would arrive)
    late = spark.createDataFrame(
        [(k_old[0], k_old[1], "update", "pre-horizon straggler",
          datetime.datetime(2025, 6, 1), 4)],
        "conv_id string, turn_idx int, op string, text string, ts timestamp, "
        "seq long",
    )
    table.merge(late, checkpoint_id="d", batch_id=2)
    assert table.lookup(k_old) is not None
    # while the RETAINED young tombstone still protects its key
    late2 = spark.createDataFrame(
        [(k_new[0], k_new[1], "update", "straggler",
          datetime.datetime(2029, 1, 1), 5)],
        "conv_id string, turn_idx int, op string, text string, ts timestamp, "
        "seq long",
    )
    table.merge(late2, checkpoint_id="d", batch_id=3)
    assert table.lookup(k_new) is None


def test_tags_pin_snapshots_through_expiration(spark, tmp_path, target_df,
                                               changelog_df):
    """Iceberg TAG refs: an immutable name pins a version; expire_snapshots
    keeps tagged manifests and their files alive past retention."""
    import pytest as _pytest

    from diffsync_spark.errors import DiffSyncSparkError

    table = _bootstrap(spark, tmp_path, target_df)
    replay_batches(table, changelog_df, n_batches=6, checkpoint_id="r")
    tagged_v = 4  # mid-replay snapshot
    assert table.create_tag("train-run-x", tagged_v) == tagged_v
    state_at_tag = (
        table.read(version=tagged_v).toPandas()
        .sort_values(IDS).reset_index(drop=True)
    )
    assert table.tags() == {"train-run-x": tagged_v}
    # immutable: re-tagging raises
    with _pytest.raises(DiffSyncSparkError, match="already exists"):
        table.create_tag("train-run-x", 5)
    with _pytest.raises(DiffSyncSparkError, match="invalid tag"):
        table.create_tag("bad/name")
    res = table.expire_snapshots(keep_last=2)
    assert tagged_v not in res["expired_versions"], "tagged version expired"
    got = (
        table.read(version=table.tag_version("train-run-x")).toPandas()
        .sort_values(IDS).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, state_at_tag)
    # untagged old versions really are gone
    assert res["expired_versions"]
    # after dropping the tag, the next expiration may reclaim it
    table.delete_tag("train-run-x")
    assert table.tags() == {}
    res2 = table.expire_snapshots(keep_last=2)
    assert tagged_v in res2["expired_versions"]


def test_merge_expectations_quarantine_and_requeue(spark, tmp_path, target_df):
    """Declarative data contracts: upsert rows failing a named predicate
    quarantine with 'expectation failed: <name>'; deletes are exempt; a
    NULL predicate result is a violation; repaired rows requeue through
    the SAME expectations."""
    import datetime

    table = _bootstrap(spark, tmp_path, target_df)
    dt = datetime.datetime(2031, 1, 1)
    batch = spark.createDataFrame(
        [
            ("exp-ok", 0, "upsert", "user", "fine", None, dt),
            ("exp-bad", 0, "upsert", "user", "", None, dt),        # fails
            ("exp-null", 0, "upsert", "user", None, None, dt),     # NULL → fails
            ("exp-del", 0, "delete", None, None, None, dt),        # exempt
        ],
        "conv_id string, turn_idx int, op string, role string, "
        "text string, tool string, ts timestamp",
    )
    exp = {"text_nonempty": "length(text) > 0"}
    res = table.merge(batch, checkpoint_id="c", batch_id=1, expectations=exp)
    assert res["n_expectation_failed"] == 2
    assert res["n_quarantined"] == 2
    got = table.read().filter("conv_id like 'exp-%'").collect()
    assert {r.conv_id for r in got} == {"exp-ok"}
    q = table.quarantine_df()
    reasons = {r.conv_id: r._status_reason for r in q.collect()}
    assert reasons == {
        "exp-bad": "expectation failed: text_nonempty",
        "exp-null": "expectation failed: text_nonempty",
    }
    # repair and requeue through the same contract
    res2 = table.requeue_quarantine(
        fix=lambda df: df.withColumn(
            "text", F.concat(F.coalesce(F.col("text"), F.lit("")),
                             F.lit("repaired"))
        ),
        batch_id=1, expectations=exp,
    )
    assert res2["n_expectation_failed"] == 0
    fixed = table.read().filter("conv_id like 'exp-%'").count()
    assert fixed == 3  # ok + two repaired


def test_merge_expectations_column_predicate_and_base_contract(
    spark, tmp_path, target_df
):
    """Column-object predicates work; a row failing BOTH the base contract
    and an expectation quarantines once with the base reason."""
    import datetime

    table = _bootstrap(spark, tmp_path, target_df)
    dt = datetime.datetime(2031, 1, 1)
    batch = spark.createDataFrame(
        [
            ("cp-ok", 0, "upsert", "user", "x", None, dt),
            (None, 0, "upsert", "user", "", None, dt),  # null key AND bad text
        ],
        "conv_id string, turn_idx int, op string, role string, "
        "text string, tool string, ts timestamp",
    )
    res = table.merge(
        batch, checkpoint_id="c2", batch_id=1,
        expectations={"nonempty": F.length("text") > 0},
    )
    assert res["n_quarantined"] == 1
    assert res["n_expectation_failed"] == 0  # base-contract failure wins
    q = table.quarantine_df()
    assert q.collect()[0]._status_reason == "null identifier"


def test_update_where(spark, tmp_path, target_df):
    """Set-based UPDATE: matched live rows rewritten in place, identifiers
    protected, unmatched rows untouched."""
    table = _bootstrap(spark, tmp_path, target_df)
    before = table.read().count()
    n_match = table.read().filter("role = 'assistant'").count()
    assert 0 < n_match < before
    res = table.update_where(
        F.col("role") == "assistant",
        set={"text": F.concat(F.lit("[A] "), F.col("text")),
             "tool": "'annotated'"},  # str = SQL expression
        batch_id=1,
    )
    assert res["n_update"] == n_match and res["n_create"] == 0
    cur = table.read()
    assert cur.count() == before
    got = cur.filter("role = 'assistant'")
    assert got.filter(~F.col("text").startswith("[A] ")).count() == 0
    assert got.filter("tool <> 'annotated'").count() == 0
    # untouched rows keep their text
    assert cur.filter(
        (F.col("role") != "assistant") & F.col("text").startswith("[A] ")
    ).count() == 0
    with pytest.raises(DiffSyncSparkError):
        table.update_where("true", set={"conv_id": F.lit("x")})


def test_observe_cache_overflow_keeps_schema_entries(spark, tmp_path,
                                                     target_df):
    """The handle's expression cache is capped against an unbounded
    stream of observe keys (one per touched-bucket subset); reaching the
    cap evicts only those, never the schema-keyed merge expressions."""
    table = _bootstrap(spark, tmp_path, target_df)
    merge_keys = [k for k in table._expr_cache if k[0] == "merge_sel"]
    assert merge_keys, "setup: the bootstrap merge caches its selection"
    frame = spark.range(1)
    for i in range(300):
        table._observe_buckets(frame, f"o{i}", [i], {"n": "id = {b}"})
    assert all(k in table._expr_cache for k in merge_keys)
    n_obs = sum(k[0] == "observe" for k in table._expr_cache)
    assert 0 < n_obs <= 257


def test_file_stats_errors_log_or_propagate(spark, tmp_path, target_df,
                                            monkeypatch, caplog):
    """The manifest's per-file column stats: an unreadable footer leaves
    that file without stats (logged once per process at WARNING) and the
    merge still commits; any other error propagates."""
    import logging

    import pyarrow.parquet as pq

    from diffsync_spark import metrics

    table = SnapshotTable.create(
        spark, str(tmp_path / "table"), TRANSCRIPT_MODEL,
        schema=target_df.schema, n_buckets=4,
    )
    batch = target_df.withColumn("op", F.lit("insert"))
    monkeypatch.setattr(metrics, "_warned_fallbacks", set())

    def raiser(exc):
        def f(*args, **kwargs):
            raise exc
        return f

    monkeypatch.setattr(pq, "ParquetFile", raiser(OSError("footer gone")))
    with caplog.at_level(logging.WARNING, logger="diffsync_spark.metrics"):
        res = table.merge(batch, mode="force", checkpoint_id="boot",
                          batch_id=0)
    assert res["n_create"] == target_df.count()
    assert not table._manifest().get("_file_stats")
    logged = [r for r in caplog.records if "file stats" in r.getMessage()]
    assert len(logged) == 1 and "footer gone" in logged[0].getMessage()
    monkeypatch.setattr(pq, "ParquetFile", raiser(TypeError("a real bug")))
    with pytest.raises(TypeError, match="a real bug"):
        table.merge(batch.withColumn("text", F.lit("x")), mode="force",
                    checkpoint_id="boot", batch_id=1)


def test_read_resolves_the_manifest_once(spark, tmp_path, target_df):
    """read() reads and hydrates the manifest once, so a commit landing
    between two reads can never pair one version's schema with the next
    version's files."""
    table = _bootstrap(spark, tmp_path, target_df)
    calls = []
    manifest = table._manifest

    def counting(version=None):
        calls.append(version)
        return manifest(version)

    table._manifest = counting
    assert table.read().count() == target_df.count()
    assert calls == [None]
    calls.clear()
    assert table.read(version=1, buckets=[0, 1]).columns == target_df.columns
    assert calls == [1]
