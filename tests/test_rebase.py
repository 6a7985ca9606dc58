"""Metadata-only commit rebase: a writer that loses a commit race to a
winner that provably touched DISJOINT buckets must re-commit its
already-written data files without recomputing anything — concurrent
disjoint writers serialize on manifest I/O alone.

The reference's multi-worker story shares one store with per-key writes
(``/root/reference/diffsync/store/redis.py:56-90``) so disjoint writers
never conflict at all; this is the snapshot-table analog of that property
under optimistic concurrency. Overlapping writers must still take the
full recompute path (test below), because their outputs are genuinely
order-dependent."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from diffsync_spark.model import TRANSCRIPT_MODEL
from diffsync_spark.sinks.table import SnapshotTable
from diffsync_spark.sinks.fsio import RacingCommitIO

N_BUCKETS = 8
_CDC_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp, op string, seq long"
)


def _bootstrap(spark, path, target_df, write_mode="cow"):
    table = SnapshotTable.create(
        spark, str(path), TRANSCRIPT_MODEL, schema=target_df.schema,
        n_buckets=N_BUCKETS, write_mode=write_mode,
    )
    table.merge(target_df.withColumn("op", F.lit("insert")), mode="force",
                checkpoint_id="bootstrap", batch_id=0)
    return table


def _buckets_of(spark, convs):
    rows = (
        spark.createDataFrame([(c,) for c in convs], "conv_id string")
        .select("conv_id",
                F.pmod(F.xxhash64("conv_id"), F.lit(N_BUCKETS))
                .cast("int").alias("b"))
        .collect()
    )
    return {r.conv_id: r.b for r in rows}


def _conv_pair(spark, want_disjoint: bool):
    """Two conv ids whose buckets are (dis)joint under the table's hash."""
    convs = [f"rb_conv_{i}" for i in range(64)]
    bs = _buckets_of(spark, convs)
    for i, a in enumerate(convs):
        for b in convs[i + 1:]:
            if (bs[a] != bs[b]) == want_disjoint:
                return a, b
    raise AssertionError("no conv pair found")  # 64 draws over 8 buckets


def _batch(spark, conv, turns=range(3), text="t", ts_s=0):
    t0 = datetime.datetime(2032, 1, 1) + datetime.timedelta(seconds=ts_s)
    return spark.createDataFrame(
        [(conv, i, "user", f"{text} {i}", None,
          t0 + datetime.timedelta(seconds=i), "insert", i) for i in turns],
        _CDC_SCHEMA,
    )


def test_disjoint_cow_race_rebases_metadata_only(spark, tmp_path, target_df):
    conv_a, conv_b = _conv_pair(spark, want_disjoint=True)
    table = _bootstrap(spark, tmp_path / "t", target_df)
    writer_b = SnapshotTable.load(spark, table.path, TRANSCRIPT_MODEL)

    def interloper():
        writer_b.merge(_batch(spark, conv_b, text="B"),
                       checkpoint_id="wb", batch_id=1)

    writer_a = SnapshotTable.load(
        spark, table.path, TRANSCRIPT_MODEL,
        io=RacingCommitIO(interloper, races=1),
    )
    res = writer_a.merge(_batch(spark, conv_a, text="A"),
                         checkpoint_id="wa", batch_id=1)
    assert res["metadata_rebases"] == 1
    assert res["commit_retries"] == 0
    assert res["n_create"] == 3
    # both batches landed exactly once, on top of each other
    state = table.read()
    assert state.filter(F.col("conv_id") == conv_a).count() == 3
    assert state.filter(F.col("conv_id") == conv_b).count() == 3
    # B committed v3, A rebased onto it as v4; time travel to B's snapshot
    # must NOT see A (the rebased commit is strictly after the winner)
    assert table.current_version() == 4
    at_b = table.read(version=3)
    assert at_b.filter(F.col("conv_id") == conv_b).count() == 3
    assert at_b.filter(F.col("conv_id") == conv_a).count() == 0
    # metadata-only counts stayed exact through the rebase
    assert table.count_rows() == state.count()
    # lineage records both writers
    cks = {r.checkpoint_id for r in table.lineage_df().collect()}
    assert {"wa", "wb"} <= cks
    # GC right after: the rebased dir is REFERENCED (committed), no orphan
    assert table.remove_orphans()["removed_dirs"] == []


def test_overlapping_race_falls_back_to_recompute(spark, tmp_path, target_df):
    conv_a, conv_b = _conv_pair(spark, want_disjoint=False)
    table = _bootstrap(spark, tmp_path / "t", target_df)
    writer_b = SnapshotTable.load(spark, table.path, TRANSCRIPT_MODEL)

    writer_a = SnapshotTable.load(
        spark, table.path, TRANSCRIPT_MODEL,
        io=RacingCommitIO(
            lambda: writer_b.merge(_batch(spark, conv_b, text="B"),
                                   checkpoint_id="wb", batch_id=1),
            races=1,
        ),
    )
    res = writer_a.merge(_batch(spark, conv_a, text="A"),
                         checkpoint_id="wa", batch_id=1)
    assert res["metadata_rebases"] == 0
    assert res["commit_retries"] == 1
    state = table.read()
    assert state.filter(F.col("conv_id") == conv_a).count() == 3
    assert state.filter(F.col("conv_id") == conv_b).count() == 3


def test_repeated_disjoint_races_all_rebase(spark, tmp_path, target_df):
    """Every rebase attempt can itself lose to a fresh disjoint winner; the
    loop keeps rebasing metadata-only, bounded, and lands exactly once."""
    conv_a, conv_b = _conv_pair(spark, want_disjoint=True)
    table = _bootstrap(spark, tmp_path / "t", target_df)
    writer_b = SnapshotTable.load(spark, table.path, TRANSCRIPT_MODEL)
    n = [0]

    def interloper():
        n[0] += 1
        writer_b.merge(_batch(spark, conv_b, turns=range(n[0], n[0] + 1),
                              text=f"B{n[0]}"),
                       checkpoint_id="wb", batch_id=n[0])

    writer_a = SnapshotTable.load(
        spark, table.path, TRANSCRIPT_MODEL,
        io=RacingCommitIO(interloper, races=3),
    )
    res = writer_a.merge(_batch(spark, conv_a, text="A"),
                         checkpoint_id="wa", batch_id=1)
    assert res["metadata_rebases"] == 3
    assert res["commit_retries"] == 0
    state = table.read()
    assert state.filter(F.col("conv_id") == conv_a).count() == 3
    assert state.filter(F.col("conv_id") == conv_b).count() == 3


def test_mor_append_race_rebases_and_folds_correctly(spark, tmp_path,
                                                     target_df):
    """A merge-on-read delta layer's content never depends on the snapshot
    it lands on — a disjoint race re-commits the layer metadata-only, and
    the LWW fold ordering survives the version renumbering (the files'
    physical __commit keeps the original attempt number)."""
    conv_a, conv_b = _conv_pair(spark, want_disjoint=True)
    table = _bootstrap(spark, tmp_path / "t", target_df, write_mode="mor")
    writer_b = SnapshotTable.load(spark, table.path, TRANSCRIPT_MODEL)

    writer_a = SnapshotTable.load(
        spark, table.path, TRANSCRIPT_MODEL,
        io=RacingCommitIO(
            lambda: writer_b.merge(_batch(spark, conv_b, text="B"),
                                   checkpoint_id="wb", batch_id=1),
            races=1,
        ),
    )
    res = writer_a.merge(_batch(spark, conv_a, text="A", ts_s=100),
                         checkpoint_id="wa", batch_id=1)
    assert res["metadata_rebases"] == 1
    assert res["commit_retries"] == 0
    assert res["n_append"] == 3
    state = table.read()
    assert state.filter(F.col("conv_id") == conv_a).count() == 3
    assert state.filter(F.col("conv_id") == conv_b).count() == 3

    # LWW through the rebased layer: an OLDER event must lose to it, a
    # NEWER one must win — the fold's total order is intact
    older = _batch(spark, conv_a, turns=[0], text="stale", ts_s=0)
    newer = _batch(spark, conv_a, turns=[1], text="fresh", ts_s=500)
    table.merge(older, checkpoint_id="wa", batch_id=2)
    table.merge(newer, checkpoint_id="wa", batch_id=3)
    rows = {
        r.turn_idx: r.text
        for r in table.read().filter(F.col("conv_id") == conv_a).collect()
    }
    assert rows[0] == "A 0"        # rebased layer beat the older event
    assert rows[1] == "fresh 1"    # newer event beat the rebased layer

    # compaction folds everything back to base and agrees
    table.compact()
    rows2 = {
        r.turn_idx: r.text
        for r in table.read().filter(F.col("conv_id") == conv_a).collect()
    }
    assert rows2 == rows


def test_compact_race_rebases_metadata_only(spark, tmp_path, target_df):
    """Targeted compaction racing an ingest stream on OTHER buckets — the
    100 TB steady state — must not re-fold, just re-commit its manifest."""
    conv_a, conv_b = _conv_pair(spark, want_disjoint=True)
    table = _bootstrap(spark, tmp_path / "t", target_df)
    table.merge(_batch(spark, conv_a, text="A"), checkpoint_id="in",
                batch_id=1)
    bucket_a = _buckets_of(spark, [conv_a])[conv_a]
    writer_b = SnapshotTable.load(spark, table.path, TRANSCRIPT_MODEL)

    compactor = SnapshotTable.load(
        spark, table.path, TRANSCRIPT_MODEL,
        io=RacingCommitIO(
            lambda: writer_b.merge(_batch(spark, conv_b, text="B"),
                                   checkpoint_id="wb", batch_id=1),
            races=1,
        ),
    )
    res = compactor.compact(buckets=[bucket_a])
    assert not res["skipped"]
    assert res["metadata_rebases"] == 1
    assert res["compacted_buckets"] == [bucket_a]
    state = table.read()
    assert state.filter(F.col("conv_id") == conv_a).count() == 3
    assert state.filter(F.col("conv_id") == conv_b).count() == 3


def test_winner_schema_evolution_blocks_rebase(spark, tmp_path, target_df):
    """A winner that EVOLVED the schema invalidates the loser's written
    files (they lack the new column's field id) — must recompute."""
    conv_a, conv_b = _conv_pair(spark, want_disjoint=True)
    table = _bootstrap(spark, tmp_path / "t", target_df)
    writer_b = SnapshotTable.load(spark, table.path, TRANSCRIPT_MODEL)
    evolved_b = _batch(spark, conv_b, text="B").withColumn(
        "sentiment", F.lit(0.5))

    writer_a = SnapshotTable.load(
        spark, table.path, TRANSCRIPT_MODEL,
        io=RacingCommitIO(
            lambda: writer_b.merge(evolved_b, checkpoint_id="wb", batch_id=1),
            races=1,
        ),
    )
    res = writer_a.merge(_batch(spark, conv_a, text="A"),
                         checkpoint_id="wa", batch_id=1)
    assert res["metadata_rebases"] == 0
    assert res["commit_retries"] == 1
    state = table.read()
    assert "sentiment" in state.columns
    assert state.filter(F.col("conv_id") == conv_a).count() == 3
    assert (state.filter(F.col("conv_id") == conv_a)
            .filter(F.col("sentiment").isNull()).count() == 3)
    assert (state.filter(F.col("conv_id") == conv_b)
            .filter(F.col("sentiment") == 0.5).count() == 3)


def test_winner_layer_on_loser_bucket_blocks_rebase(spark, tmp_path,
                                                    target_df):
    """MoR: a winner layering onto one of the loser's buckets is an
    overlap even though the BASE file lists still match — the layer
    comparison must catch it (same conv → same bucket)."""
    conv_a, conv_b = _conv_pair(spark, want_disjoint=False)
    table = _bootstrap(spark, tmp_path / "t", target_df, write_mode="mor")
    writer_b = SnapshotTable.load(spark, table.path, TRANSCRIPT_MODEL)

    writer_a = SnapshotTable.load(
        spark, table.path, TRANSCRIPT_MODEL,
        io=RacingCommitIO(
            lambda: writer_b.merge(_batch(spark, conv_b, text="B"),
                                   checkpoint_id="wb", batch_id=1),
            races=1,
        ),
    )
    res = writer_a.merge(_batch(spark, conv_a, text="A"),
                         checkpoint_id="wa", batch_id=1)
    assert res["metadata_rebases"] == 0
    assert res["commit_retries"] == 1
    state = table.read()
    assert state.filter(F.col("conv_id") == conv_a).count() == 3
    assert state.filter(F.col("conv_id") == conv_b).count() == 3


def test_rebased_commit_survives_reload_and_time_travel(spark, tmp_path,
                                                        target_df):
    """A fresh handle (cold caches, re-hydrated manifests) reads the
    rebased chain: history, incremental changes, and per-version reads."""
    conv_a, conv_b = _conv_pair(spark, want_disjoint=True)
    table = _bootstrap(spark, tmp_path / "t", target_df)
    writer_b = SnapshotTable.load(spark, table.path, TRANSCRIPT_MODEL)

    writer_a = SnapshotTable.load(
        spark, table.path, TRANSCRIPT_MODEL,
        io=RacingCommitIO(
            lambda: writer_b.merge(_batch(spark, conv_b, text="B"),
                                   checkpoint_id="wb", batch_id=1),
            races=1,
        ),
    )
    res = writer_a.merge(_batch(spark, conv_a, text="A"),
                         checkpoint_id="wa", batch_id=1)
    assert res["metadata_rebases"] == 1

    fresh = SnapshotTable.load(spark, table.path, TRANSCRIPT_MODEL)
    assert fresh.current_version() == 4
    hist = fresh.history().toPandas()
    assert sorted(hist["version"]) == [1, 2, 3, 4]
    # incremental read across the rebased commit sees exactly A's rows
    chg = fresh.changes(3, 4)
    assert chg.filter(F.col("conv_id") == conv_a).count() == 3
    assert chg.filter(F.col("conv_id") == conv_b).count() == 0
    # exactly-once: replaying A's batch is a no-op on the rebased chain
    res2 = fresh.merge(_batch(spark, conv_a, text="A"),
                       checkpoint_id="wa", batch_id=1)
    assert res2["skipped"]


def _with_bad_row(spark, batch):
    """``batch`` plus one null-key row the merge must quarantine."""
    bad = spark.createDataFrame(
        [(None, 0, "user", "bad", None, datetime.datetime(2032, 1, 1),
          "insert", 99)],
        _CDC_SCHEMA,
    )
    return batch.unionByName(bad)


@pytest.mark.parametrize("disjoint", [True, False])
def test_mor_race_with_quarantine(spark, tmp_path, target_df, disjoint):
    """The merge-on-read append path takes its touched buckets from the
    layer it wrote, and its quarantine counts from the write query. A lost
    race still rebases metadata-only when the writers are disjoint and
    recomputes when they share a bucket — either way the quarantine rows
    and their lineage land exactly once."""
    conv_a, conv_b = _conv_pair(spark, want_disjoint=disjoint)
    table = _bootstrap(spark, tmp_path / "t", target_df, write_mode="mor")
    writer_b = SnapshotTable.load(spark, table.path, TRANSCRIPT_MODEL)
    writer_a = SnapshotTable.load(
        spark, table.path, TRANSCRIPT_MODEL,
        io=RacingCommitIO(
            lambda: writer_b.merge(_batch(spark, conv_b, text="B"),
                                   checkpoint_id="wb", batch_id=1),
            races=1,
        ),
    )
    res = writer_a.merge(
        _with_bad_row(spark, _batch(spark, conv_a, text="A", ts_s=100)),
        checkpoint_id="wa", batch_id=1)
    assert (res["metadata_rebases"], res["commit_retries"]) == (
        (1, 0) if disjoint else (0, 1))
    assert res["n_append"] == 3 and res["n_quarantined"] == 1
    assert res["touched_buckets"] == sorted(
        _buckets_of(spark, [conv_a]).values())
    state = table.read()
    assert state.filter(F.col("conv_id") == conv_a).count() == 3
    assert state.filter(F.col("conv_id") == conv_b).count() == 3
    assert [r.text for r in table.quarantine_df().collect()] == ["bad"]
    lin = table.lineage_df().filter(
        (F.col("checkpoint_id") == "wa") & (F.col("partition") == -1)
    ).collect()
    assert [r.n_quarantined for r in lin] == [1]
    assert len(table._manifest()["deltas"]) == 2


@pytest.mark.parametrize("disjoint", [True, False])
def test_snapshot_sync_race(spark, tmp_path, target_df, disjoint):
    """A snapshot sync (``Engine.sync_from`` without a precomputed diff)
    commits only the buckets it changed. Losing the race to a writer in
    other buckets rebases metadata-only — the sync serializes first, so
    the winner's rows survive. Losing to a writer in a shared bucket
    recomputes against the winner's snapshot and converges to the
    source."""
    from diffsync_spark.engine import Engine

    conv_a, conv_b = _conv_pair(spark, want_disjoint=disjoint)
    table = _bootstrap(spark, tmp_path / "t", target_df)
    writer_b = SnapshotTable.load(spark, table.path, TRANSCRIPT_MODEL)
    writer_a = SnapshotTable.load(
        spark, table.path, TRANSCRIPT_MODEL,
        io=RacingCommitIO(
            lambda: writer_b.merge(_batch(spark, conv_b, text="B"),
                                   checkpoint_id="wb", batch_id=1),
            races=1,
        ),
    )
    source = target_df.unionByName(
        _batch(spark, conv_a, text="A").drop("op", "seq"))
    engine = Engine(spark, TRANSCRIPT_MODEL, writer_a)
    res = engine.sync_from(source, batch_id=1)
    assert (res["metadata_rebases"], res["commit_retries"]) == (
        (1, 0) if disjoint else (0, 1))
    assert res["n_create"] == 3 and res["n_update"] == 0
    assert res["n_delete"] == (0 if disjoint else 3)
    assert res["touched_buckets"] == sorted(
        set(_buckets_of(spark, [conv_a] if disjoint
                        else [conv_a, conv_b]).values()))
    state = table.read()
    assert state.filter(F.col("conv_id") == conv_a).count() == 3
    assert state.filter(F.col("conv_id") == conv_b).count() == (
        3 if disjoint else 0)
    assert table.count_rows() == state.count()
    if disjoint:
        # the rebased attempt dir is referenced: no orphan
        assert table.remove_orphans()["removed_dirs"] == []
    else:
        assert engine.converged(source)
