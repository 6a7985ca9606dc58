"""Structured Streaming replay: end-to-end, checkpoint resume, exactly-once."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from diffsync_spark.model import TRANSCRIPT_MODEL
from diffsync_spark.oracle import OracleStore
from diffsync_spark.sinks.table import SnapshotTable
from diffsync_spark.streaming.replay import stream_replay

IDS = ["conv_id", "turn_idx"]
PAYLOAD = ["role", "text", "tool", "ts"]
CHANGELOG_DDL = (
    "seq long, op string, conv_id string, turn_idx int, role string, "
    "text string, tool string, ts timestamp"
)


def _write_changelog_files(spark, changelog_pdf, out_dir: str, n_files: int = 6):
    """Append-only changelog dir: contiguous seq ranges, one parquet file each
    (the binlog-segment stand-in)."""
    os.makedirs(out_dir, exist_ok=True)
    span = (len(changelog_pdf) + n_files - 1) // n_files
    for i in range(n_files):
        part = changelog_pdf.iloc[i * span : (i + 1) * span]
        if len(part):
            spark.createDataFrame(part).coalesce(1).write.mode("append").parquet(
                out_dir
            )


@pytest.fixture()
def table(spark, tmp_path, target_df):
    t = SnapshotTable.create(
        spark, str(tmp_path / "tbl"), TRANSCRIPT_MODEL,
        schema=target_df.schema, n_buckets=8,
    )
    t.merge(target_df.withColumn("op", F.lit("insert")), mode="force",
            checkpoint_id="bootstrap", batch_id=0)
    return t


def _oracle_final(target_pdf, changelog_pdf) -> pd.DataFrame:
    store = OracleStore.from_snapshot(target_pdf, IDS, PAYLOAD)
    store.apply_changelog(changelog_pdf)
    return store.final_df().sort_values(IDS).reset_index(drop=True)


def _state(table) -> pd.DataFrame:
    return table.read().toPandas().sort_values(IDS).reset_index(drop=True)


def test_stream_replay_end_to_end(spark, tmp_path, table, target_pdf, changelog_pdf):
    log_dir = str(tmp_path / "changelog")
    _write_changelog_files(spark, changelog_pdf, log_dir)
    q = stream_replay(
        table, log_dir, CHANGELOG_DDL, str(tmp_path / "ckpt"),
        max_files_per_trigger=2,
    )
    q.awaitTermination(300)
    want = _oracle_final(target_pdf, changelog_pdf)
    got = _state(table)
    assert len(got) == len(want)
    assert list(got["text"].fillna("∅")) == list(want["text"].fillna("∅"))


def test_stream_resume_from_checkpoint(spark, tmp_path, table, target_pdf,
                                       changelog_pdf):
    """Stop mid-stream, restart with the same checkpoint → converges to the
    same final state; already-applied batches are not re-applied."""
    log_dir = str(tmp_path / "changelog")
    ckpt = str(tmp_path / "ckpt")
    half = len(changelog_pdf) // 2
    _write_changelog_files(spark, changelog_pdf.iloc[:half], log_dir, n_files=3)
    q1 = stream_replay(table, log_dir, CHANGELOG_DDL, ckpt, max_files_per_trigger=1)
    q1.awaitTermination(300)
    v_mid = table.current_version()
    # more segments arrive; resume from the SAME checkpoint
    _write_changelog_files(spark, changelog_pdf.iloc[half:], log_dir, n_files=3)
    q2 = stream_replay(table, log_dir, CHANGELOG_DDL, ckpt, max_files_per_trigger=1)
    q2.awaitTermination(300)
    assert table.current_version() > v_mid
    want = _oracle_final(target_pdf, changelog_pdf)
    got = _state(table)
    assert len(got) == len(want)
    assert list(got["text"].fillna("∅")) == list(want["text"].fillna("∅"))
    # exactly-once: lineage has no duplicate (checkpoint, batch) pairs
    lin = table.lineage_df().filter("checkpoint_id like 'stream_%'").toPandas()
    pairs = lin[["checkpoint_id", "batch_id", "snapshot_id"]].drop_duplicates()
    assert not pairs.duplicated(["checkpoint_id", "batch_id"]).any()


def test_stream_prefilter_identical_state_less_input(spark, tmp_path, target_df,
                                                     changelog_pdf):
    """stream_replay(stateful_prefilter=True) must (a) converge to a final
    state byte-identical to the unfiltered replay of the SAME feed and
    (b) demonstrably cut the rows entering the MERGE (n_input) on a
    duplicate-heavy changelog — the filter is an optimization with
    correctness anchored at the transactional sink."""
    dup = changelog_pdf.loc[changelog_pdf.index.repeat(2)].reset_index(drop=True)
    dup["seq"] = range(len(dup))  # consecutive seqs; payload pairs identical
    log_dir = str(tmp_path / "chg")
    _write_changelog_files(spark, dup, log_dir, n_files=4)

    def run(prefilter: bool, name: str):
        t = SnapshotTable.create(
            spark, str(tmp_path / name), TRANSCRIPT_MODEL,
            schema=target_df.schema, n_buckets=8,
        )
        t.merge(target_df.withColumn("op", F.lit("insert")), mode="force",
                checkpoint_id="boot", batch_id=0)
        results: list = []
        q = stream_replay(
            t, log_dir, CHANGELOG_DDL, str(tmp_path / f"ckpt_{name}"),
            max_files_per_trigger=2, stateful_prefilter=prefilter,
            results=results,
        )
        q.awaitTermination(300)
        return t, sum(r.get("n_input", 0) for r in results
                      if not r.get("skipped"))

    t_plain, in_plain = run(False, "plain")
    t_filt, in_filt = run(True, "filt")
    pd.testing.assert_frame_equal(_state(t_plain), _state(t_filt))
    assert 0 < in_filt < in_plain  # real reduction, with rows still flowing


def test_stream_prefilter_with_ttl_ends(spark, tmp_path, target_df,
                                        changelog_pdf):
    """An availableNow ``stream_replay`` through the pre-filter with a
    state TTL ends once the feed is drained (the TTL's processing-time
    timeout would keep it running empty batches), and lands the same
    state as a plain replay of the feed."""
    from diffsync_spark.streaming.replay import replay_batches

    log_dir = str(tmp_path / "chg")
    _write_changelog_files(spark, changelog_pdf, log_dir, n_files=2)
    tables = []
    for name in ("ttl", "plain"):
        t = SnapshotTable.create(spark, str(tmp_path / name),
                                 TRANSCRIPT_MODEL, schema=target_df.schema,
                                 n_buckets=4)
        t.merge(target_df.withColumn("op", F.lit("insert")), mode="force",
                checkpoint_id="boot", batch_id=0)
        tables.append(t)
    q = stream_replay(tables[0], log_dir, CHANGELOG_DDL,
                      str(tmp_path / "ckpt"), max_files_per_trigger=1,
                      stateful_prefilter=True, state_ttl="1 millisecond")
    assert q.awaitTermination(120)
    replay_batches(tables[1], spark.read.parquet(log_dir), n_batches=2,
                   checkpoint_id="r")
    pd.testing.assert_frame_equal(_state(tables[0]), _state(tables[1]))


def test_two_streams_one_table(spark, tmp_path, target_df, changelog_pdf):
    """Two Structured Streaming replays (distinct checkpoints, disjoint
    event slices) feed ONE table concurrently — the multi-worker shared
    store story through the REAL streaming path. Commit conflicts between
    interleaving micro-batches are resolved by the sink's retry/rebase:
    both streams land fully, exactly once, and the final state equals a
    serial replay of the combined feed."""
    half = len(changelog_pdf) // 2
    dir_a, dir_b = str(tmp_path / "chg_a"), str(tmp_path / "chg_b")
    _write_changelog_files(spark, changelog_pdf.iloc[:half], dir_a, n_files=3)
    _write_changelog_files(spark, changelog_pdf.iloc[half:], dir_b, n_files=3)

    t = SnapshotTable.create(
        spark, str(tmp_path / "tbl_c"), TRANSCRIPT_MODEL,
        schema=target_df.schema, n_buckets=8,
    )
    t.merge(target_df.withColumn("op", F.lit("insert")), mode="force",
            checkpoint_id="boot", batch_id=0)
    qa = stream_replay(t, dir_a, CHANGELOG_DDL, str(tmp_path / "ck_a"),
                       max_files_per_trigger=1)
    qb = stream_replay(t, dir_b, CHANGELOG_DDL, str(tmp_path / "ck_b"),
                       max_files_per_trigger=1)
    qa.awaitTermination(300)
    qb.awaitTermination(300)

    serial = SnapshotTable.create(
        spark, str(tmp_path / "tbl_s"), TRANSCRIPT_MODEL,
        schema=target_df.schema, n_buckets=8,
    )
    serial.merge(target_df.withColumn("op", F.lit("insert")), mode="force",
                 checkpoint_id="boot", batch_id=0)
    full = spark.createDataFrame(changelog_pdf)
    serial.merge(full, checkpoint_id="serial", batch_id=1)
    pd.testing.assert_frame_equal(_state(t), _state(serial))
    # exactly-once: no duplicate (checkpoint, batch) pairs across streams
    lin = t.lineage_df().filter("checkpoint_id like 'stream_%'").toPandas()
    pairs = lin[["checkpoint_id", "batch_id", "snapshot_id"]].drop_duplicates()
    assert not pairs.duplicated(["checkpoint_id", "batch_id"]).any()
    assert lin["checkpoint_id"].nunique() == 2    # both streams committed


def test_stateful_lww_filter(spark, tmp_path, changelog_pdf):
    """applyInPandasWithState pre-filter: per key, each micro-batch forwards
    at most one winner and only when it beats the key's high-water mark —
    later micro-batches re-delivering older events emit nothing."""
    from diffsync_spark.streaming.stateful import stateful_lww_filter

    chg_dir = str(tmp_path / "chg")
    _write_changelog_files(spark, changelog_pdf, chg_dir, n_files=4)
    stream = (
        spark.readStream.schema(CHANGELOG_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(chg_dir)
    )
    filtered = stateful_lww_filter(stream, TRANSCRIPT_MODEL)
    q = (
        filtered.writeStream.format("memory")
        .queryName("lww_filtered")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from lww_filtered").toPandas()

    # survivors are unique-ish per key per batch; the LAST emission per key
    # must be that key's true LWW winner over the whole changelog
    last = (
        got.sort_values("seq").groupby(IDS, dropna=False).tail(1)
        .set_index(IDS)
    )
    want = (
        changelog_pdf.sort_values(["ts", "seq"])
        .groupby(IDS, dropna=False).tail(1).set_index(IDS)
    )
    assert set(last.index) <= set(want.index)
    joined = last.join(want, rsuffix="_want", how="inner")
    newer_or_equal = (
        (joined["ts"] >= joined["ts_want"]) | joined["ts"].isna()
    )
    assert newer_or_equal.all()
    # and strictly fewer rows reach the sink than raw events
    assert len(got) < len(changelog_pdf)


def test_stateful_filter_ttl_eviction_is_safe(spark, tmp_path, target_df,
                                              changelog_pdf):
    """With an aggressive state TTL, evictions may let duplicates through —
    but the merged final state must be IDENTICAL to a plain replay (the
    filter is an optimization; the sink is the correctness anchor)."""
    from diffsync_spark.streaming.replay import replay_batches
    from diffsync_spark.streaming.stateful import (
        no_data_batches_off,
        stateful_lww_filter,
    )

    chg_dir = str(tmp_path / "chg")
    _write_changelog_files(spark, changelog_pdf, chg_dir, n_files=4)

    ta = SnapshotTable.create(spark, str(tmp_path / "a"), TRANSCRIPT_MODEL,
                              schema=target_df.schema, n_buckets=4)
    ta.merge(target_df.withColumn("op", F.lit("insert")), mode="force",
             checkpoint_id="b", batch_id=0)
    stream = (spark.readStream.schema(CHANGELOG_DDL)
              .option("maxFilesPerTrigger", 1).parquet(chg_dir))
    filtered = stateful_lww_filter(stream, TRANSCRIPT_MODEL,
                                   state_ttl="1 millisecond")
    # the TTL's processing-time timeout asks for a batch after every batch;
    # without no-data batches the bounded query ends once drained
    with no_data_batches_off(spark):
        q = (filtered.writeStream.foreachBatch(
                lambda df, bid: ta.merge(df, checkpoint_id="s", batch_id=bid,
                                         mode="lww"))
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True).start())
    assert q.awaitTermination(180)

    tb = SnapshotTable.create(spark, str(tmp_path / "b"), TRANSCRIPT_MODEL,
                              schema=target_df.schema, n_buckets=4)
    tb.merge(target_df.withColumn("op", F.lit("insert")), mode="force",
             checkpoint_id="b", batch_id=0)
    replay_batches(tb, spark.read.parquet(chg_dir), n_batches=4,
                   checkpoint_id="r")
    a = ta.read().orderBy("conv_id", "turn_idx").toPandas().reset_index(drop=True)
    b = tb.read().orderBy("conv_id", "turn_idx").toPandas().reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_no_data_batches_off_is_thread_safe(spark):
    """Threads that enter ``no_data_batches_off`` on one session at once
    each see no-data batches off inside the block, and the session's
    setting is restored after the last one leaves."""
    import sys
    import threading

    from diffsync_spark.streaming.stateful import no_data_batches_off

    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev = spark.conf.get(key, None)
    spark.conf.unset(key)
    seen: list[str] = []
    errors: list[BaseException] = []

    def worker():
        try:
            for _ in range(15):
                with no_data_batches_off(spark):
                    seen.append(spark.conf.get(key))
        except BaseException as e:  # re-raised on the main thread
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(interval)
        if prev is not None:
            spark.conf.set(key, prev)
    assert not errors, errors
    assert seen == ["false"] * 8 * 15
    assert spark.conf.get(key, None) == prev


def test_session_window_stats(spark, tmp_path):
    """F.session_window merges sub-gap events into one window and finalizes
    it once the watermark passes session_end + gap; a later event opens a
    new session rather than growing the closed one."""
    import datetime

    from diffsync_spark.streaming.windowed import session_change_stats

    chg_dir = str(tmp_path / "chg")
    os.makedirs(chg_dir)
    T0 = datetime.datetime(2025, 6, 1, 12, 0, 0)

    def rows(specs):
        return [("c1", i, "user", "x", None,
                 T0 + datetime.timedelta(seconds=s), op, i)
                for i, (s, op) in enumerate(specs)]

    ddl = ("conv_id string, turn_idx int, role string, text string, "
           "tool string, ts timestamp, op string, seq long")
    out: list = []

    def run_once():
        stream = (spark.readStream.schema(ddl)
                  .option("maxFilesPerTrigger", 1).parquet(chg_dir))
        agg = session_change_stats(stream, gap="1 minute",
                                   watermark="2 minutes")
        q = (agg.writeStream.foreachBatch(
                lambda df, bid: out.extend(df.collect()))
             .outputMode("append")
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    # session A: events at 0s and 30s (gap < 1 min → one session ending
    # 30s+60s=90s); the 600s event advances the watermark to ~8 min,
    # finalizing A while its own session stays open
    f1 = rows([(0, "update"), (30, "delete"), (600, "update")])
    spark.createDataFrame(f1, ddl).coalesce(1).write.mode("append").parquet(chg_dir)
    run_once()
    got = {(r.session_start, r.session_end): (r.n_changes, r.n_deletes)
           for r in out}
    assert got == {
        (T0, T0 + datetime.timedelta(seconds=90)): (2, 1),
    }

    # 660s merges into the open 600s session (600+60>660... gap is 60s →
    # [600, 720]); 1800s pushes the watermark past 720+gap → finalized
    f2 = rows([(660, "update"), (1800, "update")])
    spark.createDataFrame(f2, ddl).coalesce(1).write.mode("append").parquet(chg_dir)
    run_once()
    got = {(r.session_start, r.session_end): (r.n_changes, r.n_deletes)
           for r in out}
    assert got[(T0 + datetime.timedelta(seconds=600),
                T0 + datetime.timedelta(seconds=720))] == (2, 0)


def test_windowed_change_rate_watermark(spark, tmp_path):
    """withWatermark windowed agg (ST3): on-time windows finalize once the
    watermark passes; an event arriving later than the watermark is excluded
    from the aggregate (while the merge path would still apply it)."""
    import datetime

    from diffsync_spark.streaming.windowed import windowed_change_rate

    chg_dir = str(tmp_path / "chg")
    os.makedirs(chg_dir)
    T0 = datetime.datetime(2025, 6, 1, 12, 0, 0)

    def rows(specs):
        return [("c1", i, "user", "x", None,
                 T0 + datetime.timedelta(seconds=s), op, i)
                for i, (s, op) in enumerate(specs)]

    # file 1: events in minute 0 and minute 10 (advances watermark to ~min 8)
    f1 = rows([(0, "update"), (30, "delete"), (600, "update")])
    # file 2: a LATE event back in minute 0 — older than the watermark
    f2 = rows([(10, "update")])
    ddl = ("conv_id string, turn_idx int, role string, text string, "
           "tool string, ts timestamp, op string, seq long")
    # two availableNow runs over one checkpoint: the watermark (advanced to
    # minute ~8 by run 1) PERSISTS, so run 2's late minute-0 event is
    # genuinely later-than-watermark — no reliance on file ordering
    out: list = []

    def run_once():
        stream = (spark.readStream.schema(ddl)
                  .option("maxFilesPerTrigger", 1).parquet(chg_dir))
        agg = windowed_change_rate(stream, window="1 minute",
                                   watermark="2 minutes")
        q = (agg.writeStream.foreachBatch(
                lambda df, bid: out.extend(df.collect()))
             .outputMode("append")
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    spark.createDataFrame(f1, ddl).coalesce(1).write.mode("append").parquet(chg_dir)
    run_once()
    spark.createDataFrame(f2, ddl).coalesce(1).write.mode("append").parquet(chg_dir)
    run_once()
    got = pd.DataFrame([r.asDict() for r in out])

    m0 = got[got.window_start == T0]
    assert len(m0) == 1
    # the late minute-0 event was dropped by the watermark: 2 events, not 3
    assert int(m0.n_changes.iloc[0]) == 2
    assert int(m0.n_deletes.iloc[0]) == 1

def test_pipe_changes_cascade(spark, tmp_path, target_df, changelog_df):
    """Two-table cascade (r3 verdict item 5): downstream tails upstream's
    own snapshot chain via stream_changes/pipe_changes — bootstrap, then
    incremental hops — and converges to the upstream state after every
    round, with exactly-once resume riding the downstream's own commit
    metadata (no external checkpoint store)."""
    import pandas as pd

    from diffsync_spark.model import TRANSCRIPT_MODEL
    from diffsync_spark.sinks.table import SnapshotTable
    from diffsync_spark.streaming.replay import pipe_changes, replay_batches

    up = SnapshotTable.create(
        spark, str(tmp_path / "up"), TRANSCRIPT_MODEL,
        schema=target_df.schema, n_buckets=8)
    up.merge(target_df.withColumn("op", F.lit("insert")), mode="force",
             checkpoint_id="boot", batch_id=0)
    down = SnapshotTable.create(
        spark, str(tmp_path / "down"), TRANSCRIPT_MODEL,
        schema=target_df.schema, n_buckets=8)

    def state(t):
        return (t.read().toPandas()
                .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))

    # hop 1: first pipe bootstraps downstream from upstream's snapshot
    r1 = pipe_changes(up, down, checkpoint_id="cascade")
    assert len(r1) >= 1 and not r1[0]["skipped"]
    pd.testing.assert_frame_equal(state(down), state(up))

    # hop 2: upstream advances by several commits; one pipe call coalesces
    # them into incremental hops and downstream converges again
    replay_batches(up, changelog_df, n_batches=3, checkpoint_id="chg")
    v_before = down.current_version()
    r2 = pipe_changes(up, down, checkpoint_id="cascade")
    assert len(r2) >= 1
    pd.testing.assert_frame_equal(state(down), state(up))
    assert down.current_version() > v_before

    # idempotent resume: nothing new upstream → no state change downstream
    s = state(down)
    pipe_changes(up, down, checkpoint_id="cascade")
    pd.testing.assert_frame_equal(state(down), s)

    # crash-replay: re-delivering the last hop's batch id is skipped by the
    # downstream commit metadata (exactly-once without external checkpoints)
    last_v = up.current_version()
    res = down.apply_diff(up.changes(1, last_v), checkpoint_id="cascade",
                          batch_id=down.committed_batch("cascade"))
    assert res["skipped"]
    pd.testing.assert_frame_equal(state(down), s)

def test_pipe_changes_propagates_schema_evolution(spark, tmp_path, target_df):
    """An upstream commit that ADDS a column must flow through the cascade:
    changes() carries the evolved after-struct, apply_diff maps it into the
    downstream merge, and the downstream table widens its schema — the
    bronze->silver evolution path, no manual DDL."""
    import datetime

    from diffsync_spark.model import TRANSCRIPT_MODEL
    from diffsync_spark.sinks.table import SnapshotTable
    from diffsync_spark.streaming.replay import pipe_changes

    up = SnapshotTable.create(
        spark, str(tmp_path / "up"), TRANSCRIPT_MODEL,
        schema=target_df.schema, n_buckets=4)
    up.merge(target_df.withColumn("op", F.lit("insert")), mode="force",
             checkpoint_id="boot", batch_id=0)
    down = SnapshotTable.create(
        spark, str(tmp_path / "down"), TRANSCRIPT_MODEL,
        schema=target_df.schema, n_buckets=4)
    pipe_changes(up, down, checkpoint_id="evo")
    assert "tool_call_id" not in down.read().columns

    ts = datetime.datetime(2031, 1, 1)
    evolved = spark.createDataFrame(
        [("ev_conv", 1, "assistant", "calls a tool", None, ts, "insert",
          "call_abc123")],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp, op string, tool_call_id string",
    )
    up.merge(evolved, checkpoint_id="chg", batch_id=1)
    pipe_changes(up, down, checkpoint_id="evo")
    got = down.read()
    assert "tool_call_id" in got.columns          # downstream widened
    row = got.filter(F.col("conv_id") == "ev_conv").first()
    assert row.tool_call_id == "call_abc123"
    # pre-existing rows read NULL through the widened schema
    assert got.filter(F.col("tool_call_id").isNull()).count() == target_df.count()

def test_pipe_changes_expired_resume_is_loud(spark, tmp_path, target_df,
                                             changelog_df):
    """If the upstream expires the snapshot a consumer would resume from,
    the tail must fail with an actionable error — never a raw
    FileNotFoundError or (worse) a silently wrong delta."""
    import pytest as _pytest

    from diffsync_spark.errors import DiffSyncSparkError
    from diffsync_spark.model import TRANSCRIPT_MODEL
    from diffsync_spark.sinks.table import SnapshotTable
    from diffsync_spark.streaming.replay import pipe_changes, replay_batches

    up = SnapshotTable.create(
        spark, str(tmp_path / "up"), TRANSCRIPT_MODEL,
        schema=target_df.schema, n_buckets=4)
    up.merge(target_df.withColumn("op", F.lit("insert")), mode="force",
             checkpoint_id="boot", batch_id=0)
    down = SnapshotTable.create(
        spark, str(tmp_path / "down"), TRANSCRIPT_MODEL,
        schema=target_df.schema, n_buckets=4)
    pipe_changes(up, down, checkpoint_id="lag")   # resume point = v2
    replay_batches(up, changelog_df, n_batches=5, checkpoint_id="chg")
    up.expire_snapshots(keep_last=2)              # v2 manifest dropped
    with _pytest.raises(DiffSyncSparkError, match="expired upstream"):
        pipe_changes(up, down, checkpoint_id="lag")

def test_pipe_changes_transform_silver_layer(spark, tmp_path, target_df):
    """The cascade's transform hook: a derived column (token count) and a
    cleansing rewrite (trimmed text) are applied to the bootstrap AND to
    every incremental hop — the downstream is an incrementally-maintained
    silver table, converging after updates and deletes."""
    import datetime

    from diffsync_spark.model import TRANSCRIPT_MODEL
    from diffsync_spark.sinks.table import SnapshotTable
    from diffsync_spark.streaming.replay import pipe_changes

    def silver(batch):
        return batch.withColumn(
            "text", F.trim(F.col("text"))
        ).withColumn(
            "n_tokens",
            F.when(F.col("op") != "delete",
                   F.size(F.split(F.trim(F.coalesce("text", F.lit(""))),
                                  r"\s+"))),
        )

    up = SnapshotTable.create(
        spark, str(tmp_path / "up"), TRANSCRIPT_MODEL,
        schema=target_df.schema, n_buckets=4)
    up.merge(target_df.withColumn("op", F.lit("insert")), mode="force",
             checkpoint_id="boot", batch_id=0)
    down = SnapshotTable.create(
        spark, str(tmp_path / "down"), TRANSCRIPT_MODEL,
        schema=target_df.schema, n_buckets=4)
    pipe_changes(up, down, checkpoint_id="silver", transform=silver)
    got = down.read()
    assert "n_tokens" in got.columns
    assert got.filter(F.col("n_tokens").isNull()).count() == 0

    ts = datetime.datetime(2032, 1, 1)
    up.merge(spark.createDataFrame(
        [("sv_new", 1, "user", "  three token line  ", None, ts, "insert")],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp, op string"),
        checkpoint_id="chg", batch_id=1)
    pipe_changes(up, down, checkpoint_id="silver", transform=silver)
    row = down.read().filter(F.col("conv_id") == "sv_new").first()
    assert row.text == "three token line" and row.n_tokens == 3

def test_stream_changes_respects_until_version(spark, tmp_path, target_df,
                                               changelog_df):
    """An explicit until_version is a hard end: hops never overshoot it
    even when the table has advanced past it (review fix), and the
    generator terminates without idle polling."""
    import pandas as pd

    from diffsync_spark.model import TRANSCRIPT_MODEL
    from diffsync_spark.sinks.table import SnapshotTable
    from diffsync_spark.streaming.replay import replay_batches, stream_changes

    up = SnapshotTable.create(
        spark, str(tmp_path / "up"), TRANSCRIPT_MODEL,
        schema=target_df.schema, n_buckets=4)
    up.merge(target_df.withColumn("op", F.lit("insert")), mode="force",
             checkpoint_id="boot", batch_id=0)
    v_boot = up.current_version()
    replay_batches(up, changelog_df, n_batches=4, checkpoint_id="chg")
    stop_at = v_boot + 2
    assert up.current_version() > stop_at
    hops = list(stream_changes(up, from_version=v_boot,
                               until_version=stop_at))
    assert hops and hops[-1][1] == stop_at       # never past the ask
    assert all(v_to <= stop_at for _, v_to, _ in hops)
    # the drained delta equals the direct changes() over the same range
    direct = up.changes(v_boot, stop_at).orderBy("conv_id", "turn_idx") \
        .toPandas().reset_index(drop=True)
    got = hops[0][2].orderBy("conv_id", "turn_idx").toPandas() \
        .reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got[["conv_id", "turn_idx", "op"]], direct[["conv_id", "turn_idx", "op"]]
    )


def test_seq_bounds_footer_fast_path(spark, tmp_path):
    """The replay's seq-bounds read comes from parquet footer statistics
    when (and only when) the input is a bare file scan; every guarded
    case falls back to None (→ the exact aggregate), and the fast value
    equals the aggregate exactly — including NULL seq rows, which both
    parquet min/max stats and F.min/F.max ignore."""
    from diffsync_spark.streaming.replay import _seq_bounds_from_footers

    d = str(tmp_path / "chg")
    df = spark.range(0, 10_000).select(
        F.when(F.col("id") % 97 == 0, None).otherwise(F.col("id"))
        .cast("long").alias("seq"),
        (F.col("id") % 7).alias("x"),
    )
    df.repartition(5).write.mode("overwrite").parquet(d)
    scan = spark.read.parquet(d)
    fast = _seq_bounds_from_footers(scan)
    agg = scan.agg(F.min("seq"), F.max("seq")).first()
    assert fast == (agg[0], agg[1])
    # any plan above the bare relation disables the fast path
    assert _seq_bounds_from_footers(scan.filter("seq > 5")) is None
    assert _seq_bounds_from_footers(scan.select("seq")) is None
    # an in-memory frame has no files to read footers from
    assert _seq_bounds_from_footers(
        spark.createDataFrame([(1,)], "seq long")) is None
    # a scan whose files lack the seq column bails (schema evolution)
    d2 = str(tmp_path / "noseq")
    spark.range(3).select(F.col("id").alias("x")).write.parquet(d2)
    assert _seq_bounds_from_footers(
        spark.read.schema("x long, seq long").parquet(d2)) is None
    # a NESTED field named seq (footer leaf .name == "seq", path
    # "meta.seq", and it precedes the top-level column) must not be
    # mistaken for the top-level seq
    d3 = str(tmp_path / "nested")
    spark.range(0, 100).select(
        F.struct((F.col("id") + 1_000_000).alias("seq")).alias("meta"),
        F.col("id").alias("seq"),
    ).write.parquet(d3)
    scan3 = spark.read.parquet(d3)
    assert _seq_bounds_from_footers(scan3) == (0, 99)


def test_seq_bounds_decimal_seq_falls_back(spark, tmp_path, target_df,
                                           changelog_pdf):
    """A DECIMAL(18,2) seq is physically INT64 in parquet, but its footer
    stats are Decimals, not the seq values: the fast path must bail, and a
    replay of the file scan must reach the same state as the aggregate path
    — including the events between the negative fractional minimum and the
    integer it would truncate to."""
    import decimal
    import glob

    import pyarrow.parquet as pq

    from diffsync_spark.streaming.replay import (
        _seq_bounds_from_footers, _signed_int64, replay_batches,
    )

    pdf = changelog_pdf.copy()
    pdf["seq"] = [decimal.Decimal(int(s) - 555) / 100 for s in pdf["seq"]]
    ddl = CHANGELOG_DDL.replace("seq long", "seq decimal(18,2)")
    d = str(tmp_path / "chg_dec")
    mem = spark.createDataFrame(pdf, ddl)
    mem.coalesce(2).write.parquet(d)
    scan = spark.read.parquet(d)
    # the guard rejects the column on its logical type, before any stats
    # are decoded (pyarrow versions differ in whether they decode them)
    col = pq.ParquetFile(glob.glob(f"{d}/*.parquet")[0]).metadata.schema.column(0)
    assert (col.path, col.physical_type) == ("seq", "INT64")
    assert not _signed_int64(col)
    assert _seq_bounds_from_footers(scan) is None
    states = []
    for name, changelog in (("files", scan), ("agg", mem)):
        t = SnapshotTable.create(
            spark, str(tmp_path / name), TRANSCRIPT_MODEL,
            schema=target_df.schema, n_buckets=8,
        )
        t.merge(target_df.withColumn("op", F.lit("insert")), mode="force",
                checkpoint_id="bootstrap", batch_id=0)
        replay_batches(t, changelog, n_batches=4, checkpoint_id="r")
        states.append(_state(t))
    pd.testing.assert_frame_equal(states[0], states[1])


def test_seq_bounds_footer_path_with_uri_characters(spark, tmp_path):
    """Changelog files whose names hold '#' or '?' keep the footer fast
    path: the local path comes from the file: URI without urlparse."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from diffsync_spark.streaming.replay import _seq_bounds_from_footers

    d = tmp_path / "odd"
    d.mkdir()
    pq.write_table(pa.table({"seq": pa.array([3, None, -7], pa.int64())}),
                   str(d / "b#1.parquet"))
    pq.write_table(pa.table({"seq": pa.array([11, 2], pa.int64())}),
                   str(d / "c?2.parquet"))
    scan = spark.read.parquet(str(d))
    assert len(scan.inputFiles()) == 2
    assert _seq_bounds_from_footers(scan) == (-7, 11)


def _raiser(exc):
    def f(*args, **kwargs):
        raise exc
    return f


def test_seq_bounds_footer_errors_log_or_propagate(spark, tmp_path,
                                                   monkeypatch, caplog):
    """Only footer I/O and decode errors (and a missing pyarrow) turn into
    the aggregate fallback, logged once per process at WARNING; any other
    error is a fault and propagates instead of becoming a silent slow
    path."""
    import logging

    import pyarrow.parquet as pq

    from diffsync_spark import metrics
    from diffsync_spark.streaming.replay import _seq_bounds_from_footers

    d = str(tmp_path / "chg")
    spark.range(0, 50).select(F.col("id").alias("seq")).write.parquet(d)
    scan = spark.read.parquet(d)
    assert _seq_bounds_from_footers(scan) == (0, 49)
    monkeypatch.setattr(metrics, "_warned_fallbacks", set())
    monkeypatch.setattr(pq, "ParquetFile", _raiser(OSError("footer gone")))
    with caplog.at_level(logging.WARNING, logger="diffsync_spark.metrics"):
        assert _seq_bounds_from_footers(scan) is None
        assert _seq_bounds_from_footers(scan) is None
    logged = [r for r in caplog.records if "seq bounds" in r.getMessage()]
    assert len(logged) == 1
    assert logged[0].levelno == logging.WARNING
    assert "footer gone" in logged[0].getMessage()
    monkeypatch.setattr(pq, "ParquetFile", _raiser(TypeError("a real bug")))
    with pytest.raises(TypeError, match="a real bug"):
        _seq_bounds_from_footers(scan)
