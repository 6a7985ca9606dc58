"""The ``diffsync_table`` Python DataSource (Spark 4 DataSource API).

Batch reads must equal ``SnapshotTable.read()`` on both write modes (the
executor-side pandas fold vs the engine's Spark fold); the streaming
changes feed must deliver exactly the layer commits after the offset,
resume exactly-once from Spark's checkpoint, and refuse copy-on-write
data commits loudly. ``load_manifest`` (the standalone hydration used in
the driver's Python worker, where no SparkSession exists) is pinned
against ``SnapshotTable._manifest`` to prevent drift.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F, types as T

from diffsync_spark.model import ModelSchema
from diffsync_spark.sinks.table import SnapshotTable
from diffsync_spark.sources.datasource import load_manifest

MODEL = ModelSchema(
    name="kv", identifiers=("k",), attributes=("v",), version_cols=("ts",)
)
T0 = datetime.datetime(2025, 1, 1)


def _boot(spark, path, write_mode="cow", n=500):
    df = spark.createDataFrame(
        [(i, f"v{i}", T0) for i in range(n)], "k int, v string, ts timestamp"
    )
    t = SnapshotTable.create(spark, path, MODEL, schema=df.schema,
                             n_buckets=4, write_mode=write_mode)
    t.merge(df.withColumn("op", F.lit("insert")), mode="force",
            checkpoint_id="boot", batch_id=0)
    return t


def _chg(spark, rows):
    return spark.createDataFrame(rows, "k int, v string, ts timestamp, op string")


def _pairs(df):
    return sorted((r.k, r.v) for r in df.collect())


@pytest.mark.parametrize("write_mode", ["cow", "mor"])
def test_batch_read_parity(spark, tmp_path, write_mode):
    t = _boot(spark, str(tmp_path / "t"), write_mode)
    t1 = T0 + datetime.timedelta(hours=1)
    t.merge(_chg(spark, [(1, "v1x", t1, "update"), (2, None, t1, "delete"),
                         (900, "new", t1, "update")]),
            checkpoint_id="c", batch_id=1)
    if write_mode == "mor":
        assert t._manifest().get("deltas"), "setup: fold path must engage"
    got = (spark.read.format("diffsync_table")
           .option("path", str(tmp_path / "t")).load())
    assert _pairs(got) == _pairs(t.read())


def test_batch_time_travel(spark, tmp_path):
    t = _boot(spark, str(tmp_path / "t"))
    v1 = t.current_version()
    t1 = T0 + datetime.timedelta(hours=1)
    t.merge(_chg(spark, [(1, "v1x", t1, "update")]), checkpoint_id="c",
            batch_id=1)
    old = (spark.read.format("diffsync_table")
           .option("path", str(tmp_path / "t"))
           .option("version", v1).load())
    assert dict(_pairs(old))[1] == "v1"


def test_batch_read_after_rename(spark, tmp_path):
    """Field-id resolution: files written before a rename resolve under
    the new name in the external reader too."""
    t = _boot(spark, str(tmp_path / "t"))
    t.rename_column("v", "text")
    got = (spark.read.format("diffsync_table")
           .option("path", str(tmp_path / "t")).load())
    assert "text" in got.columns
    assert dict((r.k, r.text) for r in got.collect())[1] == "v1"


@pytest.mark.parametrize("write_mode", ["cow", "mor"])
def test_batch_read_after_drop_and_readd(spark, tmp_path, write_mode):
    """A dropped-then-re-added column gets a fresh field id: files written
    before the drop carry the old id, so the external reader (like the
    engine's) reads the re-added column as NULL there, not the dropped
    values under the same name."""
    t = _boot(spark, str(tmp_path / "t"), write_mode, n=40)
    t.drop_column("v")
    t.add_column("v", T.StringType())
    t.merge(_chg(spark, [(3, "new", T0 + datetime.timedelta(hours=1),
                          "update")]), checkpoint_id="c", batch_id=1)
    got = (spark.read.format("diffsync_table")
           .option("path", str(tmp_path / "t")).load())
    assert _pairs(got) == _pairs(t.read())
    assert [r.v for r in got.collect() if r.v is not None] == ["new"]


def test_stream_tails_layer_commits_and_resumes(spark, tmp_path):
    t = _boot(spark, str(tmp_path / "t"), write_mode="mor")
    v_boot = t.current_version()
    t1 = T0 + datetime.timedelta(hours=1)
    t.merge(_chg(spark, [(1, "v1x", t1, "update"), (2, None, t1, "delete")]),
            checkpoint_id="c", batch_id=1)

    out = str(tmp_path / "out")

    def run_stream():
        # a DURABLE sink: the memory sink cannot recover from a checkpoint,
        # and checkpoint recovery is exactly what this test pins
        q = (spark.readStream.format("diffsync_table")
             .option("path", str(tmp_path / "t"))
             .option("feed", "changes")
             .option("startingVersion", v_boot)
             .load()
             .writeStream.format("parquet")
             .option("path", out)
             .trigger(availableNow=True)
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .start())
        q.awaitTermination(120)

    run_stream()
    rows = {(r.k, r._change_type, r._commit_version)
            for r in spark.read.parquet(out).collect()}
    assert rows == {(1, "upsert", v_boot + 1), (2, "delete", v_boot + 1)}

    # restart from the SAME checkpoint: only commits after the offset flow
    t2 = T0 + datetime.timedelta(hours=2)
    t.merge(_chg(spark, [(3, "v3x", t2, "update")]), checkpoint_id="c",
            batch_id=2)
    run_stream()
    rows2 = {(r.k, r._change_type, r._commit_version)
             for r in spark.read.parquet(out).collect()}
    assert rows2 == rows | {(3, "upsert", v_boot + 2)}


def test_stream_skips_maintenance_refuses_cow_rewrites(spark, tmp_path):
    t = _boot(spark, str(tmp_path / "t"), write_mode="mor")
    v0 = t.current_version()
    t1 = T0 + datetime.timedelta(hours=1)
    t.merge(_chg(spark, [(1, "v1x", t1, "update")]), checkpoint_id="c",
            batch_id=1)
    t.compact()  # maintenance: logical no-op, must be skipped silently

    def run(name, ckpt):
        q = (spark.readStream.format("diffsync_table")
             .option("path", str(tmp_path / "t"))
             .option("feed", "changes")
             .option("startingVersion", v0).load()
             .writeStream.format("memory").queryName(name)
             .trigger(availableNow=True)
             .option("checkpointLocation", str(tmp_path / ckpt)).start())
        q.awaitTermination(120)

    run("feed3", "ck1")
    assert {r.k for r in spark.sql("SELECT * FROM feed3").collect()} == {1}

    # a copy-on-write data commit poisons the range: loud failure
    t.update_where([("k", "=", 5)], set={"v": "'rewritten'"})
    with pytest.raises(Exception, match="copy-on-write|StreamingQuery"):
        run("feed4", "ck2")


def test_stream_requires_feed_option_and_batch_rejects_it(spark, tmp_path):
    t = _boot(spark, str(tmp_path / "t"), write_mode="mor")
    q = (spark.readStream.format("diffsync_table")
         .option("path", str(tmp_path / "t")).load()
         .writeStream.format("noop")
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    with pytest.raises(Exception, match="feed"):
        q.awaitTermination(120)  # the reader error surfaces in the query
    with pytest.raises(Exception, match="streaming"):
        (spark.read.format("diffsync_table")
         .option("path", str(tmp_path / "t"))
         .option("feed", "changes").load().count())


def test_load_manifest_matches_engine_hydration(spark, tmp_path):
    t = _boot(spark, str(tmp_path / "t"), write_mode="mor")
    t1 = T0 + datetime.timedelta(hours=1)
    t.merge(_chg(spark, [(1, "a", t1, "update")]), checkpoint_id="c",
            batch_id=1)
    t.compact(buckets=[0])  # partial clear -> layer ref + drop list
    t.merge(_chg(spark, [(2, "b", t1, "update")]), checkpoint_id="c",
            batch_id=2)
    ours = load_manifest(str(tmp_path / "t"))
    theirs = t._manifest()
    assert ours["files"] == theirs["files"]
    assert [l["files"] for l in ours.get("deltas") or []] == [
        l["files"] for l in theirs.get("deltas") or []
    ]
    assert ours["model"]["identifiers"] == ["k"]


def test_stream_ignores_branch_commits(spark, tmp_path):
    """Version numbers are one space shared with branches: the stream
    walks MAIN's parent chain, so unpublished branch layers never leak
    into main's feed (write-audit-publish isolation)."""
    t = _boot(spark, str(tmp_path / "t"), write_mode="mor")
    v0 = t.current_version()
    t.create_branch("audit")
    b = t.branch("audit")
    t1 = T0 + datetime.timedelta(hours=1)
    b.merge(_chg(spark, [(999, "BRANCH-ONLY", t1, "update")]),
            checkpoint_id="bc", batch_id=0)
    t.merge(_chg(spark, [(1, "main-edit", t1, "update")]),
            checkpoint_id="c", batch_id=1)
    q = (spark.readStream.format("diffsync_table")
         .option("path", str(tmp_path / "t"))
         .option("feed", "changes")
         .option("startingVersion", v0).load()
         .writeStream.format("parquet")
         .option("path", str(tmp_path / "out"))
         .trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    q.awaitTermination(120)
    rows = spark.read.parquet(str(tmp_path / "out")).collect()
    assert {r.k for r in rows} == {1}
    assert all(r.v != "BRANCH-ONLY" for r in rows)


def test_stream_publish_in_range_raises_informatively(spark, tmp_path):
    t = _boot(spark, str(tmp_path / "t"), write_mode="mor")
    v0 = t.current_version()
    t.create_branch("audit")
    b = t.branch("audit")
    t1 = T0 + datetime.timedelta(hours=1)
    b.merge(_chg(spark, [(7, "via-branch", t1, "update")]),
            checkpoint_id="bc", batch_id=0)
    t.publish("audit")
    q = (spark.readStream.format("diffsync_table")
         .option("path", str(tmp_path / "t"))
         .option("feed", "changes")
         .option("startingVersion", v0).load()
         .writeStream.format("noop")
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    with pytest.raises(Exception, match="publish"):
        q.awaitTermination(120)


def test_stream_from_publish_version_skips_later_ddl(spark, tmp_path):
    """A DDL commit after publish() is a metadata commit, not a publish:
    it must not inherit ``published_from``, so a stream restarted from the
    publish version (the restart point the publish error names) skips the
    DDL and yields exactly the later layer's rows."""
    t = _boot(spark, str(tmp_path / "t"), write_mode="mor")
    t.create_branch("audit")
    t1 = T0 + datetime.timedelta(hours=1)
    t.branch("audit").merge(_chg(spark, [(7, "via-branch", t1, "update")]),
                            checkpoint_id="bc", batch_id=0)
    v_pub = t.publish("audit")["version"]
    v_ddl = t.add_column("note", T.StringType())["version"]
    assert "published_from" not in t._manifest(v_ddl)
    t2 = T0 + datetime.timedelta(hours=2)
    t.merge(_chg(spark, [(1, "after", t2, "update"), (2, None, t2, "delete")]),
            checkpoint_id="c", batch_id=1)
    v_layer = t.current_version()
    q = (spark.readStream.format("diffsync_table")
         .option("path", str(tmp_path / "t"))
         .option("feed", "changes")
         .option("startingVersion", v_pub).load()
         .writeStream.format("parquet")
         .option("path", str(tmp_path / "out"))
         .trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    q.awaitTermination(120)
    assert q.exception() is None
    rows = {(r.k, r.v, r._change_type, r._commit_version)
            for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    assert rows == {(1, "after", "upsert", v_layer),
                    (2, None, "delete", v_layer)}


def test_fold_null_seq_tie_matches_engine(spark, tmp_path):
    """On a full version tie, a NULL _seq loses to any non-null one in
    the engine's fold (_seq desc = nulls last); the external pandas fold
    must pick the same winner."""
    df = spark.createDataFrame([(1, "base", T0)],
                               "k int, v string, ts timestamp")
    t = SnapshotTable.create(spark, str(tmp_path / "t"), MODEL,
                             schema=df.schema, n_buckets=2, write_mode="mor")
    t.merge(df.withColumn("op", F.lit("insert"))
            .withColumn("seq", F.lit(5).cast("long")),
            mode="force", checkpoint_id="b", batch_id=0)
    # same key, SAME ts, NULL seq -> ties on version, loses on _seq
    late = spark.createDataFrame([(1, "null-seq", T0, "update", None)],
                                 "k int, v string, ts timestamp, op string, "
                                 "seq long")
    t.merge(late, checkpoint_id="c", batch_id=1)
    assert t._manifest().get("deltas")
    engine = {r.k: r.v for r in t.read().collect()}
    external = {r.k: r.v for r in
                (spark.read.format("diffsync_table")
                 .option("path", str(tmp_path / "t")).load().collect())}
    assert external == engine


def test_stream_null_seq_row_survives(spark, tmp_path):
    t = _boot(spark, str(tmp_path / "t"), write_mode="mor")
    v0 = t.current_version()
    t1 = T0 + datetime.timedelta(hours=1)
    late = spark.createDataFrame(
        [(1, "nullseq", t1, "update", None)],
        "k int, v string, ts timestamp, op string, seq long")
    t.merge(late, checkpoint_id="c", batch_id=1)
    q = (spark.readStream.format("diffsync_table")
         .option("path", str(tmp_path / "t"))
         .option("feed", "changes")
         .option("startingVersion", v0).load()
         .writeStream.format("parquet")
         .option("path", str(tmp_path / "out"))
         .trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    q.awaitTermination(120)
    rows = spark.read.parquet(str(tmp_path / "out")).collect()
    assert len(rows) == 1 and rows[0]._seq is None


def test_fold_streams_bounded_chunks(spark, tmp_path):
    """r6 optimization pin (round-5 verdict finding #2): a layered bucket
    is folded by the bounded k-way streaming merge, not a whole-bucket
    pandas concat. foldBatchRows=16 forces many chunks per file over a
    1,500-row bucket load — any boundary/hot-key bug in the chunked merge
    diverges from the engine fold immediately."""
    path = str(tmp_path / "t")
    t = _boot(spark, path, write_mode="mor", n=1500)
    t1 = T0 + datetime.timedelta(hours=1)
    # layers touching many keys, incl. deletes + a hot key updated in
    # every layer (its occurrences span chunk boundaries)
    for b in range(1, 4):
        tb = T0 + datetime.timedelta(hours=b)
        rows = [(k, f"u{b}-{k}", tb, "update") for k in range(0, 1500, 7)]
        rows += [(k, None, tb, "delete") for k in range(3, 1500, 97)]
        rows += [(42, f"hot{b}", tb, "update")]
        t.merge(_chg(spark, rows), checkpoint_id="c", batch_id=b)
    assert t._manifest().get("deltas"), "setup: layers must exist"
    got = (spark.read.format("diffsync_table")
           .option("path", path)
           .option("foldBatchRows", "16").load())
    assert _pairs(got) == _pairs(t.read())


def test_fold_falls_back_when_base_not_id_ordered(spark, tmp_path):
    """A Z-order-compacted base is sorted by the Morton key, not the
    natural key; the streaming merge's sortedness pre-check must detect
    that and fall back to the in-memory fold rather than merge wrongly."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, f"v{i}", i % 13, T0) for i in range(800)],
        "k int, v string, z int, ts timestamp",
    )
    model = ModelSchema(name="kvz", identifiers=("k",),
                        attributes=("v", "z"), version_cols=("ts",))
    t = SnapshotTable.create(spark, path, model, schema=df.schema,
                             n_buckets=2, write_mode="mor")
    t.merge(df.withColumn("op", F.lit("insert")), mode="force",
            checkpoint_id="boot", batch_id=0)
    t.compact(zorder=["z"])  # base files now z-ordered, layers gone
    t1 = T0 + datetime.timedelta(hours=1)
    t.merge(spark.createDataFrame(
        [(k, f"zz{k}", 0, t1, "update") for k in range(0, 800, 11)],
        "k int, v string, z int, ts timestamp, op string"),
        checkpoint_id="c", batch_id=1)
    assert t._manifest().get("deltas"), "setup: layered z-ordered base"
    got = (spark.read.format("diffsync_table")
           .option("path", path)
           .option("foldBatchRows", "64").load())
    assert _pairs(got) == _pairs(t.read())


def test_changes_feed_streams_bounded_chunks(spark, tmp_path):
    """The changes feed reads each layer file one parquet batch at a time
    (the changes-feed twin of test_fold_streams_bounded_chunks):
    foldBatchRows=16 splits every file into many batches, and the feed
    must still deliver exactly the rows of the default read."""
    path = str(tmp_path / "t")
    t = _boot(spark, path, write_mode="mor", n=1500)
    v0 = t.current_version()
    for b in range(1, 4):
        tb = T0 + datetime.timedelta(hours=b)
        rows = [(k, f"u{b}-{k}", tb, "update") for k in range(0, 1500, 7)]
        rows += [(k, None, tb, "delete") for k in range(3, 1500, 97)]
        rows += [(42, f"hot{b}", tb, "update")]
        t.merge(_chg(spark, rows), checkpoint_id="c", batch_id=b)

    def feed(name, extra):
        reader = (spark.readStream.format("diffsync_table")
                  .option("path", path)
                  .option("feed", "changes")
                  .option("startingVersion", v0))
        for k, v in extra.items():
            reader = reader.option(k, v)
        q = (reader.load().writeStream.format("memory").queryName(name)
             .trigger(availableNow=True)
             .option("checkpointLocation", str(tmp_path / f"ck_{name}"))
             .start())
        q.awaitTermination(120)
        return sorted(
            (r.k, r.v, r._change_type, r._commit_version, r._seq)
            for r in spark.sql(f"SELECT * FROM {name}").collect()
        )

    small = feed("chg_small", {"foldBatchRows": "16"})
    # one row per distinct key per layer (the batch's LWW winners)
    keys = set(range(0, 1500, 7)) | set(range(3, 1500, 97))
    assert len(small) == 3 * len(keys)
    assert {r[2] for r in small} == {"upsert", "delete"}
    assert small == feed("chg_default", {})
