"""The merge-on-read append path: an LWW merge into a MoR table that holds
data runs as one write query, with quarantine counts observed on that query
and touched buckets / row counts taken from the written layer's footers.

Each case here pins a job the old pre-write stats pass used to do:
quarantine (same rows, reasons and counts as copy-on-write), the
no-valid-rows batch, the slot plan on a fanned-out table, and the in-batch
LWW winner of a hot key."""

from __future__ import annotations

import datetime
import glob
import os

import pandas as pd
from pyspark.sql import functions as F

from diffsync_spark.model import TRANSCRIPT_MODEL
from diffsync_spark.plans.threeway import patch_snapshot
from diffsync_spark.sinks.table import SLOT, SnapshotTable

IDS = ["conv_id", "turn_idx"]
_CDC = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp, op string, seq long"
)
T1 = datetime.datetime(2031, 1, 1)


def _bootstrap(spark, path, target_df, write_mode="mor", n_buckets=8):
    table = SnapshotTable.create(
        spark, str(path), TRANSCRIPT_MODEL,
        schema=target_df.schema, n_buckets=n_buckets, write_mode=write_mode,
    )
    table.merge(target_df.withColumn("op", F.lit("insert")), mode="force",
                checkpoint_id="bootstrap", batch_id=0)
    return table


def _state(table):
    return (table.read().toPandas().sort_values(IDS)
            .reset_index(drop=True))


def _mixed_batch(spark, target_df):
    """Valid updates plus one row for each quarantine reason."""
    keys = [(r.conv_id, r.turn_idx)
            for r in target_df.orderBy(*IDS).limit(6).collect()]
    rows = [(c, t, "user", f"ok {i}", None, T1, "update", 10 + i)
            for i, (c, t) in enumerate(keys[:4])]
    rows += [
        (None, 0, "user", "nullkey", None, T1, "update", 1),
        (keys[4][0], keys[4][1], "user", "badop", None, T1, "badop", 2),
        (keys[5][0], keys[5][1], "user", "", None, T1, "update", 3),
    ]
    return spark.createDataFrame(rows, _CDC)


def test_mor_quarantine_matches_cow(spark, tmp_path, target_df):
    exp = {"nonempty": "length(text) > 0"}
    results, reasons, tables = {}, {}, {}
    for mode in ("cow", "mor"):
        t = _bootstrap(spark, tmp_path / mode, target_df, write_mode=mode)
        results[mode] = t.merge(_mixed_batch(spark, target_df),
                                checkpoint_id="q", batch_id=1,
                                expectations=exp)
        reasons[mode] = sorted(
            (r.text, r._status, r._status_reason)
            for r in t.quarantine_df().collect()
        )
        lin = t.lineage_df().filter("partition = -1").collect()
        assert [r.n_quarantined for r in lin] == [3]
        tables[mode] = t
    assert reasons["mor"] == reasons["cow"] == [
        ("", "failure", "expectation failed: nonempty"),
        ("badop", "failure", "unknown or null op"),
        ("nullkey", "failure", "null identifier"),
    ]
    for k in ("n_quarantined", "n_expectation_failed", "n_input"):
        assert results["mor"][k] == results["cow"][k], k
    assert results["mor"]["n_quarantined"] == 3
    assert results["mor"]["n_expectation_failed"] == 1
    assert results["mor"]["n_input"] == 4
    assert results["mor"]["n_append"] == 4
    assert tables["mor"]._manifest().get("deltas"), "valid rows must layer"
    pd.testing.assert_frame_equal(_state(tables["cow"]), _state(tables["mor"]))


def test_mor_all_invalid_batch_commits_checkpoint_without_layer(
        spark, tmp_path, target_df):
    t = _bootstrap(spark, tmp_path / "t", target_df)
    before = _state(t)
    v = t.current_version()
    bad = spark.createDataFrame(
        [(None, 0, "user", "x", None, T1, "update", 1),
         ("conv_000001", 1, "user", "y", None, T1, "nope", 2)],
        _CDC,
    )
    res = t.merge(bad, checkpoint_id="q", batch_id=7)
    assert res["n_quarantined"] == 2
    assert res["n_input"] == 0 and res["n_append"] == 0
    assert res["touched_buckets"] == []
    man = t._manifest()
    assert t.current_version() == v + 1
    assert man["checkpoints"]["q"] == 7
    assert not man.get("deltas"), "no valid rows must append no layer"
    assert t.quarantine_df().count() == 2
    pd.testing.assert_frame_equal(_state(t), before)
    # the batch is committed: a re-delivery is skipped
    assert t.merge(bad, checkpoint_id="q", batch_id=7)["skipped"]


def _big_df(rng, n_convs=200):
    """Rows ``id`` of ``rng`` (a ``spark.range``) over ``n_convs``
    conversations — 120k of them fan each of 2 buckets out over >1 slot
    at the writer's 25k-row split target."""
    return rng.select(
        F.concat(F.lit("c"), (F.col("id") % n_convs).cast("string"))
        .alias("conv_id"),
        (F.col("id") / n_convs).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.concat(F.lit("text-"), F.col("id").cast("string")).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.timestamp_micros(F.col("id")).alias("ts"),
    )


def test_mor_layers_follow_the_slot_plan(spark, tmp_path):
    """On a fanned-out table the layer is written with the slot plan of
    the table's stored sizes: its files sit in the ``__slot=`` dirs that
    its recorded splits route each key to, so lookups find every key."""
    df = _big_df(spark.range(120_000))
    t = SnapshotTable.create(spark, str(tmp_path / "t"), TRANSCRIPT_MODEL,
                             schema=df.schema, n_buckets=2, write_mode="mor")
    t.merge(df.withColumn("op", F.lit("insert")), mode="force",
            checkpoint_id="boot", batch_id=0)
    assert all(int(s) > 1 for s in t._manifest()["bucket_splits"].values())
    up = (_big_df(spark.range(120_000).filter(F.col("id") % 97 == 0))
          .withColumn("text", F.concat(F.lit("new-"), F.col("text")))
          .withColumn("ts", F.timestamp_micros(F.lit(10 ** 12)))
          .withColumn("op", F.lit("update")))
    res = t.merge(up, checkpoint_id="c", batch_id=1)
    n_up = up.count()
    assert res["n_append"] == n_up
    man = t._manifest()
    (layer,) = man["deltas"]
    assert set(layer["splits"]) == {"0", "1"}
    assert all(s > 1 for s in layer["splits"].values())
    for b, files in layer["files"].items():
        slots = {int(p.split(f"{SLOT}=")[1].split(os.sep)[0]) for p in files}
        assert slots == set(range(layer["splits"][b]))
    # every written file holds only keys its slot dir routes to
    written = (
        spark.read.parquet(*[p for fl in layer["files"].values() for p in fl])
        .withColumn("path", F.input_file_name())
        .select("conv_id", "turn_idx", "path")
        .collect()
    )
    splits = {int(b): s for b, s in layer["splits"].items()}
    hashes = {
        (r.conv_id, r.turn_idx): r.h
        for r in spark.createDataFrame(
            [(r.conv_id, r.turn_idx) for r in written],
            "conv_id string, turn_idx int",
        ).select("conv_id", "turn_idx",
                 F.xxhash64("conv_id", "turn_idx").alias("h")).collect()
    }
    for r in written:
        b = int(r.path.split("_bucket=")[1].split("/")[0])
        slot = hashes[(r.conv_id, r.turn_idx)] % splits[b]
        assert f"{SLOT}={slot}/" in r.path
    # lookups and lookup_many find every updated key through the layer
    keys = up.orderBy(*IDS).limit(40).select(*IDS, "text")
    want = {(r.conv_id, r.turn_idx): r.text for r in keys.collect()}
    for k, text in list(want.items())[:8]:
        assert t.lookup(k)["text"] == text
    got = {(r.conv_id, r.turn_idx): r.text
           for r in t.lookup_many(keys.select(*IDS)).collect()}
    assert got == want
    assert len(glob.glob(str(tmp_path / "t" / "data" / "v*" / "_bucket=*"
                             / f"{SLOT}=*"))) > 2


def test_mor_hot_key_duplicates_match_patch_snapshot(spark, tmp_path,
                                                     target_df):
    """10^4 events on one key in one batch (ties on ts, a delete among
    them) plus cold keys: the append path's in-batch LWW agrees with
    ``patch_snapshot``."""
    t = _bootstrap(spark, tmp_path / "t", target_df, n_buckets=4)
    hot = target_df.orderBy(*IDS).first()
    events = spark.range(10_000).select(
        F.lit(hot.conv_id).alias("conv_id"),
        F.lit(hot.turn_idx).alias("turn_idx"),
        F.lit("user").alias("role"),
        F.concat(F.lit("hot-"), F.col("id").cast("string")).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.timestamp_seconds(
            F.lit(int(T1.replace(tzinfo=datetime.timezone.utc).timestamp()))
            + (F.col("id") % 50) * 60).alias("ts"),
        F.when(F.col("id") == 9_949, "delete").otherwise("update").alias("op"),
        F.col("id").alias("seq"),
    )
    cold = target_df.orderBy(*IDS).limit(30).offset(1).select(
        "conv_id", "turn_idx", "role",
        F.lit("cold").alias("text"), "tool",
        F.lit(T1).alias("ts"), F.lit("update").alias("op"),
        F.lit(20_000).cast("long").alias("seq"),
    )
    batch = events.unionByName(cold)
    t.merge(batch, checkpoint_id="h", batch_id=1)
    want = (patch_snapshot(target_df, batch, TRANSCRIPT_MODEL)
            .toPandas().sort_values(IDS).reset_index(drop=True))
    got = _state(t)[list(want.columns)]
    pd.testing.assert_frame_equal(got, want)
    # the winner is the max (ts, seq): ts offset 49 min, highest such seq
    assert t.lookup((hot.conv_id, hot.turn_idx))["text"] == "hot-9999"
