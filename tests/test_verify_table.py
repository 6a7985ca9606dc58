"""verify_table(): the metadata fsck. Healthy tables audit clean; every
injected corruption class is detected without raising."""

from __future__ import annotations

import datetime
import json
import os

from pyspark.sql import functions as F

from diffsync_spark.model import ModelSchema
from diffsync_spark.sinks.table import SnapshotTable

MODEL = ModelSchema(
    name="kv", identifiers=("k",), attributes=("v",), version_cols=("ts",)
)
T0 = datetime.datetime(2025, 1, 1)


def _boot(spark, path, write_mode="cow"):
    df = spark.createDataFrame(
        [(i, f"v{i}", T0) for i in range(200)], "k int, v string, ts timestamp"
    )
    t = SnapshotTable.create(spark, path, MODEL, schema=df.schema,
                             n_buckets=4, write_mode=write_mode)
    t.merge(df.withColumn("op", F.lit("insert")), mode="force",
            checkpoint_id="boot", batch_id=0)
    return t


def _codes(res):
    return {i["code"] for i in res["issues"]}


def test_healthy_table_audits_clean(spark, tmp_path):
    t = _boot(spark, str(tmp_path / "t"))
    t1 = T0 + datetime.timedelta(hours=1)
    t.merge(spark.createDataFrame([(1, "x", t1, "update")],
                                  "k int, v string, ts timestamp, op string"),
            checkpoint_id="c", batch_id=1)
    res = t.verify_table(check_counts=True)
    assert res["ok"] and res["issues"] == []
    assert res["n_files"] > 0


def test_detects_missing_file(spark, tmp_path):
    t = _boot(spark, str(tmp_path / "t"))
    victim = t.files().first().path
    os.remove(victim)
    res = t.verify_table()
    assert not res["ok"]
    assert "file_missing" in _codes(res)


def test_detects_count_mismatch(spark, tmp_path):
    t = _boot(spark, str(tmp_path / "t"))
    # forge the manifest's accounting on disk
    v = t.current_version()
    mpath = os.path.join(str(tmp_path / "t"), "manifests", f"v{v}.json")
    man = json.load(open(mpath))
    b = next(iter(man["bucket_rows"]))
    man["bucket_rows"][b] += 7
    json.dump(man, open(mpath, "w"))
    t._man_cache = {}  # drop any instance cache
    res = SnapshotTable(spark, str(tmp_path / "t"), MODEL).verify_table(
        check_counts=True)
    assert not res["ok"]
    assert "bucket_rows_mismatch" in _codes(res)


def test_chain_gap_is_info_not_failure(spark, tmp_path):
    t = _boot(spark, str(tmp_path / "t"))
    t1 = T0 + datetime.timedelta(hours=1)
    for i in range(3):
        t.merge(spark.createDataFrame(
            [(1, f"x{i}", t1 + datetime.timedelta(minutes=i), "update")],
            "k int, v string, ts timestamp, op string"),
            checkpoint_id="c", batch_id=1 + i)
    t.expire_snapshots(keep_last=1)
    res = t.verify_table(check_counts=True)
    assert res["ok"]
    assert "chain_gap" in _codes(res)
    assert all(i["severity"] != "error" for i in res["issues"])


def test_mor_layers_audit_clean(spark, tmp_path):
    t = _boot(spark, str(tmp_path / "t"), write_mode="mor")
    t1 = T0 + datetime.timedelta(hours=1)
    t.merge(spark.createDataFrame([(1, "x", t1, "update")],
                                  "k int, v string, ts timestamp, op string"),
            checkpoint_id="c", batch_id=1)
    assert t._manifest().get("deltas")
    res = t.verify_table(check_counts=True)
    assert res["ok"], res["issues"]


def test_pre_rebucket_snapshot_audits_clean(spark, tmp_path):
    """check_counts must bucket with the AUDITED manifest's n_buckets —
    a later rebucket changed the current layout."""
    t = _boot(spark, str(tmp_path / "t"))
    v_old = t.current_version()
    t.rebucket(16)
    res = t.verify_table(version=v_old, check_counts=True)
    assert res["ok"], res["issues"]
    assert res["version"] == v_old


def _forge(spark, path, edit):
    """Rewrite the current manifest on disk with ``edit(man)`` applied and
    audit it through a fresh handle."""
    t = SnapshotTable(spark, path, MODEL)
    mpath = os.path.join(path, "manifests", f"v{t.current_version()}.json")
    man = json.load(open(mpath))
    edit(man)
    json.dump(man, open(mpath, "w"))
    return SnapshotTable(spark, path, MODEL).verify_table(check_counts=True)


def test_live_counts_checked_against_a_scan(spark, tmp_path):
    """check_counts compares bucket_live_rows with a live-row scan (a
    tombstone makes it differ from bucket_rows), and a published
    bucket_live_rows that leaves out a bucket holding files is an error."""
    path = str(tmp_path / "t")
    t = _boot(spark, path)
    t.merge(spark.createDataFrame([(1, None, None, "delete")],
                                  "k int, v string, ts timestamp, op string"),
            checkpoint_id="c", batch_id=1)
    man = t._manifest()
    assert sum(man["bucket_live_rows"].values()) == 199
    assert sum(man["bucket_rows"].values()) == 200
    assert t.verify_table(check_counts=True)["ok"]

    def bump(m):
        m["bucket_live_rows"][next(iter(m["bucket_live_rows"]))] += 3

    res = _forge(spark, path, bump)
    assert not res["ok"]
    assert _codes(res) == {"bucket_live_rows_mismatch"}

    def drop(m):  # the entry bump() forged
        m["bucket_live_rows"].pop(next(iter(m["bucket_live_rows"])))

    res = _forge(spark, path, drop)
    assert not res["ok"]
    assert _codes(res) == {"bucket_live_rows_missing"}
