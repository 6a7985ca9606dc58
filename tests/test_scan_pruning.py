"""scan(): manifest-level file skipping from per-file column stats +
hash-bucket routing. Pruning must only skip work, never change answers —
every test cross-checks against the unpruned read()+filter."""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F

from diffsync_spark.errors import DiffSyncSparkError
from diffsync_spark.fixtures import gen_source
from diffsync_spark.model import TRANSCRIPT_MODEL
from diffsync_spark.sinks.table import SnapshotTable


def _table(spark, tmp_path, write_mode="cow", n_convs=200):
    df = spark.createDataFrame(gen_source(n_convs=n_convs, seed=7))
    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_MODEL,
        schema=df.schema, n_buckets=8, write_mode=write_mode,
    )
    t.merge(df.withColumn("op", F.lit("insert")), mode="force",
            checkpoint_id="boot", batch_id=0)
    return t, df


def _total_files(man):
    return sum(len(fl) for fl in man["files"].values()) + sum(
        len(fl) for lay in man.get("deltas") or []
        for fl in lay["files"].values())


def test_stats_recorded_for_numeric_and_timestamp_cols(spark, tmp_path):
    t, _ = _table(spark, tmp_path)
    st = t._manifest().get("_file_stats") or {}
    assert st, "every write must record footer stats"
    for s in st.values():
        assert set(s) <= {"turn_idx", "ts"}
        # ts is INT64 micros now (INT96 carries no parquet stats)
        assert "ts" in s and isinstance(s["ts"][0], int)
        lo, hi = s["turn_idx"]
        assert lo <= hi


def test_full_key_scan_routes_to_one_bucket(spark, tmp_path):
    t, df = _table(spark, tmp_path)
    cid = df.first()["conv_id"]
    got = t.scan([("conv_id", "=", cid), ("turn_idx", "=", 0)])
    rows = got.collect()
    assert len(rows) == 1 and rows[0]["conv_id"] == cid
    man = t._manifest()
    # routed: reads at most one bucket's file set, not the table
    per_bucket = max(len(fl) for fl in man["files"].values())
    assert len(got.inputFiles()) <= per_bucket
    assert len(got.inputFiles()) < _total_files(man)


def test_ts_window_prunes_mor_buckets_all_or_nothing(spark, tmp_path):
    t, df = _table(spark, tmp_path, write_mode="mor")
    for i, day in enumerate((10, 20, 30), 1):
        b = (df.limit(12).withColumn("op", F.lit("upsert"))
             .withColumn("ts", F.expr(f"timestamp'2035-01-{day} 00:00:00'")))
        t.merge(b, checkpoint_id="c", batch_id=i)
    cut = datetime.datetime(2035, 1, 25)
    got = t.scan([("ts", ">=", cut)])
    exp = t.read().filter(F.col("ts") >= F.lit(cut))
    assert got.count() == exp.count() == 12
    man = t._manifest()
    assert len(got.inputFiles()) < _total_files(man)
    # and the same values row-for-row
    cols = ["conv_id", "turn_idx", "text"]
    assert sorted(map(tuple, got.select(cols).collect())) == sorted(
        map(tuple, exp.select(cols).collect()))


def test_scan_empty_window_reads_nothing_in_cow(spark, tmp_path):
    """A CoW table written entirely in the past: a future ts window prunes
    EVERY file at the manifest level (zero inputFiles, zero rows)."""
    t, _ = _table(spark, tmp_path)
    got = t.scan([("ts", ">=", datetime.datetime(2099, 1, 1))])
    assert got.count() == 0
    assert got.inputFiles() == []


def test_scan_matches_unpruned_filter_on_range(spark, tmp_path):
    t, _ = _table(spark, tmp_path)
    got = t.scan([("turn_idx", ">=", 3), ("turn_idx", "<", 6)])
    exp = t.read().filter("turn_idx >= 3 AND turn_idx < 6")
    assert got.count() == exp.count() > 0


def test_scan_validates_ops_and_columns(spark, tmp_path):
    t, _ = _table(spark, tmp_path, n_convs=10)
    with pytest.raises(DiffSyncSparkError, match="unsupported scan op"):
        t.scan([("turn_idx", "!=", 1)])
    with pytest.raises(DiffSyncSparkError, match="unknown column"):
        t.scan([("nope", "=", 1)])


def test_scan_without_stats_reads_everything_correctly(spark, tmp_path):
    """A manifest with no recorded stats (legacy table) must scan
    unpruned — correct answers, no crash."""
    import json

    t, df = _table(spark, tmp_path, n_convs=30)
    v = t.current_version()
    man = t._manifest(v)
    legacy = {k: v2 for k, v2 in man.items() if not k.startswith("_")}
    legacy["files"] = {b: list(fl) for b, fl in man["files"].items()}
    t.io.write_atomic(
        os.path.join(t._manifest_dir, f"v{v}.json"), json.dumps(legacy))
    t2 = SnapshotTable.load(spark, str(tmp_path / "t"), TRANSCRIPT_MODEL)
    cid = df.first()["conv_id"]
    got = t2.scan([("conv_id", "=", cid), ("turn_idx", "=", 0)])
    assert got.count() == 1


def test_where_ops_accept_conjunct_lists(spark, tmp_path):
    """update_where/delete_where given (col, op, value) conjuncts route
    through scan() — same answers as the SQL-string form, pruned read."""
    t, df = _table(spark, tmp_path)
    conv = df.first()["conv_id"]
    r1 = t.update_where([("conv_id", "=", conv), ("turn_idx", ">=", 2)],
                        set={"role": "'patched'"})
    assert r1["n_update"] > 0
    got = t.read().filter("role = 'patched'")
    assert got.count() == r1["n_update"]
    assert got.filter(
        f"conv_id <> '{conv}' OR turn_idx < 2").count() == 0

    before = t.read().count()
    r2 = t.delete_where([("conv_id", "=", conv), ("turn_idx", ">=", 2)])
    assert r2["n_delete"] == r1["n_update"]
    assert t.read().count() == before - r2["n_delete"]


def test_rebucket_records_file_stats(spark, tmp_path):
    """rebucket() records footer stats for every file it writes, so scan()
    keeps pruning on ts right after it instead of waiting for a later
    compaction."""
    t, _ = _table(spark, tmp_path)
    t.rebucket(16)
    man = t._manifest()
    paths = [p for fl in man["files"].values() for p in fl]
    st = man.get("_file_stats") or {}
    assert paths and all("ts" in st.get(p, {}) for p in paths)
    got = t.scan([("ts", ">=", datetime.datetime(2099, 1, 1))])
    assert got.count() == 0 and got.inputFiles() == []
    # the latest ts in the table: only the files holding it are read
    cut = datetime.datetime(1970, 1, 1) + datetime.timedelta(
        microseconds=max(st[p]["ts"][1] for p in paths))
    got = t.scan([("ts", ">=", cut)])
    exp = t.read().filter(F.col("ts") >= F.lit(cut))
    assert got.count() == exp.count() > 0
    assert len(got.inputFiles()) < _total_files(man)
