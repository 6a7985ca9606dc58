"""The merge-on-read append's driver writer: a batch that fits one
partition is projected by Spark, collected with one ``toArrow()``, deduped
LWW and written per (bucket, slot) with pyarrow on the driver.

The differential test sends each batch through this writer and through
the shuffled Spark writer on twin tables and compares everything a reader
or the manifest can see; the others run the table's maintenance, garbage
collection and the ``diffsync_table`` DataSource over driver-written
layers."""

from __future__ import annotations

import datetime
import os
import re
import shutil

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from diffsync_spark.model import TRANSCRIPT_MODEL
from diffsync_spark.sinks import arrow_write
from diffsync_spark.sinks.table import SnapshotTable

IDS = ["conv_id", "turn_idx"]
_CDC = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp, born timestamp, op string, seq long"
)
T0 = datetime.datetime(2029, 1, 1)
T1 = T0 + datetime.timedelta(hours=1)
T2 = T0 + datetime.timedelta(hours=2)
BORN = datetime.datetime(1850, 6, 1, 12, 30)  # a pre-1900 payload value
EXPECT = {"short_text": "text IS NULL OR length(text) < 40"}
N_CONVS, TURNS = 50, 1200  # 60k bootstrap rows over 2 buckets


def _staged(spark, rows, path):
    """A file-backed batch, as a staged file or a streaming micro-batch is:
    it has a size estimate, so a small one fits one partition."""
    spark.createDataFrame(rows, _CDC).write.parquet(str(path))
    return spark.read.schema(_CDC).parquet(str(path))


def _table(spark, path, n_convs=N_CONVS, turns=TURNS, n_buckets=2):
    boot = spark.range(n_convs * turns).select(
        F.concat(F.lit("c"), (F.col("id") % n_convs).cast("string"))
        .alias("conv_id"),
        (F.col("id") / n_convs).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"), F.lit("boot").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit(T0).cast("timestamp").alias("ts"),
        F.lit(None).cast("timestamp").alias("born"),
        F.lit("insert").alias("op"), F.lit(0).cast("long").alias("seq"),
    )
    t = SnapshotTable.create(spark, str(path), TRANSCRIPT_MODEL,
                             schema=boot.drop("op", "seq").schema,
                             n_buckets=n_buckets, write_mode="mor")
    t.merge(boot, mode="force", checkpoint_id="boot", batch_id=0)
    return t


def _batches():
    b1 = [(f"c{c}", k, "user", f"u{c}-{k}", None, T1, BORN, "update",
           100 + c * 10 + k) for c in range(0, N_CONVS, 3) for k in range(3)]
    b1 += [
        # a (ts, seq) tie broken by seq: the null seq sorts first, as in
        # lww_dedup's desc-nulls-first order
        ("c1", 5, "user", "tie-null", None, T1, None, "update", None),
        ("c1", 5, "user", "tie-seven", None, T1, None, "update", 7),
        ("c2", 0, None, None, None, T1, None, "delete", 200),
        ("c4", 1, None, None, None, None, None, "delete", 201),  # no ts
        ("c7", 5000, "user", "new", None, T1, BORN, "insert", 202),
        (None, 3, "user", "nokey", None, T1, None, "update", 203),
        ("c8", 3, "user", "nots", None, None, None, "update", 204),
        ("c9", 3, "user", "x" * 60, None, T1, None, "update", 205),
    ]
    b2 = [(f"c{c}", k, "user", f"v{c}-{k}", None, T2, None, "upsert",
           1000 + c) for c in range(0, N_CONVS, 2) for k in range(2)]
    b2 += [
        ("c7", 5000, None, None, None, T2, None, "delete", 1100),
        ("c3", 0, "user", "stale", None, T0, BORN, "update", 1101),
        ("c5", 1, "user", "oplost", None, T2, None, None, 1102),
    ]
    return [b1, b2]


def _by_slot(man, layer):
    """(bucket, slot) -> the layer's one file there."""
    out = {}
    for b, files in layer["files"].items():
        for p in files:
            slot = int(re.search(r"__slot=(\d+)", p).group(1))
            assert (int(b), slot) not in out
            out[int(b), slot] = p
    return out


def _dictionary_columns(path):
    """The columns of a data file whose values are dictionary-encoded."""
    rg = pq.ParquetFile(path).metadata.row_group(0)
    return {rg.column(i).path_in_schema for i in range(rg.num_columns)
            if any("DICTIONARY" in e for e in rg.column(i).encodings)}


def _sorted(df, by):
    return df.sort_values(by).reset_index(drop=True)


def test_driver_and_spark_writers_agree(spark, tmp_path):
    a = _table(spark, tmp_path / "a")
    b = _table(spark, tmp_path / "b")
    assert max(a._plan_splits({int(k): n for k, n in
                               a._manifest()["bucket_rows"].items()})
               .values()) > 1  # a hot bucket splits into slots
    key = "spark.sql.maxSinglePartitionBytes"
    prev = spark.conf.get(key)
    # (n_quarantined, n_expectation_failed) of each batch
    bad = {1: (3, 1), 2: (1, 0)}
    for i, rows in enumerate(_batches(), start=1):
        batch = _staged(spark, rows, tmp_path / f"batch{i}")
        ra = a.merge(batch, checkpoint_id="d", batch_id=i,
                     expectations=EXPECT)
        spark.conf.set(key, "0")
        try:
            rb = b.merge(batch, checkpoint_id="d", batch_id=i,
                         expectations=EXPECT)
        finally:
            spark.conf.set(key, prev)
        assert ra["write_regime"] == "driver"
        assert rb["write_regime"] == "shuffle"
        for k in ("version", "touched_buckets", "n_input", "n_append",
                  "n_quarantined", "n_expectation_failed", "n_delta_layers"):
            assert ra[k] == rb[k], k
        assert (ra["n_quarantined"], ra["n_expectation_failed"]) == bad[i]

        ma, mb = a._manifest(), b._manifest()
        la, lb = _by_slot(ma, ma["deltas"][-1]), _by_slot(mb, mb["deltas"][-1])
        assert set(la) == set(lb) and any(s > 0 for _, s in la)
        for bs, pa_ in la.items():
            sa, sb = pq.read_schema(pa_), pq.read_schema(lb[bs])
            assert [(f.name, f.type, f.metadata) for f in sa] == \
                [(f.name, f.type, f.metadata) for f in sb], bs
            assert ma["_file_stats"].get(pa_) == mb["_file_stats"].get(lb[bs])
            assert _dictionary_columns(pa_) == _dictionary_columns(lb[bs])
            assert pq.read_table(pa_).equals(pq.read_table(lb[bs]).cast(
                pq.read_table(pa_).schema)), bs
        qa, qb = a.quarantine_df(ra["version"]), b.quarantine_df(rb["version"])
        assert _sorted(qa.toPandas(), "seq").equals(
            _sorted(qb.toPandas(), "seq"))

    cols = IDS + ["role", "text", "ts", "born", "_seq", "_deleted"]
    raw_a = _sorted(a.read_raw().select(*cols).toPandas(), IDS)
    raw_b = _sorted(b.read_raw().select(*cols).toPandas(), IDS)
    pd.testing.assert_frame_equal(raw_a, raw_b)
    assert raw_a.set_index(IDS).loc[("c1", 5), "text"] == "tie-null"
    assert (raw_a["born"] == pd.Timestamp(BORN)).sum() > 0
    for k in (["c1", 5], ["c2", 0], ["c4", 1], ["c7", 5000], ["c3", 0],
              ["c0", 0], ["c9", 3]):
        assert a.lookup(k) == b.lookup(k), k
    lin = [
        sorted(map(tuple, t.lineage_df().filter("checkpoint_id = 'd'")
                   .drop("snapshot_id").collect()))
        for t in (a, b)
    ]
    assert lin[0] == lin[1]
    ds = [_sorted(spark.read.format("diffsync_table")
                  .option("path", t.path).load().select(*cols[:-2])
                  .toPandas(), IDS) for t in (a, b)]
    pd.testing.assert_frame_equal(ds[0], ds[1])
    pd.testing.assert_frame_equal(
        ds[0], _sorted(a.read().select(*cols[:-2]).toPandas(), IDS))


def _replayed(spark, tmp_path, n_files=3):
    """A 4-bucket merge-on-read table fed ``n_files`` staged changelog
    files by ``stream_replay``: every micro-batch is a driver append."""
    from diffsync_spark.streaming.replay import stream_replay

    t = _table(spark, tmp_path / "t", n_convs=20, turns=5, n_buckets=4)
    feed = tmp_path / "feed"
    for i in range(n_files):
        rows = [(f"c{c}", k, "user", f"r{i}-{c}-{k}", None,
                 T1 + datetime.timedelta(minutes=i), None,
                 "delete" if (c + k + i) % 7 == 0 else "update", i * 100 + c)
                for c in range(20) for k in range(5)]
        spark.createDataFrame(rows, _CDC).coalesce(1).write.mode(
            "append").parquet(str(feed))
    results = []
    q = stream_replay(t, str(feed), _CDC, str(tmp_path / "ck"),
                      max_files_per_trigger=1, results=results)
    assert q.awaitTermination(180)
    assert len(results) == n_files
    assert {r["write_regime"] for r in results} == {"driver"}
    return t


def test_driver_layers_verify_fold_and_gc(spark, tmp_path):
    t = _replayed(spark, tmp_path)
    man = t._manifest()
    assert len(man["deltas"]) == 3
    layer_dirs = {re.search(r"(.*/v\d+-[0-9a-f]+)/", p).group(1)
                  for layer in man["deltas"] for fl in layer["files"].values()
                  for p in fl}
    for d in layer_dirs:
        assert not any(f == "_SUCCESS" or f.endswith(".crc")
                       for _, _, fs in os.walk(d) for f in fs)
    assert t.verify_table(check_counts=True)["ok"]
    before = _sorted(t.read().toPandas(), IDS)
    assert t.count_rows() == len(before)

    # a losing attempt's leftover: a layer dir no manifest references
    orphan = os.path.join(t.path, "data", "v2-0123456789ab")
    shutil.copytree(sorted(layer_dirs)[0], orphan)
    res = t.maintain(max_delta_layers=1)
    assert res["compacted_buckets"] and not t._manifest().get("deltas")
    assert t.verify_table(check_counts=True)["ok"]
    pd.testing.assert_frame_equal(_sorted(t.read().toPandas(), IDS), before)

    exp = t.expire_snapshots(keep_last=1)
    assert exp["expired_versions"] and exp["removed_files"] > 0
    gone = t.remove_orphans(min_versions_old=0)["removed_dirs"]
    assert orphan in gone and all(not os.path.exists(d) for d in layer_dirs)
    assert t.verify_table(check_counts=True)["ok"]
    pd.testing.assert_frame_equal(_sorted(t.read().toPandas(), IDS), before)


def test_datasource_reads_driver_layers(spark, tmp_path):
    t = _replayed(spark, tmp_path)
    got = (spark.read.format("diffsync_table").option("path", t.path)
           .load().select(*IDS, "text").toPandas())
    pd.testing.assert_frame_equal(
        _sorted(got, IDS),
        _sorted(t.read().select(*IDS, "text").toPandas(), IDS))

    layers = t._manifest()["deltas"]
    want = set()
    for layer in layers:
        for fl in layer["files"].values():
            for p in fl:
                for r in pq.read_table(p).to_pylist():
                    want.add((r["conv_id"], r["turn_idx"],
                              "delete" if r["_deleted"] else "upsert",
                              layer["commit"]))
    out = str(tmp_path / "changes")
    q = (spark.readStream.format("diffsync_table").option("path", t.path)
         .option("feed", "changes")
         .option("startingVersion", layers[0]["commit"] - 1)
         .load().writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", str(tmp_path / "ck_changes"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(180)
    got = {(r.conv_id, r.turn_idx, r._change_type, r._commit_version)
           for r in spark.read.parquet(out).collect()}
    assert got == want


def _compressible(path, n_rows=100_000):
    """One staged parquet file of ``n_rows`` updates that compresses to
    well under the 10 MB budget but decodes to more than it."""
    import numpy as np

    pq.write_table(pa.table({
        "conv_id": pa.array(["c1"] * n_rows),
        "turn_idx": pa.array(np.arange(n_rows, dtype="int32") % 50),
        "role": pa.array(["user"] * n_rows),
        "text": pa.array(["same"] * n_rows),
        "tool": pa.nulls(n_rows, pa.string()),
        "ts": pa.array([T2] * n_rows, pa.timestamp("us", tz="UTC")),
        "born": pa.nulls(n_rows, pa.timestamp("us", tz="UTC")),
        "op": pa.array(["update"] * n_rows),
        "seq": pa.array(np.arange(n_rows, dtype="int64")),
    }), str(path))


def test_compressible_batch_takes_the_shuffled_write(spark, tmp_path):
    """The driver regime is bounded by a batch's decoded size, not its
    compressed bytes: a staged file of 100k repeated rows fits the budget
    compressed but not decoded, so it takes the shuffled Spark write, as
    a file-backed frame and as a streaming micro-batch."""
    from diffsync_spark.sinks.table import _decoded_bytes
    from diffsync_spark.streaming.replay import stream_replay

    feed = tmp_path / "feed dir"  # a URI-escaped input path
    feed.mkdir()
    _compressible(feed / "b0.parquet")
    batch = spark.read.schema(_CDC).parquet(str(feed))
    t = _table(spark, tmp_path / "t", n_convs=4, turns=50)
    assert t._fits_one_partition(batch)
    assert not t._fits_one_partition(batch, decoded=True)
    assert _decoded_bytes(batch) > 10 * 1024 * 1024
    res = t.merge(batch, checkpoint_id="file", batch_id=1)
    assert res["write_regime"] == "shuffle"
    assert res["n_append"] == 50

    s = _table(spark, tmp_path / "s", n_convs=4, turns=50)
    spark.createDataFrame(
        [("c2", 3, "user", "small", None, T2, None, "update", 1)], _CDC,
    ).coalesce(1).write.parquet(str(tmp_path / "small"))
    small = next((tmp_path / "small").glob("*.parquet"))
    shutil.copy(small, feed / "b1.parquet")
    results = []
    q = stream_replay(s, str(feed), _CDC, str(tmp_path / "ck"),
                      max_files_per_trigger=1, results=results)
    assert q.awaitTermination(180)
    assert [r["write_regime"] for r in results] == ["shuffle", "driver"]
    pd.testing.assert_frame_equal(
        _sorted(s.read().filter("conv_id = 'c1'").toPandas(), IDS),
        _sorted(t.read().filter("conv_id = 'c1'").toPandas(), IDS))
    assert s.lookup(["c2", 3])["text"] == "small"


def test_bloom_table_small_append_takes_the_shuffled_write(spark, tmp_path):
    """pyarrow writes no parquet-mr bloom filters, so a small batch on a
    table with ``bloom_cols`` is written by the shuffled Spark write."""
    boot = spark.createDataFrame(
        [(f"c{c}", k, "user", "boot", None, T0, None) for c in range(4)
         for k in range(3)], _CDC.rsplit(",", 2)[0])
    t = SnapshotTable.create(spark, str(tmp_path / "t"), TRANSCRIPT_MODEL,
                             schema=boot.schema, n_buckets=2,
                             write_mode="mor", bloom_cols=["text"])
    t.merge(boot.withColumn("op", F.lit("insert")), mode="force",
            checkpoint_id="boot", batch_id=0)
    batch = _staged(spark, [("c1", 1, "user", "new", None, T1, None,
                             "update", 5)], tmp_path / "b")
    assert t._fits_one_partition(batch, decoded=True)
    res = t.merge(batch, checkpoint_id="c", batch_id=1)
    assert res["write_regime"] == "shuffle" and res["n_append"] == 1
    assert t.lookup(["c1", 1])["text"] == "new"


def test_lww_winners_order():
    """Per key: version descending with nulls first, then seq descending
    with nulls first; output sorted by the key."""
    tbl = pa.table({
        "k": ["b", "a", "a", "a", "b", "c", "c"],
        "v": [1, 2, 2, None, 1, 3, 3],
        "s": [5, 1, None, 0, 9, 4, 4],
        "row": [0, 1, 2, 3, 4, 5, 6],
    })
    got = arrow_write.lww_winners(tbl, ["k"], ["v", "s"])
    assert got.column("k").to_pylist() == ["a", "b", "c"]
    assert got.column("row").to_pylist()[:2] == [3, 4]
    assert got.column("row").to_pylist()[2] in (5, 6)
