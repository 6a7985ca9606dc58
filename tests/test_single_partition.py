"""Single-partition writes keep the slot fan-out: a hot bucket whose
planned split is above 1 is written as ``__slot=S`` files that agree with
the committed ``bucket_splits``, whether the write ran on one partition
(inputs within the single-partition budget) or shuffled (the budget forced
to 0 through ``spark.sql.maxSinglePartitionBytes``)."""

from __future__ import annotations

import datetime
import re

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F, types as T

from diffsync_spark.model import TRANSCRIPT_MODEL
from diffsync_spark.sinks import keyhash
from diffsync_spark.sinks.table import SnapshotTable

_CDC = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp, op string, seq long"
)
N_BUCKETS = 4


def _rows(text, seq):
    t0 = datetime.datetime(2025, 1, 1)
    return [(f"c{i}", i, "user", f"{text}{i}", None, t0, "upsert", seq)
            for i in range(64)]


def _hash(conv, turn):
    return keyhash.xxhash64([keyhash.encode(conv, T.StringType()),
                             keyhash.encode(turn, T.IntegerType())])


def _bucket(conv):
    return keyhash.xxhash64([keyhash.encode(conv, T.StringType())]) \
        % N_BUCKETS


@pytest.mark.parametrize("regime", ["single", "shuffle"])
def test_hot_bucket_slots_agree_with_bucket_splits(spark, tmp_path, regime,
                                                   request):
    """The manifest claims ~100k rows in one bucket, so ``_plan_splits``
    gives it 4-5 slots. A CoW LWW merge, a snapshot sync and a compaction
    must each write that bucket as several ``__slot=S`` files, each
    holding exactly the keys with ``xxhash64(key) % splits == S`` for the
    ``bucket_splits`` it commits, and every key must still be found by a
    slot-pruned lookup."""
    if regime == "shuffle":
        request.getfixturevalue("shuffle_regime")
    boot = spark.createDataFrame(_rows("t", 0), _CDC)
    t = SnapshotTable.create(spark, str(tmp_path / "hot"), TRANSCRIPT_MODEL,
                             schema=boot.drop("op", "seq").schema,
                             n_buckets=N_BUCKETS)
    t.merge(boot, mode="force", checkpoint_id="boot", batch_id=0)
    counts = {}
    for i in range(64):
        counts[_bucket(f"c{i}")] = counts.get(_bucket(f"c{i}"), 0) + 1
    hot = max(counts, key=counts.get)

    manifest = t._manifest

    def inflated(version=None):
        man = manifest(version)
        if version is None:  # what every writer plans its slots from
            man = {**man, "bucket_rows": {**man.get("bucket_rows", {}),
                                          str(hot): 100_000}}
        return man

    t._manifest = inflated
    plans = []
    write_files = t._write_files

    def capture(df, man, data_dir):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return write_files(df, man, data_dir)

    t._write_files = capture

    def staged(text, seq, name):
        path = str(tmp_path / name)
        spark.createDataFrame(_rows(text, seq), _CDC).write.parquet(path)
        return spark.read.schema(_CDC).parquet(path)

    def check(text):
        assert ("Exchange" in plans[-1]) == (regime == "shuffle")
        man = manifest()
        split = int(man["bucket_splits"][str(hot)])
        assert split > 1
        slots = set()
        for p in man["files"][str(hot)]:
            slot = int(re.search(r"__slot=(\d+)", p).group(1))
            slots.add(slot)
            keys = pq.read_table(p, columns=["conv_id", "turn_idx"])
            for conv, turn in zip(keys.column(0).to_pylist(),
                                  keys.column(1).to_pylist()):
                assert _bucket(conv) == hot
                assert _hash(conv, turn) % split == slot, (conv, turn, p)
        assert len(slots) > 1
        for i in range(64):
            assert t.lookup([f"c{i}", i])["text"] == f"{text}{i}"

    res = t.merge(staged("lww", 1, "lww"), checkpoint_id="c", batch_id=1)
    assert res["n_update"] == 64
    check("lww")
    res = t.merge(staged("snap", 2, "snap").drop("op"), mode="snapshot",
                  checkpoint_id="s", batch_id=0)
    assert res["n_update"] == 64
    check("snap")
    res = t.compact()
    assert hot in res["compacted_buckets"]
    check("snap")
    assert t.read().filter(F.col("text").startswith("snap")).count() == 64
