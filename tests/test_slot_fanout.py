"""Slot-partitioned write fan-out + slot-pruned point lookups.

The MERGE's salted writer fan-out (hot buckets split over
``xxhash64(key) % splits`` writer slots) is also a physical partition level
(``__slot=S`` dirs) recorded in the manifest as ``bucket_splits`` — so a
point lookup prunes a hot bucket's read to the single file set its key
hashes into (the durable analog of the reference's O(1) ``store.get``,
``/root/reference/diffsync/store/local.py:30-49``, kept O(1 file) instead
of O(bucket) at scale)."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from diffsync_spark.model import TRANSCRIPT_MODEL
from diffsync_spark.sinks.table import SLOT, SnapshotTable


def _big_df(spark, n=120_000, n_convs=200):
    """n rows over n_convs conversations — large enough that the writer's
    25k-row split target fans each of 2 buckets out over >1 slot."""
    return spark.range(n).select(
        F.concat(F.lit("c"), (F.col("id") % n_convs).cast("string")).alias(
            "conv_id"
        ),
        (F.col("id") / n_convs).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.concat(F.lit("text-"), F.col("id").cast("string")).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.timestamp_micros(F.col("id")).alias("ts"),
        F.lit("insert").alias("op"),
    )


def _bootstrap_big(spark, tmp_path, n=120_000):
    df = _big_df(spark, n)
    tbl = SnapshotTable.create(
        spark, str(tmp_path / "tbl"), TRANSCRIPT_MODEL,
        schema=df.drop("op").schema, n_buckets=2,
    )
    tbl.merge(df, mode="force", checkpoint_id="boot", batch_id=0)
    return tbl


def _probe(spark, man, key):
    """The key's (bucket, slot-hash) exactly as the writer computes them."""
    return (
        spark.createDataFrame([key], "conv_id string, turn_idx int")
        .select(
            F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(man["n_buckets"]))
            .cast("int").alias("b"),
            F.xxhash64("conv_id", "turn_idx").alias("h"),
        )
        .first()
    )


def test_hot_bucket_fans_out_into_slot_dirs(spark, tmp_path):
    tbl = _bootstrap_big(spark, tmp_path)
    man = tbl._manifest()
    assert set(man["bucket_splits"]) == {"0", "1"}
    assert all(int(s) > 1 for s in man["bucket_splits"].values())
    slot_dirs = glob.glob(str(tmp_path / "tbl" / "data" / "v*" / "_bucket=*"
                              / f"{SLOT}=*"))
    assert len(slot_dirs) == sum(
        int(s) for s in man["bucket_splits"].values()
    )
    # every manifest file path carries its slot dir
    for fl in man["files"].values():
        assert all(f"{SLOT}=" in p for p in fl)


def test_lookup_prunes_to_one_slot_and_is_correct(spark, tmp_path):
    tbl = _bootstrap_big(spark, tmp_path)
    man = tbl._manifest()
    key = ("c7", 33)
    sel = _probe(spark, man, key)
    pruned = tbl._lookup_files(man, sel.b, sel.h)
    bucket_files = man["files"][str(sel.b)]
    assert 0 < len(pruned) < len(bucket_files)
    splits = int(man["bucket_splits"][str(sel.b)])
    assert len(pruned) <= -(-len(bucket_files) // splits) + 1
    # pruned set is exactly one slot's files
    assert len({p.rsplit(f"{SLOT}=", 1)[1].split("/")[0] for p in pruned}) == 1
    # and the lookup through that path is right / misses cleanly
    assert tbl.lookup(key)["text"] == f"text-{33 * 200 + 7}"
    assert tbl.lookup(("no-such-conv", 1)) is None


def test_lookup_sees_updates_across_commits(spark, tmp_path):
    tbl = _bootstrap_big(spark, tmp_path)
    up = (
        _big_df(spark).limit(500)
        .withColumn("text", F.lit("UPDATED"))
        .withColumn("ts", F.timestamp_micros(F.lit(10 ** 12)))
    )
    res = tbl.merge(up, mode="force", checkpoint_id="boot", batch_id=1)
    assert res["n_update"] == 500
    assert tbl.lookup(("c0", 0))["text"] == "UPDATED"
    # untouched-bucket carry-over keeps bucket_splits complete
    assert set(tbl._manifest()["bucket_splits"]) == {"0", "1"}


def test_compact_preserves_fanout_and_gc_spares_live_slots(spark, tmp_path):
    tbl = _bootstrap_big(spark, tmp_path)
    boot_version = tbl.current_version()
    res = tbl.compact()
    assert not res["skipped"]
    man = tbl._manifest()
    # a hot bucket stays fanned out after binpack, and lookups still prune
    assert any(int(s) > 1 for s in man["bucket_splits"].values())
    key = ("c7", 33)
    sel = _probe(spark, man, key)
    assert len(tbl._lookup_files(man, sel.b, sel.h)) < len(
        man["files"][str(sel.b)]
    )
    assert tbl.lookup(key)["text"] == f"text-{33 * 200 + 7}"
    assert tbl.read().count() == 120_000
    # orphan GC under the slot layout: the v{N}-{sid} liveness component is
    # found by pattern, so the extra __slot dir level cannot shift it into
    # deleting live data (min_versions_old=0 = most aggressive)
    assert tbl.remove_orphans(min_versions_old=0)["removed_dirs"] == []
    assert tbl.read().count() == 120_000
    assert tbl.read(version=boot_version).count() == 120_000
