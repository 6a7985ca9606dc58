"""The manifest carry rule, pinned over every writer, and the format check.

A commit carries its base's durable table state (checkpoints, model,
write mode, bloom columns, the field-id watermark, the format version) and
describes only itself in its per-commit fields (lineage, quarantine_dir;
only publish() sets published_from). Each writer runs right after a
publish() whose head has a lineage and a quarantine dir, so an inherited
per-commit field shows. A manifest of any other format version is refused.
"""

from __future__ import annotations

import datetime
import json
import os

import pytest
from pyspark.sql import types as T

from diffsync_spark.errors import DiffSyncSparkError
from diffsync_spark.model import ModelSchema
from diffsync_spark.sinks.manifest import FORMAT_VERSION
from diffsync_spark.sinks.table import SnapshotTable

MODEL = ModelSchema(
    name="kv", identifiers=("k",), attributes=("v",), version_cols=("ts",)
)
T0 = datetime.datetime(2025, 1, 1)
CHG = "k int, v string, ts timestamp, op string"


def _ts(h: int) -> datetime.datetime:
    return T0 + datetime.timedelta(hours=h)


def _boot(spark, path: str, write_mode: str) -> SnapshotTable:
    df = spark.createDataFrame(
        [(i, f"v{i}", T0, "insert") for i in range(40)], CHG)
    t = SnapshotTable.create(spark, path, MODEL, schema=df.drop("op").schema,
                             n_buckets=4, write_mode=write_mode,
                             bloom_cols=["v"])
    t.merge(df, mode="force", checkpoint_id="boot", batch_id=0)
    return t


def _publish(spark, t: SnapshotTable, i: int) -> dict:
    """Publish a branch commit with one quarantined row; returns main's
    manifest after the publish."""
    name = f"audit{i}"
    t.create_branch(name)
    t.branch(name).merge(
        spark.createDataFrame([(100 + i, "b", _ts(i), "update"),
                               (None, "bad", _ts(i), "update")], CHG),
        checkpoint_id="branch", batch_id=i)
    t.publish(name, delete_branch=True)
    man = t._manifest()
    assert man["published_from"]["branch"] == name  # set-up
    assert man["quarantine_dir"] and man["lineage"]  # set-up
    return man


def test_every_writer_carries_table_state_not_commit_facts(spark, tmp_path):
    cow = _boot(spark, str(tmp_path / "cow"), "cow")
    mor = _boot(spark, str(tmp_path / "mor"), "mor")

    def chg(i, *rows):
        return spark.createDataFrame(
            [(k, v, _ts(i), op) for k, v, op in rows], CHG)

    snapshot = spark.createDataFrame(
        [(k, f"s{k}", _ts(20)) for k in range(5, 45)],
        "k int, v string, ts timestamp")
    # (name, table, writer, writes a checkpoint, quarantines one row,
    #  field-id watermark change)
    writers = [
        ("cow force merge", cow, lambda i: cow.merge(
            chg(i, (1, "f", "update"), (2, None, "delete")), mode="force",
            checkpoint_id="w", batch_id=i), True, False, 0),
        ("cow lww merge", cow, lambda i: cow.merge(
            chg(i, (3, "l", "update")), checkpoint_id="w", batch_id=i),
         True, False, 0),
        ("mor append", mor, lambda i: mor.merge(
            chg(i, (4, "a", "update"), (None, "bad", "update")),
            checkpoint_id="w", batch_id=i), True, True, 0),
        ("snapshot sync", cow, lambda i: cow.merge(
            snapshot, mode="snapshot", checkpoint_id="w", batch_id=i),
         True, False, 0),
        ("compact", cow, lambda i: cow.compact(), False, False, 0),
        ("rebucket", cow, lambda i: cow.rebucket(
            cow._manifest()["n_buckets"] + 1), False, False, 0),
        ("add_column", cow, lambda i: cow.add_column("extra", T.LongType()),
         False, False, 1),
        ("rename_column", cow, lambda i: cow.rename_column("extra", "e2"),
         False, False, 0),
        ("drop_column", cow, lambda i: cow.drop_column("e2"),
         False, False, 0),
    ]
    for i, (name, t, write, checkpoints, quarantines, new_ids) in enumerate(
            writers, start=1):
        pub = _publish(spark, t, i)
        write(i)
        man = t._manifest()
        assert man["parent"] == pub["version"], name
        assert "published_from" not in man, name
        # per-commit fields describe this commit only
        assert all(r["snapshot_id"] == man["snapshot_id"]
                   and r["checkpoint_id"] == "w"
                   for r in man["lineage"]), name
        assert bool(man["lineage"]) == checkpoints, name
        if quarantines:
            assert man["quarantine_dir"] != pub["quarantine_dir"], name
            assert man["snapshot_id"][:12] in man["quarantine_dir"], name
            assert [r["n_quarantined"] for r in man["lineage"]
                    if r["partition"] == -1] == [1], name
        else:
            assert man["quarantine_dir"] is None, name
        # durable table state carries over unless the writer changes it
        want = dict(pub["checkpoints"])
        if checkpoints:
            want["w"] = i
        assert man["checkpoints"] == want, name
        for key in ("model", "write_mode", "bloom_cols", "format_version"):
            assert man[key] == pub[key], (name, key)
        assert man["last_field_id"] == pub["last_field_id"] + new_ids, name


@pytest.mark.parametrize("found", [None, FORMAT_VERSION + 1])
def test_other_format_version_is_refused(spark, tmp_path, found):
    """A manifest without ``format_version``, or with one this code does
    not know, is refused by every reader with an error naming both."""
    path = str(tmp_path / "t")
    t = _boot(spark, path, "cow")
    v = t.current_version()
    assert t.stored_manifest(v)["format_version"] == FORMAT_VERSION  # set-up
    mpath = os.path.join(path, "manifests", f"v{v}.json")
    with open(mpath) as f:
        man = json.load(f)
    if found is None:
        del man["format_version"]
    else:
        man["format_version"] = found
    with open(mpath, "w") as f:
        json.dump(man, f)
    want = f"format_version {found!r}.*format_version {FORMAT_VERSION}"
    with pytest.raises(DiffSyncSparkError, match=want):
        SnapshotTable.load(spark, path, MODEL)
    with pytest.raises(DiffSyncSparkError, match=want):
        t.read(version=v)
    with pytest.raises(Exception, match=want):
        spark.read.format("diffsync_table").option("path", path).load()
