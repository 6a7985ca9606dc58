"""Every writer keeps its files inside the committed slot split.

A point lookup reads only the ``__slot=S`` files its key hashes to, with
``S = xxhash64(key) % split`` and ``split`` the bucket's committed
``bucket_splits`` entry (a layer's own ``splits`` for its files). A writer
whose files disagree with the split it commits makes lookups miss rows
that ``read()`` returns. Here every bucket is forced hot (split 3), and
after each kind of write the audit is clean and ``lookup``/``lookup_many``
agree with ``read()`` for every stored key and for absent ones.
"""

from __future__ import annotations

import datetime

import pytest

from diffsync_spark.model import ModelSchema
from diffsync_spark.sinks.table import SnapshotTable

MODEL = ModelSchema(
    name="kv", identifiers=("k",), attributes=("v",), version_cols=("ts",)
)
T0 = datetime.datetime(2025, 1, 1)
SPLIT = 3
ABSENT = [-1, 777, 10_000]


@pytest.fixture
def hot(monkeypatch):
    """Fan every written bucket out over SPLIT slots, as a hot bucket is."""
    monkeypatch.setattr(SnapshotTable, "_plan_splits",
                        lambda self, est: {b: SPLIT for b in est})


def _rows(spark, keys, tag, hours=0, op="update"):
    return spark.createDataFrame(
        [(k, f"{tag}{k}", T0 + datetime.timedelta(hours=hours, minutes=k), op)
         for k in keys],
        "k int, v string, ts timestamp, op string")


def _check(spark, t, step):
    res = t.verify_table()
    assert res["ok"], (step, res["issues"])
    want = {r.k: r.asDict() for r in t.read().collect()}
    assert want, step
    for k in [*sorted(want), *ABSENT]:
        assert t.lookup((k,)) == want.get(k), (step, k)
    probe = spark.createDataFrame([(k,) for k in [*want, *ABSENT]], "k int")
    got = {r.k: r.asDict() for r in t.lookup_many(probe).collect()}
    assert got == want, step


def _hot(t):
    return [int(s) for s in t.stored_manifest()["bucket_splits"].values()]


def test_cow_writers_keep_files_inside_the_split(spark, tmp_path, hot):
    t = SnapshotTable.create(spark, str(tmp_path / "t"), MODEL,
                             schema=_rows(spark, [], "").drop("op").schema,
                             n_buckets=2)
    t.merge(_rows(spark, range(120), "v"), mode="force",
            checkpoint_id="boot", batch_id=0)
    assert _hot(t) == [SPLIT, SPLIT]  # set-up
    _check(spark, t, "bootstrap")
    t.merge(_rows(spark, range(100, 140), "u", hours=1)
            .unionByName(_rows(spark, [3], "", hours=1, op="delete")),
            checkpoint_id="c", batch_id=1)
    _check(spark, t, "cow merge")
    t.merge(_rows(spark, range(10, 130), "s", hours=2).drop("op"),
            mode="snapshot", checkpoint_id="c", batch_id=2)
    _check(spark, t, "snapshot sync")
    t.compact()
    _check(spark, t, "compact")
    t.compact(zorder=["ts"])
    _check(spark, t, "z-order compact")
    t.rebucket(3)
    assert _hot(t) == [SPLIT] * 3  # set-up
    _check(spark, t, "rebucket")


def test_mor_append_keeps_files_inside_the_split(spark, tmp_path, hot):
    t = SnapshotTable.create(spark, str(tmp_path / "t"), MODEL,
                             schema=_rows(spark, [], "").drop("op").schema,
                             n_buckets=2, write_mode="mor")
    t.merge(_rows(spark, range(120), "v"), mode="force",
            checkpoint_id="boot", batch_id=0)
    t.merge(_rows(spark, range(100, 140), "u", hours=1)
            .unionByName(_rows(spark, [3], "", hours=1, op="delete")),
            checkpoint_id="c", batch_id=1)
    layers = t.stored_manifest()["deltas"]
    assert [sorted(map(int, l["splits"].values())) for l in layers] == [
        [SPLIT, SPLIT]]  # set-up: one hot layer over both buckets
    _check(spark, t, "mor append")
    t.compact(buckets=[0])
    _check(spark, t, "partial compact")
