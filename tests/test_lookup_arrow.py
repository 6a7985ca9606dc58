"""Driver-side Arrow point lookups against the Spark read as oracle.

``SnapshotTable.lookup`` reads the key's slot files with pyarrow on the
driver, resolves columns by field id, folds merge-on-read rows and converts
the winner to Python values itself. Each case here checks it against
``read(version).filter(key).collect()[0].asDict()`` — values AND their
Python types (``bytes == bytearray`` is True, so equality alone would miss
a conversion drift)."""

from __future__ import annotations

import datetime
import decimal

import pytest
from pyspark.sql import Row, functions as F, types as T

from diffsync_spark.model import ModelSchema
from diffsync_spark.sinks.table import SnapshotTable

T0 = datetime.datetime(2025, 1, 1, 8, 30, 0, 123_456)
T1 = T0 + datetime.timedelta(hours=1)

MODEL = ModelSchema(name="t", identifiers=("k",), attributes=("v",),
                    version_cols=("ts",))


def _oracle(t, key: dict, version=None):
    df = t.read(version)
    for c, v in key.items():
        df = df.filter(F.col(c) == F.lit(v))
    rows = df.collect()
    return rows[0].asDict() if rows else None


def _same(got, want):
    assert got == want
    if want is not None:
        assert {c: type(v) for c, v in got.items()} == {
            c: type(v) for c, v in want.items()}


def _check(t, keys, version=None, ids=("k",)):
    """Every key's lookup equals the oracle; returns the lookups."""
    out = []
    for k in keys:
        k = k if isinstance(k, tuple) else (k,)
        got = t.lookup(list(k), version=version)
        _same(got, _oracle(t, dict(zip(ids, k)), version))
        out.append(got)
    return out


def _table(spark, path, df, mode="mor", n_buckets=4, model=MODEL):
    t = SnapshotTable.create(spark, path, model, schema=df.schema,
                             n_buckets=n_buckets, write_mode=mode)
    t.merge(df.withColumn("op", F.lit("insert")), mode="force",
            checkpoint_id="boot", batch_id=0)
    return t


RICH = T.StructType([
    T.StructField("k", T.StringType()),
    T.StructField("v", T.StringType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("d", T.DateType()),
    T.StructField("dec", T.DecimalType(12, 3)),
    T.StructField("bin", T.BinaryType()),
    T.StructField("arr", T.ArrayType(T.IntegerType())),
    T.StructField("m", T.MapType(T.StringType(), T.IntegerType())),
    T.StructField("st", T.StructType([
        T.StructField("a", T.IntegerType()),
        T.StructField("b", T.StringType())])),
    T.StructField("f", T.FloatType()),
])


def _rich_rows(n, tag, ts):
    rows = []
    for i in range(n):
        null = i % 5 == 0  # every fifth row: every nullable column NULL
        rows.append((
            f"k{i}", f"{tag}{i}", ts,
            None if null else datetime.date(2024, 1, 1 + i % 28),
            None if null else decimal.Decimal(f"{i * 7}.{i % 1000:03d}"),
            None if null else bytes([i % 256, 0, 255]),
            None if null else [i, None, -i],
            None if null else {"a": i, "b": None},
            None if null else Row(a=i, b=None if i % 2 else f"s{i}"),
            None if null else i / 4,
        ))
    return rows


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_rich_types_match_the_spark_read(spark, tmp_path, mode):
    """Timestamp, date, decimal, binary, array, map and struct values
    (NULLs included) come back exactly as collect() gives them, from base
    files and from a merge-on-read layer; deletes and misses are None."""
    df = spark.createDataFrame(_rich_rows(30, "v", T0), RICH)
    t = _table(spark, str(tmp_path / "t"), df, mode=mode)
    up = spark.createDataFrame(_rich_rows(30, "u", T1)[::3], RICH)
    dels = spark.createDataFrame(
        [(f"k{i}", None, T1, None, None, None, None, None, None, None)
         for i in (1, 4)], RICH)
    t.merge(up.unionByName(dels)
            .withColumn("op", F.when(F.col("v").isNull(), "delete")
                        .otherwise("upsert")),
            checkpoint_id="c", batch_id=1)
    if mode == "mor":
        assert t._manifest().get("deltas"), "setup: expected a layer"
    got = _check(t, [f"k{i}" for i in range(30)] + ["nope"])
    assert got[3]["v"] == "u3" and got[2]["v"] == "v2"
    assert got[1] is None and got[4] is None and got[-1] is None
    assert isinstance(got[2]["bin"], bytes)
    assert isinstance(got[2]["st"], Row) and got[2]["m"] == {"a": 2, "b": None}
    assert got[2]["ts"] == T0 and got[0]["d"] is None


def test_mor_ts_seq_tie_goes_to_the_earliest_commit(spark, tmp_path):
    """Two layers carrying the same (ts, seq) for a key: ``__commit``
    decides — the earlier layer wins, as the copy-on-write MERGE's strict
    comparisons would keep the stored row; a higher seq beats both."""
    ddl = "k string, v string, ts timestamp"
    t = _table(spark, str(tmp_path / "t"),
               spark.createDataFrame([("a", "base", T0), ("b", "base", T0)],
                                     ddl))

    def layer(rows, n):
        t.merge(spark.createDataFrame(rows, ddl + ", seq long, op string"),
                checkpoint_id=f"c{n}", batch_id=n)

    layer([("a", "l1", T1, 5, "upsert"), ("b", "l1", T1, 5, "upsert")], 1)
    layer([("a", "l2", T1, 5, "upsert"), ("b", "l2", T1, 6, "upsert")], 2)
    assert len(t._manifest()["deltas"]) == 2
    a, b = _check(t, ["a", "b"])
    assert a["v"] == "l1" and b["v"] == "l2"


def test_null_ts_tombstone_counts_as_newest(spark, tmp_path):
    """A NULL-ts delete in a layer beats a later layer's upsert with a
    real (higher) ts."""
    ddl = "k string, v string, ts timestamp"
    t = _table(spark, str(tmp_path / "t"),
               spark.createDataFrame([("a", "base", T0), ("b", "base", T0)],
                                     ddl))
    t.merge(spark.createDataFrame([("a", None, None, "delete")],
                                  ddl + ", op string"),
            checkpoint_id="c1", batch_id=1)
    t.merge(spark.createDataFrame([("a", "late", T1, "upsert")],
                                  ddl + ", op string"),
            checkpoint_id="c2", batch_id=2)
    assert len(t._manifest()["deltas"]) == 2
    a, b = _check(t, ["a", "b"])
    assert a is None and b["v"] == "base"


def test_column_add_rename_and_drop_readd(spark, tmp_path):
    """Field-id resolution: an added column reads NULL from older files, a
    renamed one keeps its values, and a dropped-then-re-added column never
    resurrects the dropped values — on base files and layers alike."""
    ddl = "k string, v string, tool string, ts timestamp"
    rows = [(f"k{i}", f"v{i}", f"tool{i}", T0) for i in range(12)]
    t = _table(spark, str(tmp_path / "t"), spark.createDataFrame(rows, ddl))
    t.add_column("extra", T.StringType())
    t.merge(spark.createDataFrame(
        [(f"k{i}", f"w{i}", f"tool{i}", T1, f"x{i}", "upsert")
         for i in range(0, 12, 3)],
        ddl + ", extra string, op string"), checkpoint_id="c1", batch_id=1)
    t.rename_column("v", "v2")
    t.drop_column("tool")
    t.add_column("tool", T.StringType())
    assert t._manifest().get("deltas"), "setup: expected a layer"
    got = _check(t, [f"k{i}" for i in range(12)])
    assert all(r["tool"] is None for r in got)
    assert got[3]["v2"] == "w3" and got[3]["extra"] == "x3"
    assert got[4]["v2"] == "v4" and got[4]["extra"] is None


def test_widened_column_reads_old_files(spark, tmp_path):
    """A payload column widened int -> bigint by schema evolution: files
    written before the widening are cast up."""
    m = ModelSchema(name="t", identifiers=("k",), attributes=("n",),
                    version_cols=("ts",))
    ddl = "k string, n int, ts timestamp"
    t = _table(spark, str(tmp_path / "t"),
               spark.createDataFrame([(f"k{i}", i, T0) for i in range(12)],
                                     ddl), mode="cow", model=m)
    t.merge(spark.createDataFrame([("k0", 2 ** 40, T1, "upsert")],
                                  "k string, n bigint, ts timestamp, op string"),
            checkpoint_id="c1", batch_id=1)
    public = t.schema()
    assert isinstance(public["n"].dataType, T.LongType)
    got = _check(t, [f"k{i}" for i in range(12)])
    assert got[0]["n"] == 2 ** 40 and got[5]["n"] == 5


def test_version_lookup_reads_that_snapshot(spark, tmp_path):
    ddl = "k string, v string, ts timestamp"
    t = _table(spark, str(tmp_path / "t"),
               spark.createDataFrame([("a", "old", T0), ("b", "old", T0)],
                                     ddl))
    v0 = t.current_version()
    t.merge(spark.createDataFrame(
        [("a", "new", T1, "upsert"), ("b", None, T1, "delete")],
        ddl + ", op string"), checkpoint_id="c1", batch_id=1)
    old = _check(t, ["a", "b"], version=v0)
    new = _check(t, ["a", "b"])
    assert [r["v"] for r in old] == ["old", "old"]
    assert new[0]["v"] == "new" and new[1] is None


def test_zorder_bucket_with_a_layer(spark, tmp_path):
    """A Z-ordered bucket is not key-ordered and has one slot: the lookup
    reads all its range-split files, then folds a later layer."""
    m = ModelSchema(name="pt", identifiers=("k",), attributes=("x", "v"),
                    version_cols=("ts",))
    df = spark.range(2000).select(
        F.col("id").cast("int").alias("k"),
        F.pmod(F.xxhash64("id"), F.lit(1000)).cast("int").alias("x"),
        F.lit("p").alias("v"), F.lit(T0).alias("ts"))
    t = _table(spark, str(tmp_path / "t"), df, model=m)
    t.compact(zorder=["x"], zorder_files_per_bucket=4)
    t.merge(spark.createDataFrame([(7, 1, "moved", T1, "upsert")],
                                  "k int, x int, v string, ts timestamp, "
                                  "op string"),
            checkpoint_id="c1", batch_id=1)
    got = _check(t, [0, 7, 999, 1999, 5000])
    assert got[1]["v"] == "moved" and got[-1] is None


def test_bucket_splits_route_to_the_key_slot(spark, tmp_path):
    """Buckets fanned out over several slots (base and layer) are read
    one slot file each, and still answer like the Spark read."""
    m = ModelSchema(name="t", identifiers=("k",), attributes=("v",),
                    version_cols=("ts",))
    df = spark.range(60_000).select(
        F.col("id").alias("k"), F.col("id").cast("string").alias("v"),
        F.lit(T0).alias("ts"))
    t = _table(spark, str(tmp_path / "t"), df, n_buckets=2, model=m)
    assert any(int(s) > 1 for s in t._manifest()["bucket_splits"].values())
    t.merge(spark.range(0, 60_000, 997).select(
        F.col("id").alias("k"), F.lit("upd").alias("v"),
        F.lit(T1).alias("ts"), F.lit("upsert").alias("op")),
        checkpoint_id="c1", batch_id=1)
    got = _check(t, [0, 997, 1, 31_337, 59_999, 70_000])
    assert got[0]["v"] == "upd" and got[2]["v"] == "1" and got[-1] is None


def test_miss_in_an_empty_bucket(spark, tmp_path):
    ddl = "k string, v string, ts timestamp"
    t = _table(spark, str(tmp_path / "t"),
               spark.createDataFrame([("a", "x", T0)], ddl), n_buckets=16)
    man = t._manifest()
    empty = next(k for k in (f"m{i}" for i in range(100))
                 if str(t._route_key(man, t.schema(), {"k": k})[0])
                 not in man["files"])
    assert t.lookup([empty]) is None and _oracle(t, {"k": empty}) is None


def test_probe_types_differing_from_the_stored_types(spark, tmp_path):
    """Probe values are matched as cast to the stored types (the routing's
    cast): a string for a date, an int for a decimal, a float for a
    bigint."""
    m = ModelSchema(name="t", identifiers=("d", "dec", "n"),
                    attributes=("v",), version_cols=("ts",))
    ddl = "d date, dec decimal(10,2), n bigint, v string, ts timestamp"
    rows = [(datetime.date(2024, 2, 20 + i), decimal.Decimal(7 + i), i,
             f"v{i}", T0) for i in range(4)]
    t = _table(spark, str(tmp_path / "t"), spark.createDataFrame(rows, ddl),
               model=m)
    got = _check(t, [("2024-02-21", 8, 1.0), ("2024-02-23", 10, 3),
                     ("2024-02-22", 9, 1)], ids=m.identifiers)
    assert got[0]["v"] == "v1" and got[1]["v"] == "v3" and got[2] is None
