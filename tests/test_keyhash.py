"""Driver-side key hashing (``sinks/keyhash.py``) against Spark's own
``pmod(xxhash64(...), n)``: the hash point lookups route with must equal
the one every writer buckets and slots rows by."""

from __future__ import annotations

import datetime
import json
import random

import pytest
from pyspark.sql import functions as F, types as T

from diffsync_spark.sinks import keyhash

N = 13  # a modulus that is not a power of two


def _strings(rng, n):
    alphabet = ("abcXYZ019 _-/" + "éßøüñ" + "日本語中文한국어"
                + "\U0001F600\U0001F680\U00010348" + "á")
    out = ["", "a", "abcd", "abcdefgh", "x" * 31, "y" * 32, "z" * 33,
           "日本" * 20]
    out += ["".join(rng.choice(alphabet) for _ in range(rng.randrange(80)))
            for _ in range(n)]
    return out


def _ints(bits):
    lim = 1 << (bits - 1)

    def gen(rng, n):
        return [-lim, lim - 1, -1, 0, 1] + [
            rng.randrange(-lim, lim) for _ in range(n)]
    return gen


def _dates(rng, n):
    lo = datetime.date(1901, 1, 1)
    return [lo, datetime.date(1969, 12, 31), datetime.date(1970, 1, 1)] + [
        lo + datetime.timedelta(days=rng.randrange(110_000))
        for _ in range(n)]


def _timestamps(rng, n):
    lo = datetime.datetime(1901, 1, 2)
    return [lo, datetime.datetime(1969, 12, 31, 23, 59, 59, 999_999),
            datetime.datetime(1970, 1, 1)] + [
        lo + datetime.timedelta(microseconds=rng.randrange(10 ** 16))
        for _ in range(n)]


TYPES = {
    "string": (T.StringType(), _strings),
    "byte": (T.ByteType(), _ints(8)),
    "short": (T.ShortType(), _ints(16)),
    "int": (T.IntegerType(), _ints(32)),
    "long": (T.LongType(), _ints(64)),
    "date": (T.DateType(), _dates),
    "timestamp": (T.TimestampType(), _timestamps),
    "boolean": (T.BooleanType(),
                lambda rng, n: [rng.random() < 0.5 for _ in range(n)]),
}


def _driver(vals, dtypes):
    enc = [keyhash.encode(v, t) for v, t in zip(vals, dtypes)]
    assert None not in enc, vals
    h = keyhash.xxhash64(enc)
    return h, h % N


@pytest.mark.parametrize("name", list(TYPES))
def test_xxhash64_matches_spark(spark, name):
    """1,000 random values (plus edge cases) per stored type: the hash and
    its bucket equal ``xxhash64`` and ``pmod(xxhash64, n)`` computed by
    Spark over a column of that type."""
    dtype, gen = TYPES[name]
    vals = gen(random.Random(name), 1000)
    df = spark.createDataFrame(
        [(v,) for v in vals], T.StructType([T.StructField("k", dtype)]))
    got = df.select(F.xxhash64("k"),
                    F.pmod(F.xxhash64("k"), F.lit(N))).collect()
    assert len(got) == len(vals)
    for v, (h, b) in zip(vals, got):
        assert _driver([v], [dtype]) == (h, b), v


def test_chained_columns_skip_nulls(spark):
    """A multi-column key chains each column's hash as the next one's
    seed, and a NULL column leaves the hash unchanged."""
    rng = random.Random(7)
    names = ["string", "int", "long", "timestamp", "date", "boolean"]
    cols = {n: TYPES[n][1](rng, 1000)[:1000] for n in names}
    rows = []
    for i in range(1000):
        rows.append(tuple(None if rng.random() < 0.1 else cols[n][i]
                          for n in names))
    schema = T.StructType([T.StructField(n, TYPES[n][0]) for n in names])
    got = spark.createDataFrame(rows, schema).select(
        F.xxhash64(*names), F.pmod(F.xxhash64(*names), F.lit(N))).collect()
    dtypes = [TYPES[n][0] for n in names]
    for row, (h, b) in zip(rows, got):
        assert _driver(row, dtypes) == (h, b), row


@pytest.mark.parametrize("name", ["date", "timestamp", "string", "int"])
def test_literal_cast_path_agrees(spark, name):
    """The routing the driver hash replaces: ``xxhash64(lit(v).cast(t))``,
    whose Python-to-JVM conversion of dates and naive datetimes differs
    from ``createDataFrame``'s."""
    dtype, gen = TYPES[name]
    vals = gen(random.Random(f"lit-{name}"), 200)
    row = spark.sql("VALUES (0)").select(
        *[F.xxhash64(F.lit(v).cast(dtype)) for v in vals]).first()
    for v, h in zip(vals, row):
        assert _driver([v], [dtype])[0] == h, v


@pytest.mark.parametrize("value, dtype", [
    ("3", T.IntegerType()),            # another type: Spark casts it
    (3, T.StringType()),
    (True, T.IntegerType()),
    (1 << 31, T.IntegerType()),        # out of range
    (1 << 63, T.LongType()),
    (3.0, T.DoubleType()),             # uncovered types
    (datetime.date(2020, 1, 1), T.TimestampType()),
    (datetime.datetime(2020, 1, 1), T.DateType()),
    (datetime.date(1500, 1, 1), T.DateType()),  # calendar rebase range
    (datetime.datetime(1800, 1, 1), T.TimestampType()),
    ("a", T.StringType("UTF8_LCASE")),
    ("\ud800", T.StringType()),        # lone surrogate: not UTF-8
])
def test_uncovered_values_fall_back(value, dtype):
    assert keyhash.encode(value, dtype) is None


def test_route_key_driver_and_spark_paths_agree(spark, tmp_path):
    """``_route_key`` answers an exactly-typed key on the driver and any
    other with Spark; both give the same bucket, hash and key."""
    from diffsync_spark.model import TRANSCRIPT_MODEL
    from diffsync_spark.sinks.table import SnapshotTable

    schema = T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("text", T.StringType()),
    ])
    t = SnapshotTable.create(spark, str(tmp_path / "route"),
                             TRANSCRIPT_MODEL, schema=schema, n_buckets=7)
    man = t._manifest()
    public = T.StructType.fromJson(json.loads(man["schema"]))
    for conv, turn in [("c1", 3), ("日本", -5), ("", 0), ("x" * 40, 2 ** 31 - 1)]:
        exact = t._route_key(man, public, {"conv_id": conv, "turn_idx": turn})
        cast = t._route_key(man, public,
                            {"conv_id": conv, "turn_idx": str(turn)})
        assert exact == cast
        assert exact[2] == (conv, turn)
    # parent-key routing (bucket only), on both paths
    assert t._route_key(man, public, {"conv_id": "1"}) == t._route_key(
        man, public, {"conv_id": 1})
    assert t._route_key(man, public, {"conv_id": "1"})[1:] == (None, None)
