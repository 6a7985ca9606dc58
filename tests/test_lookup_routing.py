"""Point-lookup key routing across key types.

``SnapshotTable.lookup`` routes a key to its bucket and slot by hashing the
key as literals cast to the stored column types, while MERGE hashes the
written columns. Any disagreement sends the lookup to the wrong files and
turns a hit into a silent miss, so every written key must be found, for
each key type the hash treats differently."""

from __future__ import annotations

import datetime
import decimal

import pytest
from pyspark.sql import functions as F

from diffsync_spark.model import ModelSchema
from diffsync_spark.sinks.table import SnapshotTable

MODEL = ModelSchema(
    name="t", identifiers=("k",), attributes=("v",), version_cols=("ts",),
)
T0 = datetime.datetime(2025, 1, 1)
N = 12

KEYS = {
    "int": [i * 7919 - 50_000 for i in range(N)],
    "bigint": [2 ** 40 + i * 1_000_003 - 6 * 1_000_003 for i in range(N)],
    "smallint": [i * 97 - 1_000 for i in range(N)],
    "date": [datetime.date(2024, 2, 20) + datetime.timedelta(days=i)
             for i in range(N)],
    "timestamp": [datetime.datetime(2024, 3, 1, 12, 0, i, 1_000 * i + 7)
                  for i in range(N)],
    "decimal(18,2)": [decimal.Decimal(f"{i * 13 - 150}.{i:02d}")
                      for i in range(N)],
    "string": [f"clé-{i}-✓" for i in range(N)],
}
MISS = {
    "int": 123_456_789, "bigint": -(2 ** 50), "smallint": 32_000,
    "date": datetime.date(1999, 1, 1),
    "timestamp": datetime.datetime(1999, 1, 1),
    "decimal(18,2)": decimal.Decimal("0.01"), "string": "absent",
}


@pytest.mark.parametrize("ktype", list(KEYS))
def test_lookup_routes_every_key_type(spark, tmp_path, ktype):
    """Written keys are found (base path, then merge-on-read fold path),
    a miss is None, and a tombstoned key is None."""
    ddl = f"k {ktype}, v string, ts timestamp"
    rows = [(k, f"v{i}", T0) for i, k in enumerate(KEYS[ktype])]
    df = spark.createDataFrame(rows, ddl)
    t = SnapshotTable.create(spark, str(tmp_path / "t"), MODEL,
                             schema=df.schema, n_buckets=4, write_mode="mor")
    t.merge(df.withColumn("op", F.lit("insert")), mode="force",
            checkpoint_id="boot", batch_id=0)
    for k, v, _ in rows:
        got = t.lookup([k])
        assert got is not None and got["v"] == v, k
    assert t.lookup([MISS[ktype]]) is None
    # a delete lands as a delta layer: lookups now fold base + layer
    dead = KEYS[ktype][5]
    t.merge(spark.createDataFrame(
        [(dead, None, T0 + datetime.timedelta(days=1), "delete")],
        ddl + ", op string"), checkpoint_id="del", batch_id=1)
    assert t._manifest().get("deltas"), "setup: expected a delta layer"
    assert t.lookup([dead]) is None
    for k, v, _ in rows[::3]:
        if k != dead:
            got = t.lookup([k])
            assert got is not None and got["v"] == v, k
