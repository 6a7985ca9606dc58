"""Inspection (metadata) tables: files() / partitions() / refs().

Pure manifest-derived views — the Iceberg metadata-table analogs an
operator of a large table uses to plan maintenance without reading data.
"""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from diffsync_spark.model import ModelSchema
from diffsync_spark.sinks.table import SnapshotTable

MODEL = ModelSchema(
    name="kv", identifiers=("k",), attributes=("v",), version_cols=("ts",)
)
T0 = datetime.datetime(2025, 1, 1)


def _boot(spark, path, write_mode="cow"):
    df = spark.createDataFrame(
        [(i, f"v{i}", T0) for i in range(40)], "k int, v string, ts timestamp"
    )
    t = SnapshotTable.create(spark, path, MODEL, schema=df.schema,
                             n_buckets=4, write_mode=write_mode)
    t.merge(df.withColumn("op", F.lit("insert")), mode="force",
            checkpoint_id="boot", batch_id=0)
    return t


def test_files_inventory_matches_manifest(spark, tmp_path):
    t = _boot(spark, str(tmp_path / "t"))
    man = t._manifest()
    inv = t.files(with_row_counts=True).collect()
    assert {r.path for r in inv} == {
        p for fl in man["files"].values() for p in fl
    }
    assert all(r.kind == "base" and r.delta_commit is None for r in inv)
    assert all(r.size_bytes and r.size_bytes > 0 for r in inv)
    assert sum(r.n_rows for r in inv) == 40
    assert all(r.slot is not None for r in inv)
    # round-5 per-file stats ride along as JSON (numeric key k + ts)
    assert any(r.stats_json and '"k"' in r.stats_json for r in inv)


def test_files_lists_mor_delta_layers(spark, tmp_path):
    t = _boot(spark, str(tmp_path / "t"), write_mode="mor")
    t1 = T0 + datetime.timedelta(hours=1)
    chg = spark.createDataFrame(
        [(1, "v1x", t1, "update")], "k int, v string, ts timestamp, op string"
    )
    t.merge(chg, checkpoint_id="c", batch_id=1)
    v = t.current_version()
    inv = t.files()
    kinds = {r.kind for r in inv.collect()}
    assert kinds == {"base", "delta"}
    delta = [r for r in inv.collect() if r.kind == "delta"]
    assert all(r.delta_commit == v for r in delta)


def test_partitions_accounting(spark, tmp_path):
    t = _boot(spark, str(tmp_path / "t"))
    parts = {r.bucket: r for r in t.partitions().collect()}
    man = t._manifest()
    assert set(parts) == {int(b) for b in man["files"]}
    assert sum(r.n_rows for r in parts.values()) == 40
    assert all(r.n_delta_layers == 0 and r.n_delta_files == 0
               for r in parts.values())
    assert all(r.n_base_files == len(man["files"][str(b)])
               for b, r in parts.items())


def test_partitions_show_pending_deltas(spark, tmp_path):
    t = _boot(spark, str(tmp_path / "t"), write_mode="mor")
    t1 = T0 + datetime.timedelta(hours=1)
    chg = spark.createDataFrame(
        [(1, "v1x", t1, "update"), (2, "v2x", t1, "update")],
        "k int, v string, ts timestamp, op string",
    )
    t.merge(chg, checkpoint_id="c", batch_id=1)
    parts = t.partitions().collect()
    assert any(r.n_delta_layers == 1 for r in parts)
    # MoR appends drop the live-row accounting until compact()
    dirty = [r for r in parts if r.n_delta_layers > 0]
    assert all(r.n_live_rows is None for r in dirty)
    t.compact()
    parts2 = t.partitions().collect()
    assert all(r.n_delta_layers == 0 for r in parts2)
    assert sum(r.n_live_rows for r in parts2) == 40


def test_refs_lists_main_branches_tags(spark, tmp_path):
    t = _boot(spark, str(tmp_path / "t"))
    v1 = t.current_version()
    t.create_tag("boot-tag", v1)
    t.create_branch("audit")
    b = t.branch("audit")
    t1 = T0 + datetime.timedelta(hours=1)
    b.merge(spark.createDataFrame([(1, "v1b", t1, "update")],
                                  "k int, v string, ts timestamp, op string"),
            checkpoint_id="c", batch_id=1)
    refs = {(r.name, r.type): r for r in t.refs().collect()}
    assert refs[("main", "branch")].version == v1
    assert refs[("boot-tag", "tag")].version == v1
    assert refs[("audit", "branch")].version == b.current_version()
    assert refs[("audit", "branch")].snapshot_id is not None
    assert all(r.committed_at_us for r in refs.values())


def test_files_row_count_errors_log_or_propagate(spark, tmp_path,
                                                 monkeypatch, caplog):
    """files(with_row_counts=True): an unreadable footer leaves that
    file's n_rows NULL and is logged once per process at WARNING; any
    other error propagates."""
    import logging

    import pyarrow.parquet as pq
    import pytest

    from diffsync_spark import metrics

    t = _boot(spark, str(tmp_path / "t"))
    monkeypatch.setattr(metrics, "_warned_fallbacks", set())

    def raiser(exc):
        def f(*args, **kwargs):
            raise exc
        return f

    monkeypatch.setattr(pq, "ParquetFile", raiser(OSError("footer gone")))
    with caplog.at_level(logging.WARNING, logger="diffsync_spark.metrics"):
        inv = t.files(with_row_counts=True).collect()
    assert inv and all(r.n_rows is None for r in inv)
    logged = [r for r in caplog.records if "row counts" in r.getMessage()]
    assert len(logged) == 1 and "footer gone" in logged[0].getMessage()
    monkeypatch.setattr(pq, "ParquetFile", raiser(TypeError("a real bug")))
    with pytest.raises(TypeError, match="a real bug"):
        t.files(with_row_counts=True)
