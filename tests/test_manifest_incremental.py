"""Incremental commit metadata: snapshot manifests reference per-bucket file
lists by bm-file ref, so a commit writes O(touched buckets) metadata instead
of re-serializing every live file list (the Iceberg manifest-list reuse
shape). The hydrate/dehydrate seam must be invisible above _manifest()."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from diffsync_spark.fixtures import gen_source
from diffsync_spark.model import TRANSCRIPT_MODEL
from diffsync_spark.sinks.table import SnapshotTable


def _table(spark, tmp_path, n_convs=40):
    df = spark.createDataFrame(gen_source(n_convs=n_convs, seed=7))
    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_MODEL,
        schema=df.schema, n_buckets=4,
    )
    t.merge(df.withColumn("op", F.lit("insert")), mode="force",
            checkpoint_id="boot", batch_id=0)
    return t, df


def _upsert(df, i):
    return (df.limit(3).withColumn("op", F.lit("upsert"))
            .withColumn("text", F.concat(F.col("text"), F.lit(f" r{i}")))
            .withColumn("ts", F.expr(f"ts + interval {i} day")))


def _raw_manifest(t, v):
    return json.loads(
        t.io.read_text(os.path.join(t._manifest_dir, f"v{v}.json")))


def test_serialized_manifest_holds_refs_not_file_lists(spark, tmp_path):
    t, df = _table(spark, tmp_path)
    t.merge(_upsert(df, 1), checkpoint_id="c", batch_id=1)
    raw = _raw_manifest(t, t.current_version())
    assert raw["files"], "table has data"
    assert all(isinstance(v, str) and "#" in v for v in raw["files"].values())
    # hydrated view is the legacy shape
    man = t._manifest()
    assert all(isinstance(fl, list) and fl for fl in man["files"].values())


def test_untouched_buckets_reuse_parent_refs(spark, tmp_path):
    """A narrow merge re-serializes ONLY the buckets it rewrote; every other
    bucket's ref is carried forward verbatim — commit metadata is
    O(touched), not O(table)."""
    t, df = _table(spark, tmp_path)
    v1 = t.current_version()
    raw1 = _raw_manifest(t, v1)
    t.merge(_upsert(df, 1), checkpoint_id="c", batch_id=1)
    raw2 = _raw_manifest(t, t.current_version())
    sid2 = raw2["snapshot_id"][:12]
    touched = {b for b, r in raw2["files"].items() if sid2 in r}
    carried = {b for b, r in raw2["files"].items() if b not in touched}
    assert touched and carried, "a 3-row merge must not rewrite all buckets"
    for b in carried:
        assert raw2["files"][b] == raw1["files"][b]
    # and exactly ONE new bm file appeared for the whole commit
    bm = t._bm_dir
    names = {r.split("#", 1)[0] for r in raw2["files"].values()}
    assert sum(1 for n in names if f"v{raw2['version']}-" in n) == 1
    assert all(t.io.exists(os.path.join(bm, n)) for n in names)


def test_metadata_only_commit_writes_no_bm_file(spark, tmp_path):
    from pyspark.sql import types as T

    t, df = _table(spark, tmp_path)
    t.merge(_upsert(df, 1), checkpoint_id="c", batch_id=1)
    before = set(t.io.list_files(t._bm_dir))
    t.add_column("extra", T.StringType())
    t.create_tag("pin")
    assert set(t.io.list_files(t._bm_dir)) == before
    raw = _raw_manifest(t, t.current_version())
    assert all(isinstance(v, str) for v in raw["files"].values())


def test_commit_metadata_bytes_flat_in_table_size(spark, tmp_path):
    """The actual scale claim: at fixed batch size, per-commit metadata
    (manifest + new bm bytes) must NOT grow with the number of prior
    commits / total live files."""
    t, df = _table(spark, tmp_path)
    sizes = []
    for i in range(1, 9):
        t.merge(_upsert(df, i), checkpoint_id="c", batch_id=i)
        raw = _raw_manifest(t, t.current_version())
        n = len(json.dumps(raw))
        for fname in {r.split("#", 1)[0] for r in raw["files"].values()
                      if f"v{raw['version']}-" in r}:
            n += len(t.io.read_text(os.path.join(t._bm_dir, fname)))
        sizes.append(n)
    # flat within noise (lineage strings etc.), never trending upward:
    # allow 25% over the first steady-state commit
    assert max(sizes[2:]) <= sizes[1] * 1.25, sizes


def test_expire_gc_keeps_referenced_bm_files(spark, tmp_path):
    t, df = _table(spark, tmp_path)
    for i in range(1, 7):
        t.merge(_upsert(df, i), checkpoint_id="c", batch_id=i)
    cur = t.current_version()
    kept_refs = {
        r.split("#", 1)[0]
        for v in (cur - 1, cur)
        for r in _raw_manifest(t, v)["files"].values()
    }
    t.expire_snapshots(keep_last=2)
    left = set(t.io.list_files(t._bm_dir))
    assert kept_refs <= left
    # anything not referenced by a kept manifest is gone
    assert left == kept_refs
    # the table still reads (no dangling ref)
    assert SnapshotTable.load(
        spark, str(tmp_path / "t"), TRANSCRIPT_MODEL).read().count() > 0


def test_mor_layers_ref_and_drop(spark, tmp_path):
    """Merge-on-read delta layers serialize once at their own commit and are
    carried as refs; a force rewrite that clears a layer's touched buckets
    re-serializes nothing — the ref survives with a drop list."""
    df0 = gen_source(n_convs=40, seed=7)
    df = spark.createDataFrame(df0)
    t = SnapshotTable.create(
        spark, str(tmp_path / "m"), TRANSCRIPT_MODEL,
        schema=df.schema, n_buckets=4, write_mode="mor",
    )
    t.merge(df.withColumn("op", F.lit("insert")), mode="force",
            checkpoint_id="boot", batch_id=0)
    for i in range(1, 4):
        t.merge(_upsert(df, i), checkpoint_id="c", batch_id=i)
    raw = _raw_manifest(t, t.current_version())
    assert raw.get("deltas"), "MoR merges must append layers"
    assert all(isinstance(layer["files"], str) for layer in raw["deltas"])
    # fold everything back (compact) and confirm reads stay correct
    t.compact()
    got = t.read().filter("text like '% r3'").count()
    assert got == 3
    raw2 = _raw_manifest(t, t.current_version())
    assert not raw2.get("deltas")
