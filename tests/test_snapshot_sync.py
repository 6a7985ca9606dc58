"""Snapshot-mode merge (``SnapshotTable.merge(mode="snapshot")``, the
``Engine.sync_from`` path after a commit that changed most of the table):
the source is joined once against the stored rows and written, instead of
``diff_from`` + ``apply_diff``. The parity cases run both paths on twin
tables and require the same stored state (``read_raw()``: tombstones,
``_seq`` and ``_deleted`` included), the same per-bucket lineage and the
same quarantine. The routing cases check which path ``sync_from`` takes."""

from __future__ import annotations

import collections
import datetime
import os

import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from diffsync_spark.engine import Engine
from diffsync_spark.flags import DiffFlags
from diffsync_spark.model import TRANSCRIPT_MODEL
from diffsync_spark.sinks.table import SnapshotTable

N_BUCKETS = 8
_COUNTS = ("n_create", "n_update", "n_delete", "n_noop", "n_quarantined")


def _twins(spark, tmp_path, tag, boot_df, write_mode="cow",
           n_buckets=N_BUCKETS):
    """Two identically bootstrapped tables: (snapshot path, diff path)."""
    out = []
    for side in ("snap", "diff"):
        t = SnapshotTable.create(
            spark, str(tmp_path / f"{tag}_{side}"), TRANSCRIPT_MODEL,
            schema=boot_df.schema, n_buckets=n_buckets, write_mode=write_mode,
        )
        t.merge(boot_df.withColumn("op", F.lit("insert")), mode="force",
                checkpoint_id="boot", batch_id=0)
        out.append(t)
    return out


def _sync_both(spark, snap, ref, source, flags=DiffFlags(), batch_id=1):
    got = snap.merge(source, checkpoint_id="sync", batch_id=batch_id,
                     mode="snapshot", flags=flags)
    d = Engine(spark, TRANSCRIPT_MODEL, ref).diff_from(source, flags)
    want = ref.apply_diff(d, checkpoint_id="sync", batch_id=batch_id)
    return got, want


def _raw(t):
    return collections.Counter(
        tuple(sorted(r.asDict().items())) for r in t.read_raw().collect())


def _lineage(t):
    return sorted(
        ({k: v for k, v in row.items() if k != "snapshot_id"}
         for row in t._manifest()["lineage"]),
        key=lambda r: r["partition"])


def _quarantine(t):
    q = t.quarantine_df()
    return None if q is None else sorted(
        (tuple(sorted(r.asDict().items())) for r in q.collect()), key=repr)


def _assert_same(got, want, snap, ref):
    assert not got["skipped"] and not want["skipped"]
    for k in _COUNTS:
        assert got[k] == want[k], k
    assert got["touched_buckets"] == want["touched_buckets"]
    assert _raw(snap) == _raw(ref)
    assert _lineage(snap) == _lineage(ref)
    assert _quarantine(snap) == _quarantine(ref)
    assert snap.count_rows() == ref.count_rows() == snap.read().count()


def _frame(spark, pdf, like):
    return spark.createDataFrame(pdf, schema=like.schema)


def _unchanged_keys(source_pdf, target_pdf, n):
    both = source_pdf.merge(target_pdf, on=["conv_id", "turn_idx"],
                            suffixes=("", "_t"))
    same = both[(both.text == both.text_t) & (both.role == both.role_t)]
    return list(same[["conv_id", "turn_idx"]].itertuples(index=False,
                                                         name=None))[:n]


def _changed_keys(source_pdf, target_pdf, n):
    both = source_pdf.merge(target_pdf, on=["conv_id", "turn_idx"],
                            suffixes=("", "_t"))
    diff = both[both.text != both.text_t]
    return list(diff[["conv_id", "turn_idx"]].itertuples(index=False,
                                                         name=None))[:n]


def _at(pdf, key):
    return (pdf.conv_id == key[0]) & (pdf.turn_idx == key[1])


def test_ops_readds_and_ts_only_change_match_diff_path(
        spark, tmp_path, source_pdf, target_pdf, source_df, target_df):
    snap, ref = _twins(spark, tmp_path, "ops", target_df)
    # tombstone two keys the source still has: the sync re-adds them
    readd = _unchanged_keys(source_pdf, target_pdf, 4)[:2]
    victims = target_df.join(
        spark.createDataFrame(readd, "conv_id string, turn_idx int"),
        ["conv_id", "turn_idx"], "semi").withColumn("op", F.lit("delete"))
    for t in (snap, ref):
        t.merge(victims, mode="force", checkpoint_id="prep", batch_id=1)
    # a ts-only change is no change: only attributes are compared
    ts_only = _unchanged_keys(source_pdf, target_pdf, 4)[3]
    src = source_pdf.copy()
    src.loc[_at(src, ts_only), "ts"] += pd.Timedelta(hours=1)
    got, want = _sync_both(spark, snap, ref, _frame(spark, src, source_df))
    _assert_same(got, want, snap, ref)
    assert got["n_create"] > len(readd) and got["n_update"] > 0
    assert got["n_delete"] > 0
    for key in readd:
        assert snap.lookup(list(key)) is not None
    boot = target_df.filter((F.col("conv_id") == ts_only[0])
                            & (F.col("turn_idx") == ts_only[1])).first()
    assert snap.lookup(list(ts_only))["ts"] == boot.ts
    # the diff counts the sync reports equal a fresh diff's summary
    assert got["diff"]["n_total"] == sum(
        got["diff"][k] for k in ("n_create", "n_update", "n_delete",
                                 "n_noop"))


@pytest.mark.parametrize("variant", ["extra_column", "missing_column"])
def test_source_schema_variants_match_diff_path(spark, tmp_path, source_df,
                                                target_df, variant):
    snap, ref = _twins(spark, tmp_path, variant, target_df)
    source = (source_df.withColumn("lang", F.lit("en"))
              if variant == "extra_column" else source_df.drop("tool"))
    got, want = _sync_both(spark, snap, ref, source)
    _assert_same(got, want, snap, ref)
    assert snap.schema() == ref.schema()
    if variant == "extra_column":
        assert "lang" in snap.schema().fieldNames()


@pytest.mark.parametrize("skip_src,skip_dst",
                         [(True, False), (False, True), (True, True)])
def test_skip_flags_match_diff_path(spark, tmp_path, source_df, target_df,
                                    skip_src, skip_dst):
    snap, ref = _twins(spark, tmp_path, f"skip{skip_src:d}{skip_dst:d}",
                       target_df)
    flags = DiffFlags(skip_unmatched_src=skip_src, skip_unmatched_dst=skip_dst)
    got, want = _sync_both(spark, snap, ref, source_df, flags)
    _assert_same(got, want, snap, ref)
    if skip_src:
        assert got["n_create"] == 0
    if skip_dst:
        assert got["n_delete"] == 0


def test_mor_synced_buckets_lose_layers_others_keep_them(spark, tmp_path,
                                                         target_df):
    snap, ref = _twins(spark, tmp_path, "mor", target_df, write_mode="mor")
    by_bucket = {}
    for r in snap.read().select(
            "conv_id", F.pmod(F.xxhash64("conv_id"), F.lit(N_BUCKETS))
            .alias("b")).distinct().collect():
        by_bucket.setdefault(r.b, r.conv_id)
    conv_x, conv_y = list(by_bucket.values())[:2]
    layer = (target_df.filter(F.col("conv_id").isin(conv_x, conv_y))
             .withColumn("text", F.concat("text", F.lit("-layer")))
             .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 DAY"))
             .withColumn("op", F.lit("update")))
    for t in (snap, ref):
        t.merge(layer, checkpoint_id="cdc", batch_id=1)
    layered = snap._delta_buckets(snap._manifest())
    assert len(layered) == 2
    cur = snap.read()
    source = spark.createDataFrame(
        cur.withColumn("text", F.when(F.col("conv_id") == conv_x,
                                      F.concat("text", F.lit("-synced")))
                       .otherwise(F.col("text"))).collect(), cur.schema)
    got, want = _sync_both(spark, snap, ref, source)
    _assert_same(got, want, snap, ref)
    bx = [b for b, c in by_bucket.items() if c == conv_x]
    assert got["touched_buckets"] == bx
    left = snap._delta_buckets(snap._manifest())
    assert left == ref._delta_buckets(ref._manifest()) == layered - set(bx)


def test_quarantine_parity(spark, tmp_path, source_pdf, target_pdf,
                           source_df, target_df):
    """A null key is quarantined; a null ts is quarantined on a row the
    sync would change and ignored on a row it would leave alone."""
    snap, ref = _twins(spark, tmp_path, "quar", target_df)
    src = source_pdf.copy()
    changed = _changed_keys(source_pdf, target_pdf, 1)[0]
    unchanged = _unchanged_keys(source_pdf, target_pdf, 1)[0]
    src.loc[_at(src, changed), "ts"] = pd.NaT
    src.loc[_at(src, unchanged), "ts"] = pd.NaT
    src = pd.concat([src, pd.DataFrame([
        {"conv_id": None, "turn_idx": 0, "role": "user", "text": "no key",
         "tool": None, "ts": datetime.datetime(2030, 1, 1)},
        {"conv_id": None, "turn_idx": 0, "role": "user", "text": "no key 2",
         "tool": None, "ts": datetime.datetime(2030, 1, 2)},
    ])], ignore_index=True)
    got, want = _sync_both(spark, snap, ref, _frame(spark, src, source_df))
    _assert_same(got, want, snap, ref)
    assert got["n_quarantined"] == 3
    reasons = collections.Counter(
        r._status_reason for r in snap.quarantine_df().collect())
    assert reasons == {"null identifier": 2, "null ts on upsert": 1}
    # the stored row of the quarantined change is kept as it was
    kept = snap.lookup(list(changed))
    assert kept["text"] == target_pdf.loc[_at(target_pdf, changed),
                                          "text"].iloc[0]


def test_duplicate_source_keys_resolve_by_lww(spark, tmp_path, source_pdf,
                                              source_df, target_df):
    snap, ref = _twins(spark, tmp_path, "dups", target_df)
    t0 = datetime.datetime(2031, 1, 1)
    live = target_df.first()
    dups = pd.DataFrame([
        ("conv_new", 0, "user", "older", None, t0),
        ("conv_new", 0, "user", "newer", None, t0 + datetime.timedelta(1)),
        (live.conv_id, live.turn_idx, "user", "newer", None,
         t0 + datetime.timedelta(1)),
        (live.conv_id, live.turn_idx, "user", "older", None, t0),
    ], columns=source_pdf.columns)
    src = source_pdf[~_at(source_pdf, (live.conv_id, live.turn_idx))]
    src = pd.concat([src, dups], ignore_index=True)
    got, want = _sync_both(spark, snap, ref, _frame(spark, src, source_df))
    _assert_same(got, want, snap, ref)
    assert snap.lookup(["conv_new", 0])["text"] == "newer"
    assert snap.lookup([live.conv_id, live.turn_idx])["text"] == "newer"


def test_null_ts_duplicate_never_displaces_a_valid_row(spark, tmp_path,
                                                       source_df, target_df):
    """Duplicates are deduplicated valid-first: a null-ts copy of a key
    (invalid as an upsert) loses to the valid copy, which is applied as on
    the diff path. Unlike the diff path, the losing copy is dropped like
    any LWW loser instead of quarantined."""
    snap, ref = _twins(spark, tmp_path, "dupnull", target_df)
    live = target_df.first()
    extra = spark.createDataFrame(
        [(live.conv_id, live.turn_idx, "user", "null ts", None, None)],
        source_df.schema)
    source = target_df.filter(
        (F.col("conv_id") != live.conv_id)
        | (F.col("turn_idx") != live.turn_idx)
    ).unionByName(spark.createDataFrame(
        [(live.conv_id, live.turn_idx, "user", "valid", None, live.ts)],
        source_df.schema)).unionByName(extra)
    got, want = _sync_both(spark, snap, ref, source)
    assert got["n_update"] == want["n_update"] == 1
    assert (got["n_quarantined"], want["n_quarantined"]) == (0, 1)
    assert _raw(snap) == _raw(ref)
    assert snap.lookup([live.conv_id, live.turn_idx])["text"] == "valid"


def test_zero_change_sync_commits_like_diff_path(spark, tmp_path, source_df,
                                                 target_df):
    snap, ref = _twins(spark, tmp_path, "zero", target_df)
    _sync_both(spark, snap, ref, source_df, batch_id=1)
    before = [t._manifest() for t in (snap, ref)]
    got, want = _sync_both(spark, snap, ref, source_df, batch_id=2)
    _assert_same(got, want, snap, ref)
    assert got["n_create"] == got["n_update"] == got["n_delete"] == 0
    assert got["touched_buckets"] == [] and got["n_input"] == want["n_input"]
    for t, old in zip((snap, ref), before):
        new = t._manifest()
        assert new["version"] == old["version"] + 1
        assert new["checkpoints"]["sync"] == 2
        assert new["lineage"] == [] and new["quarantine_dir"] is None
        for k in ("files", "bucket_rows", "bucket_splits", "_file_stats",
                  "schema"):
            assert new[k] == old[k], k
        assert new.get("bucket_live_rows") == old.get("bucket_live_rows")
    # the snapshot path's attempt dir held only unchanged buckets: gone
    sid = snap._manifest()["snapshot_id"][:12]
    data = os.path.join(snap.path, "data")
    assert not [d for d in os.listdir(data) if d.endswith(sid)]


def test_unchanged_buckets_keep_files_and_no_orphans(spark, tmp_path,
                                                     target_df):
    snap, ref = _twins(spark, tmp_path, "refs", target_df)
    conv = target_df.first().conv_id
    source = target_df.withColumn(
        "text", F.when(F.col("conv_id") == conv, F.lit("changed"))
        .otherwise(F.col("text")))
    old = snap._manifest()
    got, want = _sync_both(spark, snap, ref, source)
    _assert_same(got, want, snap, ref)
    new = snap._manifest()
    assert len(got["touched_buckets"]) == 1
    for b, fl in old["files"].items():
        if int(b) not in got["touched_buckets"]:
            assert new["files"][b] == fl
    referenced = {os.path.realpath(p) for fl in new["files"].values()
                  for p in fl}
    attempt = os.path.join(
        snap.path, "data", f"v{new['version']}-{new['snapshot_id'][:12]}")
    written = {os.path.realpath(os.path.join(root, f))
               for root, _, files in os.walk(attempt)
               for f in files if f.endswith(".parquet")}
    assert written and written <= referenced
    assert snap.remove_orphans()["removed_dirs"] == []


def test_written_parquet_schema_equals_force_merge(spark, tmp_path, source_df,
                                                   target_df):
    snap, ref = _twins(spark, tmp_path, "schema", target_df)
    got, want = _sync_both(spark, snap, ref, source_df)
    b = str(got["touched_buckets"][0])
    a = pq.read_schema(snap._manifest()["files"][b][0])
    w = pq.read_schema(ref._manifest()["files"][b][0])
    assert a.equals(w, check_metadata=True), (a, w)


def test_expectations_quarantine_like_force_merge(spark, tmp_path, source_pdf,
                                                  target_pdf, source_df,
                                                  target_df):
    """A snapshot merge honours ``expectations`` on the rows it would
    apply, with the force merge's reasons and counts; an unchanged row is
    never checked."""
    from diffsync_spark.sinks.table import diff_to_batch

    snap, ref = _twins(spark, tmp_path, "exp", target_df)
    src = source_pdf.copy()
    bad_role, bad_ts = _changed_keys(source_pdf, target_pdf, 2)
    unchanged = _unchanged_keys(source_pdf, target_pdf, 1)[0]
    old = pd.Timestamp("1990-01-01")
    src.loc[_at(src, bad_role), "role"] = "robot"
    src.loc[_at(src, bad_ts), "ts"] = old
    src.loc[_at(src, unchanged), "ts"] = old  # ts is not compared
    exp = {"known_role": "role IN ('user', 'assistant', 'tool')",
           "recent": "ts >= TIMESTAMP '2000-01-01'"}
    source = _frame(spark, src, source_df)
    d = Engine(spark, TRANSCRIPT_MODEL, ref).diff_from(source)
    got = snap.merge(source, checkpoint_id="sync", batch_id=1,
                     mode="snapshot", expectations=exp)
    want = ref.merge(diff_to_batch(d, TRANSCRIPT_MODEL), checkpoint_id="sync",
                     batch_id=1, mode="force", expectations=exp)
    _assert_same(got, want, snap, ref)
    assert got["n_expectation_failed"] == want["n_expectation_failed"] == 2
    assert sorted(r._status_reason for r in snap.quarantine_df().collect()) \
        == ["expectation failed: known_role", "expectation failed: recent"]


def test_seq_column_matches_diff_path(spark, tmp_path, source_pdf, target_pdf,
                                      source_df, target_df):
    """A source ``seq`` column lands in ``_seq`` as on the diff path (an
    applied row carries it, a delete does not), so a later LWW merge that
    ties on ``ts`` resolves the same whichever path synced the row."""
    snap, ref = _twins(spark, tmp_path, "seq", target_df)
    src = source_pdf.copy()
    src.loc[_at(src, _changed_keys(source_pdf, target_pdf, 1)[0]),
            "ts"] = pd.NaT
    source = _frame(spark, src, source_df).withColumn(
        "seq", F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(1000)))
    got, want = _sync_both(spark, snap, ref, source)
    _assert_same(got, want, snap, ref)
    assert got["n_quarantined"] == 1 and got["n_delete"] > 0
    seqs = {r._seq for r in snap.read_raw().select("_seq").collect()}
    assert len(seqs) > 2  # the source's values, not only -1 / NULL


def test_wide_table_counts_ride_the_write(spark, tmp_path, source_df,
                                          target_df):
    """More buckets than one observation's metric budget holds: the
    per-bucket counts are split over several observations of the same
    write, so lineage and row counts still match the diff path."""
    snap, ref = _twins(spark, tmp_path, "wide", target_df, n_buckets=128)
    got, want = _sync_both(spark, snap, ref, source_df)
    _assert_same(got, want, snap, ref)
    assert len(got["touched_buckets"]) > 1
    assert snap._manifest()["bucket_rows"] == ref._manifest()["bucket_rows"]


def _big_source(spark, n=120_000, n_convs=200):
    """More rows than the writer's 25k-row split target per bucket."""
    return spark.range(n).select(
        F.concat(F.lit("c"), (F.col("id") % n_convs).cast("string"))
        .alias("conv_id"),
        (F.col("id") / n_convs).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.concat(F.lit("text-"), F.col("id").cast("string")).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.timestamp_micros(F.col("id")).alias("ts"),
    )


def test_sync_from_picks_the_path_from_the_last_commit(spark, tmp_path):
    """``sync_from`` takes the snapshot merge only after a commit that
    changed at least half of the rows. The first sync into an empty table
    is the force merge of the diff, whose slot plan counts the batch: a
    batch larger than the split target fans out over several slots."""
    src = _big_source(spark)
    t = SnapshotTable.create(spark, str(tmp_path / "route"), TRANSCRIPT_MODEL,
                             schema=src.schema, n_buckets=4)
    modes = []
    merge = t.merge

    def spy(*a, **k):
        modes.append(k.get("mode", "lww"))
        return merge(*a, **k)

    t.merge = spy
    e = Engine(spark, TRANSCRIPT_MODEL, t)
    assert t.last_change_share() is None
    res = e.sync_from(src, batch_id=1)
    assert modes == ["force"] and res["n_create"] == 120_000
    assert any(int(s) > 1 for s in t._manifest()["bucket_splits"].values())
    assert t.last_change_share() == 1.0
    # dense: every bucket changed last time -> one snapshot merge
    dense = src.withColumn("text", F.concat("text", F.lit("-d")))
    res = e.sync_from(dense, batch_id=2)
    assert modes[1:] == ["snapshot"] and res["n_update"] == 120_000
    # one changed row: the last commit was dense, so still a snapshot merge
    one = dense.withColumn("text", F.when(
        (F.col("conv_id") == "c0") & (F.col("turn_idx") == 0),
        F.lit("x")).otherwise(F.col("text")))
    res = e.sync_from(one, batch_id=3)
    assert modes[2:] == ["snapshot"] and res["n_update"] == 1
    assert len(res["touched_buckets"]) == 1
    assert t.last_change_share() < 0.5
    # sparse last commit -> diff + force apply, which writes nothing here
    res = e.sync_from(one, batch_id=4)
    assert modes[3:] == ["force"] and res["touched_buckets"] == []
    assert t.last_change_share() == 0.0
    assert e.converged(one)
