"""Merge-on-read write mode: delta-layer appends must be observationally
identical to copy-on-write — same final state, same lookups, same incremental
changes — while never rewriting base files until compaction.

The reference has no persistence tiering (its store is a dict,
``/root/reference/diffsync/store/local.py:20``); this mode exists for the
100 TB CDC generalization, where copy-on-write's bucket-rewrite amplification
is the dominant write cost. Every test here checks MoR against the CoW
implementation (itself oracle-gated in test_sink.py), so the contract under
test is exact equivalence."""

from __future__ import annotations

import datetime

import pandas as pd
import pytest
from pyspark.sql import functions as F

from diffsync_spark import diff
from diffsync_spark.errors import DiffSyncSparkError
from diffsync_spark.model import ModelSchema, TRANSCRIPT_MODEL
from diffsync_spark.operators.diff import has_diffs
from diffsync_spark.sinks.table import SnapshotTable
from diffsync_spark.streaming.replay import replay_batches

IDS = ["conv_id", "turn_idx"]


def _bootstrap(spark, path, target_df, write_mode="mor", n_buckets=8):
    table = SnapshotTable.create(
        spark, str(path), TRANSCRIPT_MODEL,
        schema=target_df.schema, n_buckets=n_buckets, write_mode=write_mode,
    )
    table.merge(target_df.withColumn("op", F.lit("insert")), mode="force",
                checkpoint_id="bootstrap", batch_id=0)
    return table


def _state(table, version=None):
    return (
        table.read(version=version)
        .toPandas()
        .sort_values(IDS)
        .reset_index(drop=True)
    )


@pytest.fixture()
def pair(spark, tmp_path, target_df, changelog_df):
    """CoW and MoR twins after an identical 5-batch changelog replay."""
    cow = _bootstrap(spark, tmp_path / "cow", target_df, write_mode="cow")
    mor = _bootstrap(spark, tmp_path / "mor", target_df, write_mode="mor")
    replay_batches(cow, changelog_df, n_batches=5, checkpoint_id="r")
    replay_batches(mor, changelog_df, n_batches=5, checkpoint_id="r")
    return cow, mor


def test_create_rejects_unknown_mode(spark, tmp_path, target_df):
    with pytest.raises(DiffSyncSparkError, match="write_mode"):
        SnapshotTable.create(
            spark, str(tmp_path / "bad"), TRANSCRIPT_MODEL,
            schema=target_df.schema, write_mode="merge-on-read",
        )


def test_mor_replay_matches_cow(pair):
    cow, mor = pair
    pd.testing.assert_frame_equal(_state(cow), _state(mor))
    # the LWW merges appended layers, never rewrote the bootstrap base
    man = mor._manifest()
    assert man.get("deltas"), "expected delta layers after LWW merges"
    boot = mor._manifest(2)  # v1 = create, v2 = bootstrap
    assert man["files"] == boot["files"], "base files must be untouched"
    # lineage records honest append counts, not fabricated CRUD splits
    lin = mor.lineage_df().filter(F.col("checkpoint_id") == "r")
    assert lin.agg(F.sum("n_append")).first()[0] > 0
    assert lin.agg(F.sum("n_create") + F.sum("n_update")).first()[0] == 0


def test_mor_time_travel_folds_at_version(spark, tmp_path, target_df,
                                          changelog_df):
    cow = _bootstrap(spark, tmp_path / "c", target_df, write_mode="cow")
    mor = _bootstrap(spark, tmp_path / "m", target_df, write_mode="mor")
    replay_batches(cow, changelog_df, n_batches=3, checkpoint_id="r")
    replay_batches(mor, changelog_df, n_batches=3, checkpoint_id="r")
    # versions align: create=1, bootstrap=2, then one commit per batch
    for v in (2, 3, 4):
        pd.testing.assert_frame_equal(
            _state(cow, version=v), _state(mor, version=v)
        )


def test_mor_exactly_once(pair, changelog_df):
    _, mor = pair
    v = mor.current_version()
    r = mor.merge(changelog_df, checkpoint_id="r", batch_id=4)
    assert r["skipped"]
    assert mor.current_version() == v


def test_mor_batching_invariance(spark, tmp_path, target_df, changelog_df):
    one = _bootstrap(spark, tmp_path / "one", target_df)
    many = _bootstrap(spark, tmp_path / "many", target_df)
    replay_batches(one, changelog_df, n_batches=1, checkpoint_id="x")
    replay_batches(many, changelog_df, n_batches=11, checkpoint_id="x")
    pd.testing.assert_frame_equal(_state(one), _state(many))


def test_mor_lookup_and_lookup_many(pair):
    cow, mor = pair
    want = _state(cow)
    # a live key overwritten by the changelog + one tombstoned key
    live = want.iloc[0]
    got = mor.lookup((live.conv_id, int(live.turn_idx)))
    assert got is not None and got["text"] == live.text
    deleted = set(
        map(tuple, cow.read_raw().filter("_deleted").select(*IDS).collect())
    ) - set(map(tuple, want[IDS].itertuples(index=False)))
    if deleted:
        dk = next(iter(deleted))
        assert mor.lookup(dk) is None
    keys = cow.spark.createDataFrame(
        want[IDS].head(20), schema="conv_id string, turn_idx int"
    )
    got_many = (
        mor.lookup_many(keys).toPandas().sort_values(IDS).reset_index(drop=True)
    )
    want_many = (
        cow.lookup_many(keys).toPandas().sort_values(IDS).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got_many, want_many)


def test_mor_changes_match_cow(pair):
    cow, mor = pair
    for from_v in (2, 4):
        a = (
            cow.changes(from_v).select(*IDS, "op")
            .toPandas().sort_values(IDS).reset_index(drop=True)
        )
        b = (
            mor.changes(from_v).select(*IDS, "op")
            .toPandas().sort_values(IDS).reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(a, b)


def test_mor_compact_folds_layers(pair):
    cow, mor = pair
    before = _state(mor)
    assert mor._manifest().get("deltas")
    res = mor.compact()
    assert not res["skipped"]
    man = mor._manifest()
    assert not man.get("deltas"), "compaction must fold every layer"
    pd.testing.assert_frame_equal(_state(mor), before)
    # metadata-only count is restored by the fold's observed live counts
    assert man.get("bucket_live_rows") is not None
    assert mor.count_rows() == len(before)
    # and lookups keep working against the folded base
    row = before.iloc[3]
    assert mor.lookup((row.conv_id, int(row.turn_idx)))["text"] == row.text


def test_mor_partial_compact(pair):
    """Folding a bucket subset leaves other buckets' layers intact and
    preserves the logical state exactly."""
    _, mor = pair
    before = _state(mor)
    layered = sorted(mor._delta_buckets(mor._manifest()))
    assert len(layered) >= 2
    res = mor.compact(buckets=layered[:1])
    assert res["compacted_buckets"] == layered[:1]
    man = mor._manifest()
    remaining = mor._delta_buckets(man)
    assert layered[0] not in remaining
    assert set(layered[1:]) <= remaining
    # mixed folded+layered reads still resolve correctly
    pd.testing.assert_frame_equal(_state(mor), before)
    # live counts stay unknown while any layer remains (all-or-nothing)
    assert man.get("bucket_live_rows") is None


def test_mor_tombstone_survives_compaction(spark, tmp_path, target_df):
    """LWW safety across the fold: a compacted tombstone must still beat a
    late-arriving OLDER update — folding may never drop delete markers."""
    mor = _bootstrap(spark, tmp_path / "t", target_df)
    first = target_df.orderBy(*IDS).first()
    key = (first.conv_id, first.turn_idx)
    events = spark.createDataFrame(
        [(key[0], key[1], "delete", datetime.datetime(2031, 1, 1), 100)],
        "conv_id string, turn_idx int, op string, ts timestamp, seq long",
    )
    mor.merge(events, checkpoint_id="d", batch_id=1)
    assert mor.lookup(key) is None
    mor.compact()
    late = spark.createDataFrame(
        [(key[0], key[1], "update", "necromancy", datetime.datetime(2030, 1, 1),
          101)],
        "conv_id string, turn_idx int, op string, text string, ts timestamp, "
        "seq long",
    )
    mor.merge(late, checkpoint_id="d", batch_id=2)
    assert mor.lookup(key) is None, "older update resurrected a deleted key"


def test_mor_null_ts_delete_invariance(spark, tmp_path, target_df):
    """The cross-batch null-ts-delete-is-newest rule holds through the
    read-time fold (desc_nulls_first in _fold)."""
    first = target_df.orderBy(*IDS).first()
    key = (first.conv_id, first.turn_idx)
    mor = _bootstrap(spark, tmp_path / "n", target_df)
    mor.merge(
        spark.createDataFrame(
            [(key[0], key[1], "delete", None, 10)],
            "conv_id string, turn_idx int, op string, ts timestamp, seq long",
        ),
        checkpoint_id="x", batch_id=1,
    )
    mor.merge(
        spark.createDataFrame(
            [(key[0], key[1], "update", "late", datetime.datetime(2035, 1, 1),
              11)],
            "conv_id string, turn_idx int, op string, text string, "
            "ts timestamp, seq long",
        ),
        checkpoint_id="x", batch_id=2,
    )
    assert mor.lookup(key) is None


def test_mor_schema_evolution(spark, tmp_path, target_df, changelog_df):
    """An added column rides a delta layer; the fold reads old base files
    as NULL for it — same result as the CoW evolution path."""
    cow = _bootstrap(spark, tmp_path / "c", target_df, write_mode="cow")
    mor = _bootstrap(spark, tmp_path / "m", target_df, write_mode="mor")
    evolved = changelog_df.withColumn(
        "review_score",
        F.when(F.col("op") != "delete", F.length("text").cast("long")),
    )
    for t in (cow, mor):
        t.merge(evolved, checkpoint_id="e", batch_id=1)
    assert "review_score" in [f.name for f in mor.schema().fields]
    pd.testing.assert_frame_equal(_state(cow), _state(mor))
    got = _state(mor)
    assert got["review_score"].notna().any()
    assert got["review_score"].isna().any()
    # the fold also reads evolved schema after compaction
    mor.compact()
    pd.testing.assert_frame_equal(_state(mor), got)


def test_mor_force_apply_clears_layers(spark, tmp_path, target_df, source_df,
                                       changelog_df):
    """apply_diff (force mode) on a MoR table rewrites the touched buckets
    copy-on-write and clears their layers — the diff was computed against
    the folded state, so it is authoritative."""
    mor = _bootstrap(spark, tmp_path / "m", target_df)
    replay_batches(mor, changelog_df, n_batches=3, checkpoint_id="r")
    assert mor._manifest().get("deltas")
    d = diff(source_df, mor.read(), TRANSCRIPT_MODEL)
    mor.apply_diff(d, batch_id=99)
    assert not has_diffs(diff(source_df, mor.read(), TRANSCRIPT_MODEL))
    # every bucket the force merge touched dropped its layers; with a full
    # diff that is all of them
    assert not mor._manifest().get("deltas")


def test_mor_gc_and_expire(pair):
    """Orphan GC never deletes live delta dirs; snapshot expiration keeps
    every file the retained (layered) manifests reference."""
    _, mor = pair
    before = _state(mor)
    removed = mor.remove_orphans(min_versions_old=0)
    assert removed["removed_dirs"] == []
    pd.testing.assert_frame_equal(_state(mor), before)
    res = mor.expire_snapshots(keep_last=2)
    assert res["expired_versions"]
    pd.testing.assert_frame_equal(_state(mor), before)
    row = before.iloc[0]
    assert mor.lookup((row.conv_id, int(row.turn_idx))) is not None


def test_mor_racing_writers(spark, tmp_path, target_df):
    """Two MoR writers race one commit: the loser rebases (its layer content
    is snapshot-independent) and both layers land exactly once."""
    from diffsync_spark.sinks.fsio import RacingCommitIO

    def _batch(conv):
        return spark.createDataFrame(
            [(conv, i, "insert", f"{conv}-{i}",
              datetime.datetime(2032, 1, 1 + i), 1000 + i) for i in range(3)],
            "conv_id string, turn_idx int, op string, text string, "
            "ts timestamp, seq long",
        )

    table = _bootstrap(spark, tmp_path / "race", target_df)
    path = table.path
    writer_b = SnapshotTable.load(spark, path, TRANSCRIPT_MODEL)
    results_b = []

    def interloper():
        results_b.append(
            writer_b.merge(_batch("race_B"), checkpoint_id="wb", batch_id=1)
        )

    writer_a = SnapshotTable.load(
        spark, path, TRANSCRIPT_MODEL, io=RacingCommitIO(interloper, races=1)
    )
    res_a = writer_a.merge(_batch("race_A"), checkpoint_id="wa", batch_id=1)
    # the loser resolved the race exactly once: metadata-only when the two
    # convs hash to disjoint buckets (a layer's content is snapshot-
    # independent), a full recompute when they collide
    assert res_a["commit_retries"] + res_a["metadata_rebases"] == 1
    assert len(results_b) == 1 and not results_b[0]["skipped"]
    state = table.read()
    assert state.filter(F.col("conv_id") == "race_A").count() == 3
    assert state.filter(F.col("conv_id") == "race_B").count() == 3
    # two distinct layers, one per writer, with distinct commit numbers
    layers = table._manifest()["deltas"]
    assert len(layers) == 2
    assert layers[0]["commit"] != layers[1]["commit"]


def test_maintain_folds_only_over_layered_buckets(spark, tmp_path, target_df,
                                                  changelog_df):
    """maintain(max_delta_layers=N) folds exactly the buckets that reached
    N outstanding layers; cooler buckets keep theirs (never rewritten)."""
    mor = _bootstrap(spark, tmp_path / "m", target_df)
    # 4 batches → up to 4 layers on hot buckets
    replay_batches(mor, changelog_df, n_batches=4, checkpoint_id="r")
    man = mor._manifest()
    layer_count: dict[int, int] = {}
    for layer in man["deltas"]:
        for b in layer["files"]:
            layer_count[int(b)] = layer_count.get(int(b), 0) + 1
    n_max = max(layer_count.values())
    over = sorted(b for b, n in layer_count.items() if n >= n_max)
    under = sorted(b for b, n in layer_count.items() if n < n_max)
    before = _state(mor)
    res = mor.maintain(max_delta_layers=n_max)
    assert sorted(res["compacted_buckets"]) == over
    remaining = mor._delta_buckets(mor._manifest())
    assert not (set(over) & remaining)
    assert set(under) <= remaining
    pd.testing.assert_frame_equal(_state(mor), before)
    # below-threshold call is a commit-free no-op
    v = mor.current_version()
    assert mor.maintain(max_delta_layers=99)["skipped"]
    assert mor.current_version() == v


def test_stream_replay_mor_with_inline_maintenance(spark, tmp_path,
                                                   target_pdf, target_df,
                                                   changelog_pdf):
    """The north-star path on a MoR sink: stream the changelog dir in
    micro-batches with maintain_every bounding the layer count; final
    state must equal the CoW stream of the same feed."""
    import os

    from diffsync_spark.streaming.replay import stream_replay

    log_dir = str(tmp_path / "log")
    os.makedirs(log_dir, exist_ok=True)
    span = (len(changelog_pdf) + 5) // 6
    for i in range(6):
        part = changelog_pdf.iloc[i * span: (i + 1) * span]
        if len(part):
            spark.createDataFrame(part).coalesce(1).write.mode(
                "append").parquet(log_dir)
    ddl = ("seq long, op string, conv_id string, turn_idx int, role string, "
           "text string, tool string, ts timestamp")
    cow = _bootstrap(spark, tmp_path / "cow", target_df, write_mode="cow")
    mor = _bootstrap(spark, tmp_path / "mor", target_df, write_mode="mor")
    for t, name, extra in (
        (cow, "c", {}),
        (mor, "m", {"maintain_every": 2, "max_delta_layers": 2}),
    ):
        q = stream_replay(t, log_dir, ddl, str(tmp_path / f"ckpt_{name}"),
                          max_files_per_trigger=2, **extra)
        q.awaitTermination(300)
    pd.testing.assert_frame_equal(_state(cow), _state(mor))
    # the inline maintenance kept the outstanding layer count bounded
    man = mor._manifest()
    layer_count: dict[int, int] = {}
    for layer in man.get("deltas") or []:
        for b in layer["files"]:
            layer_count[int(b)] = layer_count.get(int(b), 0) + 1
    assert max(layer_count.values(), default=0) <= 2


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_rebucket_preserves_everything(spark, tmp_path, target_df,
                                       changelog_df, mode):
    """Partition-spec evolution: growing the bucket count is one rewrite
    that preserves state, lookups, metadata counts, exactly-once history,
    and time travel; outstanding MoR layers fold in."""
    t = _bootstrap(spark, tmp_path / mode, target_df, write_mode=mode,
                   n_buckets=4)
    replay_batches(t, changelog_df, n_batches=3, checkpoint_id="r")
    before = _state(t)
    pre_version = t.current_version()
    res = t.rebucket(16)
    assert not res["skipped"] and res["n_buckets"] == 16
    assert t._manifest()["n_buckets"] == 16
    if mode == "mor":
        assert not t._manifest().get("deltas"), "rebucket must fold layers"
    pd.testing.assert_frame_equal(_state(t), before)
    # metadata-only count restored/kept
    assert t.count_rows() == len(before)
    assert t._manifest().get("bucket_live_rows") is not None
    # lookups route with the NEW bucket count
    row = before.iloc[5]
    assert t.lookup((row.conv_id, int(row.turn_idx)))["text"] == row.text
    # time travel to the pre-rebucket snapshot routes with the OLD count
    pd.testing.assert_frame_equal(_state(t, version=pre_version), before)
    # exactly-once survives: an already-committed batch is still skipped
    assert t.merge(changelog_df, checkpoint_id="r", batch_id=2)["skipped"]
    # and new merges land in the new layout
    extra = spark.createDataFrame(
        [("rb_new", 0, "insert", "after-rebucket",
          datetime.datetime(2033, 1, 1), 10_000_000)],
        "conv_id string, turn_idx int, op string, text string, ts timestamp, "
        "seq long",
    )
    t.merge(extra, checkpoint_id="r2", batch_id=0)
    assert t.lookup(("rb_new", 0))["text"] == "after-rebucket"
    # same-count rebucket is a commit-free no-op
    v = t.current_version()
    assert t.rebucket(16)["skipped"] and t.current_version() == v


_KV = ModelSchema(name="kv", identifiers=("k",), attributes=("v",),
                  version_cols=("ts",))


def _kv_layer(spark, t, n, batch_id):
    """A small merge-on-read layer of updates and deletes: afterwards the
    stored rows of its buckets differ from their live rows."""
    t.merge(spark.range(0, n, 75).select(
        F.col("id").cast("int").alias("k"), F.lit("u").alias("v"),
        F.lit(datetime.datetime(2025, 1, 2)).alias("ts"),
        F.when(F.col("id") % 2 == 0, "delete").otherwise("update")
        .alias("op")), checkpoint_id="c", batch_id=batch_id)


@pytest.fixture(scope="module")
def rebucketed(spark, tmp_path_factory):
    """A 4-bucket merge-on-read table with a layer, rebucketed to 300
    buckets — more than one observation holds (2 counts x 300 > 512 metric
    expressions). Shared: a 300-bucket write costs tens of seconds."""
    n = 1500
    df = spark.range(n).select(
        F.col("id").cast("int").alias("k"),
        F.col("id").cast("string").alias("v"),
        F.lit(datetime.datetime(2025, 1, 1)).alias("ts"))
    t = SnapshotTable.create(spark, str(tmp_path_factory.mktemp("rb300")),
                             _KV, schema=df.schema, n_buckets=4,
                             write_mode="mor")
    t.merge(df.withColumn("op", F.lit("insert")), mode="force",
            checkpoint_id="boot", batch_id=0)
    _kv_layer(spark, t, n, 1)
    t.rebucket(300)
    return t, n


def _assert_counts_match_scan(t):
    """``bucket_rows`` / ``bucket_live_rows`` equal a counting scan."""
    man = t._manifest()
    bk = F.pmod(F.xxhash64("k"), F.lit(man["n_buckets"])).cast("int")

    def scan(df):
        return {str(r[0]): r[1] for r in df.groupBy(bk).count().collect()}

    assert man.get("bucket_rows") == scan(t.read_raw())
    live = man.get("bucket_live_rows")
    assert live is not None and set(live) == set(man["files"])
    assert {b: n for b, n in live.items() if n} == scan(t.read())


def test_rebucket_past_256_buckets_keeps_row_counts(rebucketed):
    """The per-bucket counts of a 300-bucket rebucket are chunked over
    several observations of the rewrite, not dropped."""
    t, _ = rebucketed
    assert t._manifest()["n_buckets"] == 300
    _assert_counts_match_scan(t)
    assert t.count_rows() == t.read().count()


def test_compact_past_256_buckets_keeps_row_counts(spark, rebucketed):
    """A compaction of more than 256 buckets replaces the folded buckets'
    counts (the layer's rows are folded away) instead of keeping the
    parent's."""
    t, n = rebucketed
    _kv_layer(spark, t, n, 2)
    stale = dict(t._manifest()["bucket_rows"])
    res = t.compact()
    assert len(res["compacted_buckets"]) > 256
    assert t._manifest()["bucket_rows"] != stale
    _assert_counts_match_scan(t)


def _kv_rows(spark, keys, v, ts, op="insert"):
    return spark.createDataFrame(
        [(k, v, ts, op) for k in keys],
        "k int, v string, ts timestamp, op string")


def _keys_by_bucket(spark, n_buckets, n=200):
    bk = F.pmod(F.xxhash64(F.col("id").cast("int")), F.lit(n_buckets))
    out: dict[int, list[int]] = {}
    for r in spark.range(n).select(F.col("id").cast("int"), bk).collect():
        out.setdefault(r[1], []).append(r[0])
    return out


def test_force_merge_beside_a_layer_only_bucket_keeps_live_count(
        spark, tmp_path):
    """A force merge that rewrites one bucket of a merge-on-read table
    while another bucket holds only a delta layer must not publish live
    counts that leave the layered bucket out."""
    by_b = _keys_by_bucket(spark, 4)
    a, b = by_b[0], by_b[1]
    t0 = datetime.datetime(2025, 1, 1)
    t = SnapshotTable.create(spark, str(tmp_path / "t"), _KV,
                             schema=_kv_rows(spark, [], "", t0)
                             .drop("op").schema,
                             n_buckets=4, write_mode="mor")
    t.merge(_kv_rows(spark, a, "a", t0), mode="force",
            checkpoint_id="boot", batch_id=0)
    t.merge(_kv_rows(spark, b, "b", t0, "upsert"), checkpoint_id="c",
            batch_id=1)
    man = t._manifest()
    assert set(man["files"]) == {"0"}
    assert {bk for lay in man["deltas"] for bk in lay["files"]} == {"1"}
    t.merge(_kv_rows(spark, a[:5], "a2", t0, "update"), mode="force",
            checkpoint_id="f", batch_id=0)
    live = t._manifest().get("bucket_live_rows")
    assert live is None or "1" in live
    assert t.count_rows() == t.read().count() == len(a) + len(b)
    assert t.verify_table(check_counts=True)["ok"]


def _kv_cow(spark, path, n=40):
    t0 = datetime.datetime(2025, 1, 1)
    t = SnapshotTable.create(spark, str(path), _KV,
                             schema=_kv_rows(spark, [], "", t0)
                             .drop("op").schema, n_buckets=4)
    t.merge(_kv_rows(spark, range(n), "v", t0), mode="force",
            checkpoint_id="boot", batch_id=0)
    return t


def _lww_merge(spark, t):
    t1 = datetime.datetime(2025, 1, 2)
    t.merge(_kv_rows(spark, range(0, 40, 3), "u", t1, "update")
            .unionByName(_kv_rows(spark, range(1, 40, 7), None, t1, "delete"))
            .unionByName(_kv_rows(spark, range(40, 44), "n", t1)),
            checkpoint_id="c", batch_id=1)


def _snapshot_merge(spark, t):
    src = _kv_rows(spark, range(10, 50), "s",
                   datetime.datetime(2025, 1, 3)).drop("op")
    res = t.merge(src, mode="snapshot", checkpoint_id="s", batch_id=0)
    assert (res["n_create"], res["n_delete"]) == (10, 10)


def _purge_compact(spark, t):
    """Purging a bucket's only rows (all tombstones) leaves no count
    behind for it."""
    gone = _keys_by_bucket(spark, 4, 40)[2]
    t.merge(_kv_rows(spark, gone, None, datetime.datetime(2025, 1, 2),
                     "delete"), checkpoint_id="c", batch_id=1)
    assert "2" in t._manifest()["files"]
    t.compact(purge_tombstones_older_than=datetime.datetime(2030, 1, 1))
    assert "2" not in t._manifest()["files"]


def _zorder_compact(spark, t):
    t.merge(_kv_rows(spark, range(0, 40, 5), None,
                     datetime.datetime(2025, 1, 2), "delete"),
            checkpoint_id="c", batch_id=1)
    res = t.compact(zorder=["k", "ts"], zorder_files_per_bucket=2)
    assert res["zorder"] == ["k", "ts"]


@pytest.mark.parametrize("rewrite", [_lww_merge, _snapshot_merge,
                                     _purge_compact, _zorder_compact],
                         ids=["lww", "snapshot", "purge", "zorder"])
def test_rewrite_counts_match_scan(spark, tmp_path, rewrite):
    """Every bucket rewrite of a 4-bucket copy-on-write table leaves
    bucket_rows and bucket_live_rows equal to a counting scan."""
    t = _kv_cow(spark, tmp_path / "t")
    rewrite(spark, t)
    _assert_counts_match_scan(t)
