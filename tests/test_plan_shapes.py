"""Plan-shape regression tests — the tuned physical plans from PLANS.md,
encoded as assertions so a future change can't silently regress them.

Each test pins the property that matters at 100 TB (shuffle count, exchange
sharing, broadcast choice, map-side pruning, parquet pushdown), not the whole
plan string. Counting "Exchange hashpartitioning" isolates SHUFFLE exchanges
(BroadcastExchange / ReusedExchange spell differently).
"""

from __future__ import annotations

import datetime

import numpy as np
import pytest
from pyspark.sql import functions as F

from diffsync_spark.model import TRANSCRIPT_MODEL
from diffsync_spark.operators.diff import diff
from diffsync_spark.operators.lww import lww_dedup

SF_DIR = "/root/testdata/sf0.001"

_CDC = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp, op string, seq long"
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _write_plans(t) -> list:
    """The executed plan of every write ``t`` runs from now on."""
    plans = []
    write_files = t._write_files

    def capture(df, man, data_dir):
        plans.append(_plan(df))
        return write_files(df, man, data_dir)

    t._write_files = capture
    return plans


def _parquet(df, path):
    """``df`` written to parquet and read back: a file-backed frame has a
    size estimate (a frame built from Python rows has none and never fits
    one partition), as a staged batch or a streaming micro-batch does."""
    df.write.parquet(str(path))
    return df.sparkSession.read.schema(df.schema).parquet(str(path))


def _rows(n=4):
    t0 = datetime.datetime(2025, 1, 1)
    return [
        (f"c{i}", i, "user", f"t{i}", None, t0, "update", i) for i in range(n)
    ]


def test_diff_two_exchanges_fullouter_smj(spark):
    """diff() = one shuffle per input side + a full-outer SMJ, with ALL
    classification logic in the project above it — no third exchange, no
    extra join (PLANS.md:7-88)."""
    src = spark.createDataFrame(_rows(), _CDC).drop("op", "seq")
    dst = spark.createDataFrame(_rows(), _CDC).drop("op", "seq")
    plan = _plan(diff(src, dst, TRANSCRIPT_MODEL))
    assert plan.count("Exchange hashpartitioning") == 2
    assert "SortMergeJoin" in plan and "FullOuter" in plan
    assert plan.count("SortMergeJoin") == 1


def test_lww_then_join_shares_partitioning(spark):
    """The merge's scale contract: the LWW window's hash partitioning on the
    natural key SATISFIES the downstream keyed join, so the batch side adds
    no second shuffle between WindowExec and the join (plain `==` keys —
    eqNullSafe would break this; see table.py merge)."""
    batch = spark.createDataFrame(_rows(), _CDC)
    cur = spark.createDataFrame(_rows(), _CDC).drop("op", "seq")
    deduped = lww_dedup(batch, TRANSCRIPT_MODEL)
    cond = None
    for k in TRANSCRIPT_MODEL.identifiers:
        e = deduped[k] == cur[k]
        cond = e if cond is None else cond & e
    plan = _plan(deduped.join(cur, cond, "full_outer"))
    # one shuffle for the window input + one for the cur side — NOT three
    assert plan.count("Exchange hashpartitioning") == 2
    # the rank-limit pushdown is the merge path's hot-key defence: a PARTIAL
    # WindowGroupLimit below the exchange pre-reduces each map partition to
    # one candidate row per natural key, so 10^6 duplicate events for one hot
    # conversation shuffle as ~n_map_partitions rows, not 10^6 — map-side
    # combine for row_number()==1, without any aggregate fallback
    assert plan.count("WindowGroupLimit") == 2  # Partial (map-side) + Final
    # the Partial one is BELOW the window's exchange (prints after it in the
    # tree string); the Final sits above it
    assert plan.rindex("WindowGroupLimit") > plan.index(
        "Exchange hashpartitioning"
    )


def test_cosine_topk_broadcasts_queries(spark):
    """cosine_topk: queries broadcast, corpus never shuffles for the score
    (the only hashpartitioning exchange is the per-query top-k window)."""
    from diffsync_spark.functions.similarity import cosine_topk

    corpus = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(8)],
        "vec_id long, embedding array<float>",
    )
    queries = corpus.limit(2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    plan = _plan(cosine_topk(corpus, queries, k=3))
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 1  # top-k window only


def test_assemble_max_items_prunes_map_side(spark):
    """assemble_sequences(max_items=...): the rank filter must compile to a
    WindowGroupLimit so a 10M-row hot key ships max_items rows, not 10M."""
    from diffsync_spark.functions.assemble import assemble_sequences

    df = spark.createDataFrame(
        [(1, 1, "a", datetime.datetime(2025, 1, 1))],
        "user_id long, event_id long, v string, ts timestamp",
    )
    plan = _plan(
        assemble_sequences(df, ("user_id",), ("ts", "event_id"), "v",
                           max_items=2)
    )
    assert "WindowGroupLimit" in plan


def test_parquet_scan_pushdown_and_pruning(spark, tmp_path):
    """A filtered two-column projection over the documents table must reach
    the scan: PushedFilters carries the predicate and ReadSchema carries
    ONLY the projected columns (no full-row read for a narrow query).

    Scans a PRIVATE copy of the table: other test modules cache() the
    shared sf0.001 read, and Spark's cache manager would substitute an
    InMemoryRelation for any matching sub-plan, hiding the scan."""
    path = str(tmp_path / "docs_pushdown")
    spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(200).write.parquet(path)
    docs = spark.read.parquet(path)
    q = docs.filter(F.col("lang") == "en").select("doc_id", "lang")
    scan = [
        s for s in _plan(q).split("\n") if "FileScan" in s or "Scan parquet" in s
    ]
    joined = " ".join(scan) or _plan(q)
    assert "PushedFilters" in joined and "lang" in joined.split("PushedFilters")[1].split("]")[0]
    read_schema = joined.split("ReadSchema")[1]
    assert "doc_id" in read_schema and "lang" in read_schema
    assert "text" not in read_schema  # untouched wide column pruned


def test_minhash_bucket_cap_shares_band_exchange(spark):
    """minhash_lsh_pairs' bucket-size cap must share the (band, bh) exchange
    with the candidate self-join — the cap is free of extra shuffles."""
    from diffsync_spark.functions.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(i, f"doc number {i} words here") for i in range(6)],
        "doc_id long, text string",
    )
    capped = _plan(minhash_lsh_pairs(docs, num_hashes=8, bands=4))
    uncapped = _plan(
        minhash_lsh_pairs(docs, num_hashes=8, bands=4, max_bucket_size=None)
    )
    n_capped = capped.count("Exchange hashpartitioning")
    n_uncapped = uncapped.count("Exchange hashpartitioning")
    # the count window rides the join's existing band exchange: at most one
    # extra shuffle total vs the uncapped plan (the post-window re-shuffle
    # of the filtered side), never one per side
    assert n_capped <= n_uncapped + 1

def test_ann_index_probe_is_partition_pruned(spark, tmp_path):
    """lsh_cosine_topk(index_path=...): the probe scan of a persisted
    build_ann_index corpus must carry the probed buckets as
    PartitionFilters — only probed buckets' files are read, never the
    whole index (the compute-once/look-up-many 100 TB shape)."""
    from diffsync_spark.functions.similarity import (
        build_ann_index, lsh_cosine_topk,
    )

    rng = np.random.default_rng(5)
    corpus = spark.createDataFrame(
        [(i, rng.standard_normal(8).astype(float).tolist()) for i in range(64)],
        "vec_id long, embedding array<float>",
    )
    idx = str(tmp_path / "ann_index")
    build_ann_index(corpus, idx, n_planes=6, seed=11)
    queries = corpus.limit(2).select(
        F.col("vec_id").alias("query_id"), "embedding")
    out = lsh_cosine_topk(None, queries, k=3, probes=3, index_path=idx)
    plan = _plan(out)
    scan = [s for s in plan.split("\n")
            if ("FileScan" in s or "Scan parquet" in s) and "ann_index" in s]
    joined = " ".join(scan)
    pf = joined.split("PartitionFilters")[1].split("]")[0]
    assert "bucket" in pf and "IN" in pf.upper()


def test_ivf_index_probe_is_partition_pruned(spark, tmp_path):
    """ivf_cosine_topk(index_path=...): the probe scan of a persisted
    build_ivf_index corpus must carry the probed cells as
    PartitionFilters — only probed cells' files are read, never the
    whole index (the compute-once/look-up-many 100 TB shape)."""
    from diffsync_spark.functions.similarity import (
        build_ivf_index, ivf_cosine_topk,
    )

    rng = np.random.default_rng(7)
    corpus = spark.createDataFrame(
        [(i, rng.standard_normal(8).astype(float).tolist()) for i in range(64)],
        "vec_id long, embedding array<float>",
    )
    idx = str(tmp_path / "ivf_index")
    build_ivf_index(corpus, idx, n_centroids=6)
    queries = corpus.limit(2).select(
        F.col("vec_id").alias("query_id"), "embedding")
    out = ivf_cosine_topk(None, queries, k=3, n_probe=2, index_path=idx)
    plan = _plan(out)
    scan = [s for s in plan.split("\n")
            if ("FileScan" in s or "Scan parquet" in s) and "ivf_index" in s]
    joined = " ".join(scan)
    pf = joined.split("PartitionFilters")[1].split("]")[0]
    assert "cid" in pf and "IN" in pf.upper()


def test_ivf_topk_corpus_never_hash_shuffled(spark):
    """ivf_cosine_topk: assignment is a pure projection (one-row broadcast
    centroid array + array_max fold), the probe join is broadcast — the
    only hashpartitioning exchanges are per-query windows, and the final
    top-k is map-side pruned by WindowGroupLimit."""
    from diffsync_spark.functions.similarity import ivf_cosine_topk

    corpus = spark.createDataFrame(
        [(i, [float(i % 7), 1.0, float(i % 3)]) for i in range(50)],
        "vec_id long, embedding array<float>",
    )
    queries = corpus.limit(2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    plan = _plan(ivf_cosine_topk(corpus, queries, k=3, n_centroids=4, n_probe=2))
    assert "SortMergeJoin" not in plan
    # per-query windows only (final rank; probe-ranking may add one on the
    # tiny query side) — never a corpus-wide exchange
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "BroadcastExchange" in plan
    assert "WindowGroupLimit" in plan


@pytest.mark.usefixtures("shuffle_regime")
def test_mor_fold_one_exchange_with_mapside_prune(spark, tmp_path):
    """The merge-on-read fold (PLANS.md "merge-on-read fold"): base+layers
    resolve through ONE hash exchange on the natural key, and Spark's
    rank-limit pushdown inserts a PARTIAL WindowGroupLimit BEFORE it, so
    per-key losers are pruned map-side and the shuffle carries only
    candidate winners."""
    from diffsync_spark.sinks.table import SnapshotTable

    src = spark.createDataFrame(_rows(8), _CDC).drop("op", "seq")
    t = SnapshotTable.create(
        spark, str(tmp_path / "mor_plan"), TRANSCRIPT_MODEL,
        schema=src.schema, n_buckets=4, write_mode="mor",
    )
    t.merge(src.withColumn("op", F.lit("insert")), mode="force",
            checkpoint_id="boot", batch_id=0)
    t.merge(spark.createDataFrame(_rows(8), _CDC), checkpoint_id="c",
            batch_id=1)
    assert t._manifest().get("deltas"), "setup: expected a delta layer"
    plan = _plan(t.read())
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("WindowGroupLimit") == 2  # Partial (map-side) + Final
    # map-side prune sits BELOW the exchange
    assert plan.index("WindowGroupLimit") < plan.index(
        "Exchange hashpartitioning"
    ) or "Partial" in plan[: plan.index("Exchange hashpartitioning")]
    # the fold's LWW ordering is the committed one
    assert "DESC NULLS FIRST" in plan and "__commit" in plan


def test_mor_delta_free_buckets_skip_the_fold(spark, tmp_path):
    """Buckets with no delta layers must stream through WITHOUT a window:
    reading only such buckets plans zero exchanges (pure scan+filter)."""
    from diffsync_spark.sinks.table import SnapshotTable

    src = spark.createDataFrame(_rows(64), _CDC).drop("op", "seq")
    t = SnapshotTable.create(
        spark, str(tmp_path / "mor_prune"), TRANSCRIPT_MODEL,
        schema=src.schema, n_buckets=8, write_mode="mor",
    )
    t.merge(src.withColumn("op", F.lit("insert")), mode="force",
            checkpoint_id="boot", batch_id=0)
    # touch exactly one key → one bucket gets a layer
    t.merge(spark.createDataFrame(_rows(1), _CDC), checkpoint_id="c",
            batch_id=1)
    layered = sorted(t._delta_buckets(t._manifest()))
    assert len(layered) == 1
    clean = [b for b in range(8) if b not in layered]
    plan = _plan(t.read(buckets=clean))
    assert "Exchange" not in plan and "Window" not in plan
    # while the layered bucket's read does fold
    plan_l = _plan(t.read(buckets=layered))
    assert "Window" in plan_l


def _jobs_and_stages(spark, group, fn):
    """Run ``fn`` under its own job group; return (result, jobs, stages)."""
    sc = spark.sparkContext
    prev = {k: sc.getLocalProperty(k) for k in
            ("spark.jobGroup.id", "spark.job.description",
             "spark.job.interruptOnCancel")}
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for k, v in prev.items():
            sc.setLocalProperty(k, v)
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = [s for j in jobs for s in st.getJobInfo(j).stageIds]
    return out, len(jobs), len(stages)


def test_point_lookup_runs_no_spark_job(spark, tmp_path):
    """A point lookup launches NO Spark job on either write mode: key
    routing folds on the driver, and the key's slot files (base plus, on
    merge-on-read, each layer's) are read and folded with pyarrow on the
    driver — for a hit and for a miss alike."""
    from diffsync_spark.sinks.table import SnapshotTable

    src = spark.createDataFrame(_rows(16), _CDC).drop("op", "seq")
    for mode in ("cow", "mor"):
        t = SnapshotTable.create(
            spark, str(tmp_path / f"lookup_{mode}"), TRANSCRIPT_MODEL,
            schema=src.schema, n_buckets=4, write_mode=mode,
        )
        t.merge(src.withColumn("op", F.lit("insert")), mode="force",
                checkpoint_id="boot", batch_id=0)
        if mode == "mor":
            up = spark.createDataFrame(_rows(16), _CDC).withColumn(
                "text", F.lit("layered"))
            t.merge(up, checkpoint_id="c", batch_id=1)
            assert t._manifest().get("deltas"), "setup: expected a layer"
        row, jobs, stages = _jobs_and_stages(
            spark, f"lookup-{mode}", lambda: t.lookup(["c3", 3]))
        assert row is not None and row["turn_idx"] == 3
        assert row["text"] == ("layered" if mode == "mor" else "t3")
        assert (jobs, stages) == (0, 0), mode
        miss, jobs, stages = _jobs_and_stages(
            spark, f"miss-{mode}", lambda: t.lookup(["nope", 3]))
        assert miss is None and (jobs, stages) == (0, 0), mode


@pytest.mark.usefixtures("shuffle_regime")
def test_mor_lww_merge_is_one_write_query(spark, tmp_path):
    """An LWW merge into a merge-on-read table that already holds data is
    ONE write query: no stats pass before it, and one Exchange shared by
    the bucket fan-out and the LWW window — two Spark jobs under AQE (the
    shuffle map stage, then the write)."""
    from diffsync_spark.sinks.table import SnapshotTable

    src = spark.createDataFrame(_rows(16), _CDC).drop("op", "seq")
    t = SnapshotTable.create(
        spark, str(tmp_path / "mor_write"), TRANSCRIPT_MODEL,
        schema=src.schema, n_buckets=4, write_mode="mor",
    )
    t.merge(src.withColumn("op", F.lit("insert")), mode="force",
            checkpoint_id="boot", batch_id=0)
    plans = []
    write_files = t._write_files

    def capture(df, man, data_dir):
        plans.append(_plan(df))
        return write_files(df, man, data_dir)

    t._write_files = capture
    t.merge(spark.createDataFrame(_rows(16), _CDC), checkpoint_id="c",
            batch_id=1)  # warm
    up = spark.createDataFrame(_rows(16), _CDC).withColumn(
        "seq", F.col("seq") + 100)
    res, jobs, _ = _jobs_and_stages(
        spark, "mor-merge", lambda: t.merge(up, checkpoint_id="c",
                                            batch_id=2))
    assert res["n_append"] == 16 and res["n_quarantined"] == 0
    assert jobs == 2
    assert plans[-1].count("Exchange hashpartitioning") == 1
    assert "Window" in plans[-1]


def test_frame_sample_filters_before_the_arrow_udf(spark):
    """Video frame sampling: the kind filter and the payload-only
    projection must sit BELOW MapInPandas (only video payload bytes cross
    into Arrow), and the whole decode is shuffle-free."""
    from diffsync_spark.functions.multimodal import fake_assets, frame_sample

    plan = _plan(frame_sample(fake_assets(spark, n=12), every_ms=500))
    assert "Exchange" not in plan
    # the formatted tree roots at MapInPandas with Filter+Project below it
    assert "MapInPandas" in plan and "Filter" in plan
    assert "kind" in plan  # the video predicate exists JVM-side
    # tree-string roots first: Filter/Project must sit BELOW MapInPandas
    assert plan.index("Filter") > plan.index("MapInPandas")
    # the UDF's input is exactly (asset_id, payload) — wide asset columns
    # (mime, duration_ms, width, ...) are projected away before Arrow
    proj_lines = [ln for ln in plan.splitlines()
                  if "Project [" in ln and "payload" in ln]
    assert proj_lines, plan
    assert all("duration_ms" not in ln and "mime" not in ln
               for ln in proj_lines)


@pytest.mark.usefixtures("shuffle_regime")
@pytest.mark.parametrize("n_buckets", [4, 128])
def test_snapshot_sync_is_one_write_query(spark, tmp_path, n_buckets):
    """``Engine.sync_from`` after a commit that changed the whole table is
    ONE write query: the LWW-deduped source full-outer joined against the
    stored rows, then the bucket fan-out. Three Exchanges (the LWW
    window's, which the join reuses; the stored side's; the fan-out's) and
    four Spark jobs under AQE (two shuffle map stages for the join, the
    fan-out stage, the write) — no stats pass and no second diff. At 128
    buckets the per-bucket counts span several observations of the same
    write instead of a re-read."""
    from diffsync_spark.engine import Engine
    from diffsync_spark.sinks.table import SnapshotTable

    src = spark.createDataFrame(_rows(16), _CDC).drop("op", "seq")
    t = SnapshotTable.create(
        spark, str(tmp_path / "snap_write"), TRANSCRIPT_MODEL,
        schema=src.schema, n_buckets=n_buckets,
    )
    t.merge(src.withColumn("op", F.lit("insert")), mode="force",
            checkpoint_id="boot", batch_id=0)
    plans = []
    write_files = t._write_files

    def capture(df, man, data_dir):
        plans.append(_plan(df))
        return write_files(df, man, data_dir)

    t._write_files = capture
    e = Engine(spark, TRANSCRIPT_MODEL, t)
    e.sync_from(src.withColumn("text", F.lit("warm")), batch_id=1)
    changed = src.withColumn("text", F.lit("changed"))
    res, jobs, _ = _jobs_and_stages(
        spark, f"snapshot-sync-{n_buckets}",
        lambda: e.sync_from(changed, batch_id=2))
    assert res["n_update"] == 16 and res["n_quarantined"] == 0
    assert jobs == 4
    assert plans[-1].count("Exchange hashpartitioning") == 3
    assert "FullOuter" in plans[-1] and "Window" in plans[-1]


def _kv_table(spark, tmp_path, name, mode):
    from diffsync_spark.sinks.table import SnapshotTable

    src = spark.createDataFrame(_rows(16), _CDC).drop("op", "seq")
    t = SnapshotTable.create(
        spark, str(tmp_path / name), TRANSCRIPT_MODEL,
        schema=src.schema, n_buckets=4, write_mode=mode,
    )
    t.merge(src.withColumn("op", F.lit("insert")), mode="force",
            checkpoint_id="boot", batch_id=0)
    return t, src


@pytest.mark.usefixtures("shuffle_regime")
def test_maintenance_writes_job_counts(spark, tmp_path):
    """Bucket rewrites for maintenance stay small queries: maintain()
    folding a merge-on-read layer runs at most 3 Spark jobs, compact() of
    base-only buckets and rebucket() at most 2 each."""
    mor, _ = _kv_table(spark, tmp_path, "maint_mor", "mor")
    mor.merge(spark.createDataFrame(_rows(16), _CDC).withColumn(
        "text", F.lit("layered")), checkpoint_id="c", batch_id=1)
    res, jobs, _ = _jobs_and_stages(
        spark, "maintain", lambda: mor.maintain(max_delta_layers=1))
    assert res["compacted_buckets"] and not mor._manifest().get("deltas")
    assert jobs <= 3, jobs
    cow, _ = _kv_table(spark, tmp_path, "maint_cow", "cow")
    res, jobs, _ = _jobs_and_stages(spark, "compact", lambda: cow.compact())
    assert len(res["compacted_buckets"]) == 4 and jobs <= 2, jobs
    res, jobs, _ = _jobs_and_stages(spark, "rebucket",
                                    lambda: cow.rebucket(8))
    assert res["n_buckets"] == 8 and jobs <= 2, jobs


def test_rewrites_write_no_op_class_column(spark, tmp_path):
    """The per-row lineage class is counted on the write and never
    stored: files of a copy-on-write LWW merge and of a snapshot merge
    carry no ``__op_class`` column."""
    import pyarrow.parquet as pq

    t, src = _kv_table(spark, tmp_path, "no_op_class", "cow")
    up = spark.createDataFrame(_rows(16), _CDC).withColumn(
        "seq", F.col("seq") + 100)
    assert t.merge(up, checkpoint_id="c", batch_id=1)["n_update"] == 16
    lww_files = {p for fl in t._manifest()["files"].values() for p in fl}
    res = t.merge(src.withColumn("text", F.lit("snap")), mode="snapshot",
                  checkpoint_id="s", batch_id=0)
    assert res["n_update"] == 16
    snap_files = {p for fl in t._manifest()["files"].values() for p in fl}
    assert lww_files and snap_files and not lww_files & snap_files
    for p in lww_files | snap_files:
        assert "__op_class" not in pq.read_schema(p).names, p


# ---- the single-partition regime: inputs within
# the smaller of spark.sql.maxSinglePartitionBytes and
# spark.sql.autoBroadcastJoinThreshold (10 MB by default) run on one
# partition, with no Exchange. The batches are file-backed (_parquet), as a
# staged batch or a streaming micro-batch is.


def test_small_mor_append_is_one_job(spark, tmp_path):
    """A merge-on-read LWW append whose batch fits one partition is
    written on the driver: one Spark job (the ``toArrow()`` collect of
    the batch's projection), no Spark write plan, and a layer dir with
    only parquet files (no ``_SUCCESS`` or ``.crc`` files)."""
    import os

    t, _ = _kv_table(spark, tmp_path, "one_mor_write", "mor")
    plans = _write_plans(t)
    t.merge(_parquet(spark.createDataFrame(_rows(16), _CDC),
                     tmp_path / "b1"), checkpoint_id="c", batch_id=1)
    up = _parquet(spark.createDataFrame(_rows(16), _CDC).withColumn(
        "seq", F.col("seq") + 100), tmp_path / "b2")
    res, jobs, _ = _jobs_and_stages(
        spark, "one-mor-merge", lambda: t.merge(up, checkpoint_id="c",
                                                batch_id=2))
    assert res["n_append"] == 16 and res["n_quarantined"] == 0
    assert res["write_regime"] == "driver"
    assert jobs == 1
    assert plans == []
    layer = t._manifest()["deltas"][-1]["files"]
    layer_dir = os.path.dirname(os.path.dirname(os.path.dirname(
        next(iter(layer.values()))[0])))
    names = [f for _, _, fs in os.walk(layer_dir) for f in fs]
    assert names and all(f.endswith(".parquet") for f in names), names


def test_small_snapshot_sync_is_one_job(spark, tmp_path):
    """``Engine.sync_from`` whose source and stored rows fit one partition
    runs the LWW window, the full-outer join and the fan-out on it: no
    Exchange, one Spark job (the write)."""
    from diffsync_spark.engine import Engine

    t, src = _kv_table(spark, tmp_path, "one_snap", "cow")
    plans = _write_plans(t)
    e = Engine(spark, TRANSCRIPT_MODEL, t)
    e.sync_from(_parquet(src.withColumn("text", F.lit("warm")),
                         tmp_path / "g1"), batch_id=1)
    changed = _parquet(src.withColumn("text", F.lit("changed")),
                       tmp_path / "g2")
    res, jobs, _ = _jobs_and_stages(
        spark, "one-snapshot-sync", lambda: e.sync_from(changed, batch_id=2))
    assert res["n_update"] == 16 and res["n_quarantined"] == 0
    assert jobs == 1
    assert "Exchange" not in plans[-1]
    assert "FullOuter" in plans[-1] and "Window" in plans[-1]


def test_small_mor_read_and_maintain(spark, tmp_path):
    """A merge-on-read fold that fits one partition has no Exchange, and
    maintain() folding a layer back into base files is one Spark job."""
    t, _ = _kv_table(spark, tmp_path, "one_fold", "mor")
    t.merge(spark.createDataFrame(_rows(16), _CDC).withColumn(
        "text", F.lit("layered")), checkpoint_id="c", batch_id=1)
    plan = _plan(t.read())
    assert "Window" in plan and "Exchange" not in plan
    res, jobs, _ = _jobs_and_stages(
        spark, "one-maintain", lambda: t.maintain(max_delta_layers=1))
    assert res["compacted_buckets"] and not t._manifest().get("deltas")
    assert jobs == 1
    assert t.read().filter(F.col("text") == "layered").count() == 16


def test_small_cow_lww_merge_is_stats_pass_plus_write(spark, tmp_path):
    """A copy-on-write LWW merge whose batch and touched stored rows fit
    one partition: the stats pass aggregates on one partition, and the
    LWW window, the join and the fan-out add no Exchange — two Spark
    jobs, for the bootstrap fast path as for the join."""
    from diffsync_spark.sinks.table import SnapshotTable

    src = spark.createDataFrame(_rows(16), _CDC)
    t = SnapshotTable.create(
        spark, str(tmp_path / "one_cow"), TRANSCRIPT_MODEL,
        schema=src.drop("op", "seq").schema, n_buckets=4)
    plans = _write_plans(t)
    boot = _parquet(src, tmp_path / "boot")
    res, jobs, _ = _jobs_and_stages(
        spark, "one-cow-boot", lambda: t.merge(boot, checkpoint_id="c",
                                               batch_id=0))
    assert res["n_create"] == 16 and jobs == 2
    assert "Exchange" not in plans[-1]
    up = _parquet(src.withColumn("seq", F.col("seq") + 100),
                  tmp_path / "up")
    res, jobs, _ = _jobs_and_stages(
        spark, "one-cow-merge", lambda: t.merge(up, checkpoint_id="c",
                                                batch_id=1))
    assert res["n_update"] == 16 and jobs == 2
    assert "Exchange" not in plans[-1] and "FullOuter" in plans[-1]


@pytest.mark.parametrize("require_all, exchanges, jobs", [
    ("true", 4, 5), ("false", 2, 3),
])
def test_bucket_partitioned_join_reuse_needs_all_cluster_keys_off(
        spark, require_all, exchanges, jobs):
    """Whether a full-outer join on ``(_bucket, *ids)`` reuses both sides'
    ``repartition(_bucket)`` when an LWW window clustered on the bucket
    (``lww_dedup(cluster_cols=("_bucket",))``) sits between. Under Spark's
    default ``spark.sql.requireAllClusterKeysForCoPartition=true`` it does
    not: each side gets a second ``Exchange hashpartitioning(_bucket,
    conv_id, turn_idx)`` above its window, 4 Exchanges and 5 Spark jobs.
    With the setting false the join keeps the bucket partitioning: 2
    Exchanges, 3 jobs. Pure Spark, 16 rows, 4 buckets."""
    key = "spark.sql.requireAllClusterKeysForCoPartition"
    keys = ["_bucket", *TRANSCRIPT_MODEL.identifiers]

    def side(text):
        df = spark.createDataFrame(_rows(16), _CDC).withColumns({
            "text": F.lit(text),
            "_bucket": F.pmod(F.xxhash64("conv_id"), F.lit(4)),
        }).repartition("_bucket")
        return lww_dedup(df, TRANSCRIPT_MODEL, cluster_cols=("_bucket",)) \
            .select(*keys, F.col("text").alias(text))

    prev = spark.conf.get(key)
    spark.conf.set(key, require_all)
    try:
        joined = side("a").join(side("b"), keys, "full_outer")
        plan = _plan(joined)
        rows, n_jobs, _ = _jobs_and_stages(
            spark, f"copartition-{require_all}", joined.collect)
    finally:
        spark.conf.set(key, prev)
    assert len(rows) == 16
    assert plan.count("Exchange hashpartitioning") == exchanges
    assert plan.count("Exchange hashpartitioning(_bucket#") == exchanges
    assert plan.count("REPARTITION_BY_COL") == 2
    assert n_jobs == jobs
