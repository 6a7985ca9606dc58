"""Benchmark harness — prints the full evidence JSON line, then a compact
headline JSON line LAST (the driver's tail capture truncated r4's single
giant line from the front; the final short line always survives and parses).

Headline numbers:
- ``events_per_sec``: sustained change-events/sec of the CDC replay — a
  synthetic transcript changelog (seeded, deterministic) merged into a
  SnapshotTable in micro-batches; this is the BASELINE.md primary metric.
- ``queries``: wall seconds per headline operator at $SPARK_GRAFT_SF_DIR
  (default /root/testdata/sf0.1), forced to full materialization via the
  noop writer (so column pruning can't skip the work).

Contention-proofing (round-4): the replay runs FIRST (before the query
sweep can heat the host), takes the best of 5 reps, and embeds per-rep
evidence — wall seconds, host loadavg, per-rep JVM GC time and task skew
from Spark's REST API — so an externally-contended run is self-evident in
the artifact instead of reading as a code regression (the r3 lesson:
this host shows ~5x run-to-run swings from external load with zero local
processes; see BENCH/BASELINE.md).

Config via env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (default 32),
SPARK_GRAFT_BENCH_EVENTS (default 4000000), SPARK_GRAFT_BENCH_CONVS (8000),
SPARK_GRAFT_BENCH_REPS (5).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

from pyspark.sql import functions as F


def _loadavg() -> float:
    try:
        return round(os.getloadavg()[0], 1)
    except OSError:
        return -1.0


def _membw_gbps() -> float:
    """One-shot host memory-bandwidth probe (first-touch + copy of 64 MB).
    This sandbox's documented failure mode is EXTERNAL memory-system
    pressure that loadavg barely registers (idle ~20 GB/s, crushed
    <0.1 GB/s with loadavg under 2) — embedding the reading per rep makes
    a contended measurement self-evident in the artifact."""
    try:
        import numpy as np

        import time as _t
        x = np.zeros(64 * 1024 * 1024 // 8)
        t0 = _t.perf_counter()
        y = x.copy()
        dt = _t.perf_counter() - t0
        del y
        return round(2 * x.nbytes / dt / 1e9, 2)
    except Exception:
        return -1.0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # replay defaults sized for the SUSTAINED regime: at 200k events/8
    # batches the number was ~95% per-batch fixed cost (round-1 verdict);
    # 4M events/2 batches tracks the same figure scaling_run measures
    n_events = int(os.environ.get("SPARK_GRAFT_BENCH_EVENTS", "4000000"))
    n_convs = int(os.environ.get("SPARK_GRAFT_BENCH_CONVS", "8000"))
    n_batches = int(os.environ.get("SPARK_GRAFT_BENCH_BATCHES", "2"))
    # best-of-5 (r4, was 3): the headline is the primary metric and a single
    # contended window must not be able to masquerade as a code regression
    n_reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5"))

    from diffsync_spark import build_session
    from diffsync_spark import fixtures
    from diffsync_spark.model import TRANSCRIPT_MODEL
    from diffsync_spark.plans.threeway import patch_snapshot
    from diffsync_spark.sinks.table import SnapshotTable
    from diffsync_spark.stage_metrics import max_stage_id, stage_rows
    from diffsync_spark.streaming.replay import replay_batches
    import __spark_entry__ as entry_mod

    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    work = tempfile.mkdtemp(prefix="bench_cdc_", dir=base)
    spark = build_session(
        master=f"local[{cpus}]",
        app_name="diffsync_spark_bench",
        shuffle_partitions=cpus,
        # shuffle/spill co-located with the staged input (tmpfs when present)
        # — same methodology as scripts/scaling_run.py; UI on for the
        # per-rep stage evidence
        extra_conf={"spark.local.dir": f"{work}/sparktmp",
                    "spark.ui.enabled": "true",
                    "spark.ui.showConsoleProgress": "false"},
    )

    def noop_write(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    timings: dict[str, float] = {}

    def timed(name: str, fn) -> None:
        t0 = time.perf_counter()
        fn()
        timings[name] = round(time.perf_counter() - t0, 3)

    # warmup: JVM/codegen JIT, so the replay (and the per-query numbers)
    # measure the operators, not cold-start
    spark.range(0, 50_000_000, 1, cpus).select(
        F.sum(F.pmod(F.xxhash64("id"), F.lit(1000)))
    ).collect()

    # --- the CDC replay FIRST (primary metric): bootstrap + batched LWW
    # merge. Inputs are generated DISTRIBUTED (spark-side fixtures) and
    # staged to parquet first, so generation never pollutes the replay
    # timing.
    src_raw = fixtures.gen_source_spark(spark, n_convs=n_convs,
                                        turns_per_conv=20, text_bytes=256)
    chg_raw = fixtures.gen_changelog_spark(spark, n_events, n_convs=n_convs,
                                           turns_per_conv=20, text_bytes=256)
    src_raw.repartition(cpus).write.mode("overwrite").parquet(f"{work}/src")
    chg_raw.repartition(max(cpus, 64)).write.mode("overwrite").parquet(f"{work}/chg")
    src_df = spark.read.parquet(f"{work}/src")
    chg_df = spark.read.parquet(f"{work}/chg")
    # table layout fixed regardless of parallelism so the N-vs-4N scaling
    # runs execute the identical job (only --master differs)
    n_buckets = int(os.environ.get("SPARK_GRAFT_BENCH_BUCKETS", "64"))
    total_events = chg_df.count()
    replay_s = float("inf")
    final_rows = 0
    reps: list[dict] = []
    best_stages: list[dict] = []

    for rep in range(n_reps):
        tbl_dir = tempfile.mkdtemp(prefix=f"bench_tbl_{rep}_", dir=base)
        shutil.rmtree(tbl_dir)
        table = SnapshotTable.create(
            spark, tbl_dir, TRANSCRIPT_MODEL, schema=src_df.schema,
            n_buckets=n_buckets,
        )
        table.merge(
            src_df.withColumn("op", F.lit("insert")), mode="force",
            checkpoint_id="boot", batch_id=0,
        )
        first_stage = max_stage_id(spark)
        load0 = _loadavg()
        t0 = time.perf_counter()
        replay_batches(table, chg_df, n_batches=n_batches, checkpoint_id="bench")
        dt = time.perf_counter() - t0
        stages = stage_rows(spark, first_stage, min_run_ms=1000)
        rep_row = {
            "sec": round(dt, 3),
            "events_per_sec": round(total_events / dt, 1),
            "loadavg_before": load0,
            "loadavg_after": _loadavg(),
            "membw_gbps_after": _membw_gbps(),
            "gc_s_total": round(sum(s["gc_s"] for s in stages), 1),
            "worst_skew": max(
                (s["skew_max_over_median"] or 0 for s in stages), default=None
            ),
        }
        reps.append(rep_row)
        if dt < replay_s:
            replay_s = dt
            best_stages = stages[:8]
        final_rows = table.read().count()
        shutil.rmtree(tbl_dir, ignore_errors=True)
    timings["replay"] = round(replay_s, 3)
    events_per_sec = round(total_events / replay_s, 1)

    # --- the same replay through MERGE-ON-READ (best-of-3: the apply path
    # writes only O(batch) bytes per merge instead of rewriting touched
    # buckets, so it is both faster and less host-sensitive). The fold tax
    # is measured honestly alongside: a full read-back of the final layered
    # state, and a compact() that folds it away.
    mor_reps: list[dict] = []
    mor_s = read_mor_s = compact_s = float("inf")
    for rep in range(min(n_reps, 3)):
        tbl_dir = tempfile.mkdtemp(prefix=f"bench_mor_{rep}_", dir=base)
        shutil.rmtree(tbl_dir)
        table = SnapshotTable.create(
            spark, tbl_dir, TRANSCRIPT_MODEL, schema=src_df.schema,
            n_buckets=n_buckets, write_mode="mor",
        )
        table.merge(
            src_df.withColumn("op", F.lit("insert")), mode="force",
            checkpoint_id="boot", batch_id=0,
        )
        t0 = time.perf_counter()
        replay_batches(table, chg_df, n_batches=n_batches, checkpoint_id="bench")
        dt = time.perf_counter() - t0
        t1 = time.perf_counter()
        n_mor = table.read().count()
        rd = time.perf_counter() - t1
        t2 = time.perf_counter()
        table.compact()
        cp = time.perf_counter() - t2
        assert n_mor == final_rows, (
            f"MoR final state diverged: {n_mor} rows vs CoW {final_rows}"
        )
        mor_reps.append({
            "sec": round(dt, 3),
            "events_per_sec": round(total_events / dt, 1),
            "read_back_sec": round(rd, 3),
            "compact_sec": round(cp, 3),
            "loadavg_after": _loadavg(),
        })
        mor_s = min(mor_s, dt)
        read_mor_s = min(read_mor_s, rd)
        compact_s = min(compact_s, cp)
        shutil.rmtree(tbl_dir, ignore_errors=True)
    timings["replay_mor"] = round(mor_s, 3)
    timings["mor_read_back"] = round(read_mor_s, 3)
    timings["mor_compact"] = round(compact_s, 3)

    # --- headline operators over the driver sf tables (after the replay:
    # the primary metric gets the coolest host window available)
    for t in ("events", "documents", "embeddings"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
    timed("diff_classify", lambda: noop_write(entry_mod._diff_classify(spark, sf_dir)))
    timed("lww_dedup", lambda: noop_write(entry_mod.queries()["lww_dedup"](spark, sf_dir)))
    timed(
        "patch_snapshot",
        lambda: noop_write(
            patch_snapshot(
                entry_mod._src(spark, sf_dir),
                entry_mod._changelog(spark, sf_dir),
                entry_mod.EVENT_MODEL,
            )
        ),
    )
    timed("cosine_topk", lambda: noop_write(entry_mod.queries()["cosine_topk"](spark, sf_dir)))
    timed(
        "quality_score",
        lambda: noop_write(entry_mod.queries()["quality_score"](spark, sf_dir)),
    )
    timed(
        "fingerprint",
        lambda: noop_write(entry_mod.queries()["fingerprint"](spark, sf_dir)),
    )
    timed(
        "sessionize",
        lambda: noop_write(entry_mod.queries()["sessionize"](spark, sf_dir)),
    )
    timed(
        "minhash_pairs",
        lambda: noop_write(entry_mod.queries()["minhash_lsh_pairs"](spark, sf_dir)),
    )
    timed(
        "neardup_dedup",
        lambda: noop_write(entry_mod.queries()["neardup_dedup"](spark, sf_dir)),
    )

    # --- stateful pre-filter (streaming path): MERGE-input reduction on the
    # changelog's HOT-CONVERSATION subset — the documented use case (the
    # filter keeps one winner per key per micro-batch, so it pays off when
    # keys repeat heavily within a batch; on a near-unique-key feed the per-key
    # state overhead LOSES, measured honestly in an earlier revision at 5x
    # wall for a 3x input cut). Correctness (byte-identical final state) is
    # pytest-gated; this measures the input cut + wall both ways.
    from diffsync_spark.streaming.replay import stream_replay

    pf_events = int(os.environ.get("SPARK_GRAFT_BENCH_PREFILTER_EVENTS",
                                   "400000"))
    hot = [
        r.conv_id
        for r in chg_df.groupBy("conv_id").count()
        .orderBy(F.desc("count")).limit(5).collect()
    ]
    dup_chg = chg_df.filter(
        F.col("conv_id").isin(hot) & (F.col("seq") < pf_events * 3)
    )
    pf_dir = tempfile.mkdtemp(prefix="bench_pf_", dir=base)
    dup_chg.repartition(8).write.mode("overwrite").parquet(f"{pf_dir}/chg")
    pf_n = spark.read.parquet(f"{pf_dir}/chg").count()
    pf_schema = spark.read.parquet(f"{pf_dir}/chg").schema
    pf_stats = {}
    for flag, name in ((False, "off"), (True, "on")):
        tb = SnapshotTable.create(
            spark, f"{pf_dir}/tbl_{name}", TRANSCRIPT_MODEL,
            schema=src_df.schema, n_buckets=n_buckets,
        )
        tb.merge(src_df.withColumn("op", F.lit("insert")), mode="force",
                 checkpoint_id="boot", batch_id=0)
        res: list = []
        t0 = time.perf_counter()
        qr = stream_replay(tb, f"{pf_dir}/chg", pf_schema,
                           f"{pf_dir}/ckpt_{name}", max_files_per_trigger=4,
                           stateful_prefilter=flag, results=res)
        qr.awaitTermination(600)
        pf_stats[name] = {
            "sec": round(time.perf_counter() - t0, 3),
            "merge_input": sum(r.get("n_input", 0) for r in res
                               if not r.get("skipped")),
            "feed_events": pf_n,
        }
    shutil.rmtree(pf_dir, ignore_errors=True)
    shutil.rmtree(work, ignore_errors=True)

    result = {
        "metric": "cdc_replay_events_per_sec",
        "value": events_per_sec,
        "unit": "events/sec",
        "queries": timings,
        "sf": sf_dir.rstrip("/").rsplit("sf", 1)[-1],
        "replay_events": total_events,
        "replay_batches": n_batches,
        "replay_reps": reps,
        "replay_best_stages": best_stages,
        "mor_events_per_sec": round(total_events / mor_s, 1),
        "mor_reps": mor_reps,
        "final_rows": final_rows,
        "cpus": cpus,
        "prefilter": {
            **pf_stats,
            "input_reduction": round(
                pf_stats["off"]["merge_input"]
                / max(pf_stats["on"]["merge_input"], 1),
                2,
            ),
        },
        "total_sec": round(sum(timings.values()), 3),
    }
    # Full evidence line first (per-rep loadavg/GC/skew, stage rows), then a
    # COMPACT headline line LAST: the driver captures only the tail of
    # stdout, and r4's single giant line got truncated from the front,
    # losing the replay headline (BENCH_r04.json parsed: null). A short
    # final line survives any tail capture and parses on its own.
    print(json.dumps(result))
    headline = {
        "metric": result["metric"],
        "value": result["value"],
        "unit": result["unit"],
        "sf": result["sf"],
        "cpus": cpus,
        "replay_events": total_events,
        "mor_events_per_sec": result["mor_events_per_sec"],
        "queries": {k: round(v, 2) for k, v in timings.items()},
        "total_sec": result["total_sec"],
    }
    line = json.dumps(headline)
    if len(line) > 1800:  # keep it tail-capture-proof: drop per-query detail
        headline.pop("queries")
        line = json.dumps(headline)
    sys.stdout.flush()
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
