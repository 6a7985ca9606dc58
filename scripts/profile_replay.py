"""Profile the CDC replay path (bench.py's primary metric) with per-stage
REST metrics and per-phase wall timings, at a configurable event count.

Usage: python scripts/profile_replay.py [n_events] [mor|cow]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from diffsync_spark.stage_metrics import max_stage_id, stage_rows  # noqa: E402


def main() -> None:
    n_events = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
    write_mode = sys.argv[2] if len(sys.argv) > 2 else "cow"
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from diffsync_spark import build_session, fixtures
    from diffsync_spark.model import TRANSCRIPT_MODEL
    from diffsync_spark.sinks.table import SnapshotTable
    from diffsync_spark.streaming.replay import replay_batches

    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    work = tempfile.mkdtemp(prefix="profile_replay_", dir=base)
    spark = build_session(
        master=f"local[{cpus}]", app_name="profile_replay",
        shuffle_partitions=cpus,
        extra_conf={"spark.local.dir": f"{work}/sparktmp",
                    "spark.ui.enabled": "true",
                    "spark.ui.showConsoleProgress": "false"},
    )
    spark.range(0, 50_000_000, 1, cpus).select(
        F.sum(F.pmod(F.xxhash64("id"), F.lit(1000)))).collect()

    n_convs = 8000
    src_raw = fixtures.gen_source_spark(spark, n_convs=n_convs,
                                        turns_per_conv=20, text_bytes=256)
    chg_raw = fixtures.gen_changelog_spark(spark, n_events, n_convs=n_convs,
                                           turns_per_conv=20, text_bytes=256)
    src_raw.repartition(cpus).write.mode("overwrite").parquet(f"{work}/src")
    chg_raw.repartition(max(cpus, 64)).write.mode("overwrite").parquet(f"{work}/chg")
    src_df = spark.read.parquet(f"{work}/src")
    chg_df = spark.read.parquet(f"{work}/chg")
    total = chg_df.count()

    best = float("inf")
    best_stages = []
    best_boot = float("inf")
    for rep in range(3):
        tbl_dir = tempfile.mkdtemp(prefix=f"ptbl_{rep}_", dir=base)
        shutil.rmtree(tbl_dir)
        kw = {"write_mode": "mor"} if write_mode == "mor" else {}
        table = SnapshotTable.create(
            spark, tbl_dir, TRANSCRIPT_MODEL, schema=src_df.schema,
            n_buckets=64, **kw,
        )
        tb0 = time.perf_counter()
        spark.sparkContext.setJobDescription("bootstrap")
        table.merge(src_df.withColumn("op", F.lit("insert")), mode="force",
                    checkpoint_id="boot", batch_id=0)
        boot_s = time.perf_counter() - tb0
        best_boot = min(best_boot, boot_s)
        first = max_stage_id(spark)
        spark.sparkContext.setJobDescription("replay")
        t0 = time.perf_counter()
        replay_batches(table, chg_df, n_batches=2, checkpoint_id="bench")
        dt = time.perf_counter() - t0
        if dt < best:
            best = dt
            best_stages = stage_rows(spark, first, min_run_ms=100)
        print(f"rep{rep}: boot={boot_s:.2f}s replay={dt:.3f}s "
              f"({total / dt:,.0f} ev/s)", flush=True)
        shutil.rmtree(tbl_dir, ignore_errors=True)
    out = {"mode": write_mode, "n_events": total, "replay_s": round(best, 3),
           "boot_s": round(best_boot, 3),
           "events_per_sec": round(total / best, 1), "stages": best_stages}
    print(json.dumps(out, indent=1))
    with open(f"/tmp/profile_replay_{write_mode}.json", "w") as f:
        json.dump(out, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
