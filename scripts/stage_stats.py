"""Per-stage evidence for BENCH/BASELINE.md: runs one CDC replay at the
given parallelism and dumps the dominant stages with task-time quantiles
(skew = max/median) and shuffle bytes, via Spark's REST API.

Usage: python scripts/stage_stats.py [cpus] [events] [batches] [convs]

Also the harness for the order-of-magnitude evidence point
(BENCH/scaling_1e8.json): `python scripts/stage_stats.py 32 100000000 4
200000` replays 1e8 events in 4 sustained batches over a 200k-conversation
keyspace.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from diffsync_spark import build_session, fixtures  # noqa: E402
from diffsync_spark.model import TRANSCRIPT_MODEL  # noqa: E402
from diffsync_spark.sinks.table import SnapshotTable  # noqa: E402
from diffsync_spark.stage_metrics import stage_rows  # noqa: E402
from diffsync_spark.streaming.replay import replay_batches  # noqa: E402


def main() -> None:
    cpus = int(sys.argv[1]) if len(sys.argv) > 1 else 32
    n_events = int(sys.argv[2]) if len(sys.argv) > 2 else 8_000_000
    n_batches = int(sys.argv[3]) if len(sys.argv) > 3 else 1
    n_convs = int(sys.argv[4]) if len(sys.argv) > 4 else 8000
    work = f"/dev/shm/stage_stats_{cpus}"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = build_session(
        master=f"local[{cpus}]", shuffle_partitions=cpus,
        extra_conf={"spark.local.dir": f"{work}/tmp",
                    "spark.ui.enabled": "true"},
    )
    src = fixtures.gen_source_spark(spark, n_convs=n_convs, turns_per_conv=20,
                                    text_bytes=256)
    chg = fixtures.gen_changelog_spark(spark, n_events, n_convs=n_convs,
                                       turns_per_conv=20, text_bytes=256)
    src.repartition(cpus).write.mode("overwrite").parquet(f"{work}/src")
    chg.repartition(max(64, n_events // 1_000_000)).write.mode(
        "overwrite").parquet(f"{work}/chg")
    src_df = spark.read.parquet(f"{work}/src")
    chg_df = spark.read.parquet(f"{work}/chg")
    table = SnapshotTable.create(spark, f"{work}/tbl", TRANSCRIPT_MODEL,
                                 schema=src_df.schema, n_buckets=64)
    table.merge(src_df.withColumn("op", F.lit("insert")), mode="force",
                checkpoint_id="boot", batch_id=0)
    t0 = time.perf_counter()
    replay_batches(table, chg_df, n_batches=n_batches, checkpoint_id="stats")
    dt = time.perf_counter() - t0

    rows = stage_rows(spark, min_run_ms=2000)
    print(json.dumps({
        "cpus": cpus, "events": n_events, "batches": n_batches,
        "convs": n_convs,
        "replay_seconds": round(dt, 2),
        "events_per_sec": round(n_events / dt, 1),
        "stages": rows[:8],
    }, indent=2))
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
