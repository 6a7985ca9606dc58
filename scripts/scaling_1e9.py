"""10^9-event sustained CDC replay evidence (BENCH/scaling_1e9.json):
one order of magnitude past scaling_1e8 — 10 sustained batches of 1e8
events over a 2M-conversation keyspace, CoW and MoR both, dominant stage
rows embedded via the REST API.

Layout: the pre-generated changelog parquet (~37 GB) lives on /dev/shm;
each replay runs in a FRESH subprocess JVM with spark.local.dir on disk
(shuffle across 10 batches would exhaust shm). Run on a quiet host.

Usage: python scripts/scaling_1e9.py [--events 1000000000] [--batches 10]
                                     [--convs 2000000] [--modes cow,mor]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

RUNNER = r"""
import json, os, shutil, sys, time
from pyspark.sql import functions as F
from diffsync_spark import build_session
from diffsync_spark.model import TRANSCRIPT_MODEL
from diffsync_spark.sinks.table import SnapshotTable
from diffsync_spark.stage_metrics import stage_rows
from diffsync_spark.streaming.replay import replay_batches

cpus, src_path, chg_path, n_batches, mode, local_dir = (
    int(sys.argv[1]), sys.argv[2], sys.argv[3], int(sys.argv[4]),
    sys.argv[5], sys.argv[6],
)
spark = build_session(
    master=f"local[{cpus}]", shuffle_partitions=cpus,
    app_name=f"scale1e9_{mode}",
    extra_conf={"spark.local.dir": local_dir, "spark.ui.enabled": "true"},
)
src_df = spark.read.parquet(src_path)
chg_df = spark.read.parquet(chg_path)
tbl = os.path.join(local_dir, "tbl")
table = SnapshotTable.create(spark, tbl, TRANSCRIPT_MODEL,
                             schema=src_df.schema, n_buckets=64,
                             write_mode=mode)
table.merge(src_df.withColumn("op", F.lit("insert")), mode="force",
            checkpoint_id="boot", batch_id=0)
n_events = chg_df.count()
t0 = time.perf_counter()
replay_batches(table, chg_df, n_batches=n_batches, checkpoint_id="s9")
dt = time.perf_counter() - t0
rows = table.read().count()
srows = stage_rows(spark, min_run_ms=30000)
print("RESULT " + json.dumps({
    "write_mode": mode, "cpus": cpus, "events": n_events,
    "batches": n_batches, "replay_seconds": round(dt, 2),
    "events_per_sec": round(n_events / dt, 1), "final_rows": rows,
    "loadavg_after": round(os.getloadavg()[0], 1),
    "stages": srows[:8],
}))
spark.stop()
"""


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", type=int, default=1_000_000_000)
    ap.add_argument("--batches", type=int, default=10)
    ap.add_argument("--convs", type=int, default=2_000_000)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--modes", default="cow,mor")
    ap.add_argument("--input", default=None,
                    help="reuse a pre-generated <dir>/{src,chg} (skips the "
                         "~30 min generation pass; dir is kept afterwards)")
    args = ap.parse_args()
    env = {**os.environ, "PYTHONPATH": REPO}

    if args.input:
        work, owns_work = args.input, False
    else:
        shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
        work, owns_work = tempfile.mkdtemp(prefix="scale1e9_in_", dir=shm), True
    gen = f"""
import shutil
from diffsync_spark import build_session, fixtures
spark = build_session(master="local[32]", shuffle_partitions=64,
                      app_name="gen1e9",
                      extra_conf={{"spark.local.dir": "/tmp/gen1e9_tmp"}})
src = fixtures.gen_source_spark(spark, n_convs={args.convs},
                                turns_per_conv=20, text_bytes=256)
chg = fixtures.gen_changelog_spark(spark, {args.events}, n_convs={args.convs},
                                   turns_per_conv=20, text_bytes=256)
src.repartition(64).write.mode("overwrite").parquet("{work}/src")
# NO repartition: spark.range's native partitioning is already uniform,
# and a 1e9-row shuffle (~hundreds of GB raw) would exhaust local disk;
# readers re-split parquet by maxPartitionBytes anyway
chg.write.mode("overwrite").parquet("{work}/chg")
spark.stop()
shutil.rmtree("/tmp/gen1e9_tmp", ignore_errors=True)
"""
    if owns_work:
        print("generating input...", file=sys.stderr)
        subprocess.run([sys.executable, "-c", gen], check=True, env=env)

    results = []
    for mode in args.modes.split(","):
        local_dir = f"/tmp/scale1e9_{mode}"
        shutil.rmtree(local_dir, ignore_errors=True)
        os.makedirs(local_dir)
        print(f"replaying {args.events} events, mode={mode}...",
              file=sys.stderr)
        out = subprocess.run(
            [sys.executable, "-c", RUNNER, str(args.cpus), f"{work}/src",
             f"{work}/chg", str(args.batches), mode, local_dir],
            env=env, capture_output=True, text=True,
        )
        if out.returncode != 0:
            sys.stderr.write(out.stderr[-8000:])
            raise SystemExit(f"replay mode={mode} failed "
                             f"(rc={out.returncode})")
        line = [ln for ln in out.stdout.splitlines()
                if ln.startswith("RESULT ")][-1]
        results.append(json.loads(line[len("RESULT "):]))
        shutil.rmtree(local_dir, ignore_errors=True)
        summary = {
            "metric": "sustained_1e9_event_replay",
            "convs": args.convs,
            "text_bytes": 256,
            "runs": results,
        }
        os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
        with open(os.path.join(REPO, "BENCH", "scaling_1e9.json"), "w") as f:
            json.dump(summary, f, indent=1)
    if owns_work:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps([{k: r[k] for k in ("write_mode", "events_per_sec",
                                         "replay_seconds", "final_rows")}
                      for r in results]))


if __name__ == "__main__":
    main()
