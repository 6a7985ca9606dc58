"""Rows x width sweep of the merge-on-read append's two writers below the
size budget.

A merge-on-read LWW append whose batch fits one partition once decoded
(``SnapshotTable._fits_one_partition`` with ``decoded=True``) is written
on the driver (one ``toArrow()`` collect, pyarrow files); any other batch
takes the shuffled Spark write. This script times both writers on the same
staged batches, over a grid of batch rows and text widths, up to the
budget:

    python scripts/append_regime_sweep.py --cpus 4 --out sweep.json

For each (rows, width) it stages one parquet changelog batch (updates of
existing keys, 10% deletes, 30% of events on 5 hot conversations), reads
it back as a file-backed frame, and runs ``--reps`` timed appends on each
of two merge-on-read tables, alternating which goes first, after one
untimed append each. The shuffled side runs with
``spark.sql.maxSinglePartitionBytes=0``, so no batch fits one partition.
It prints one JSON line per point: the batch's optimizer size estimate,
its decoded estimate, whether it fits, and the median seconds of each
writer.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_CDC = ("conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp, op string, seq long")


def _stage(path: str, rows: int, width: int, n_convs: int, seed: int):
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    hot = rng.random(rows) < 0.3
    conv = np.where(hot, rng.integers(0, 5, rows),
                    rng.integers(0, n_convs, rows))
    turn = rng.integers(0, 20, rows).astype("int32")
    alphabet = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz0123456789", "u1")
    text = alphabet[rng.integers(0, len(alphabet), rows * width)]
    text = text.view(f"S{width}").astype(str)
    ts = (np.datetime64("2030-01-01", "us")
          + rng.integers(0, 10**9, rows).astype("timedelta64[us]"))
    op = np.where(rng.random(rows) < 0.1, "delete", "update")
    tbl = pa.table({
        "conv_id": pa.array([f"c{c}" for c in conv]),
        "turn_idx": pa.array(turn),
        "role": pa.array(["user"] * rows),
        "text": pa.array(text),
        "tool": pa.nulls(rows, pa.string()),
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "op": pa.array(op),
        "seq": pa.array(np.arange(seed * 10**7, seed * 10**7 + rows)),
    })
    pq.write_table(tbl, path)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--cpus", type=int, default=4)
    ap.add_argument("--rows", type=int, nargs="+",
                    default=[1_000, 5_000, 10_000, 50_000, 70_000, 200_000])
    ap.add_argument("--widths", type=int, nargs="+", default=[16, 160, 1600])
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--out")
    a = ap.parse_args()

    from pyspark.sql import functions as F

    from diffsync_spark import build_session
    from diffsync_spark.model import TRANSCRIPT_MODEL
    from diffsync_spark.sinks.table import SnapshotTable, _decoded_bytes

    spark = build_session(master=f"local[{a.cpus}]",
                          shuffle_partitions=a.cpus)
    work = tempfile.mkdtemp(prefix="append_sweep_")
    n_convs = 500
    boot = spark.createDataFrame(
        [(f"c{c}", t, "user", "boot", None, None, "insert", 0)
         for c in range(n_convs) for t in range(20)], _CDC,
    ).withColumn("ts", F.lit("2029-01-01").cast("timestamp"))
    tables = {}
    for side in ("driver", "shuffle"):
        t = SnapshotTable.create(
            spark, os.path.join(work, side), TRANSCRIPT_MODEL,
            schema=boot.drop("op", "seq").schema, n_buckets=4,
            write_mode="mor")
        t.merge(boot, mode="force", checkpoint_id="boot", batch_id=0)
        tables[side] = t
    key = "spark.sql.maxSinglePartitionBytes"
    budget = spark.conf.get(key)
    points = []
    seed = 1
    try:
        for width in a.widths:
            for rows in a.rows:
                path = os.path.join(work, f"b{rows}x{width}.parquet")
                _stage(path, rows, width, n_convs, seed)
                batch = spark.read.schema(_CDC).parquet(path)
                est = (batch._jdf.queryExecution().optimizedPlan().stats()
                       .sizeInBytes())
                fits = tables["driver"]._fits_one_partition(batch,
                                                            decoded=True)
                point = {"rows": rows, "width": width,
                         "est_bytes": int(str(est)),
                         "decoded_bytes": _decoded_bytes(batch),
                         "fits": fits}
                if fits:
                    times: dict[str, list] = {"driver": [], "shuffle": []}
                    for rep in range(a.reps + 1):
                        order = (("driver", "shuffle") if rep % 2 == 0
                                 else ("shuffle", "driver"))
                        for side in order:
                            spark.conf.set(
                                key, budget if side == "driver" else "0")
                            seed += 1
                            t0 = time.perf_counter()
                            res = tables[side].merge(
                                batch, checkpoint_id="sweep", batch_id=seed)
                            dt = time.perf_counter() - t0
                            point.setdefault(f"{side}_regime",
                                             res["write_regime"])
                            if rep:
                                times[side].append(dt)
                    spark.conf.set(key, budget)
                    for side, xs in times.items():
                        point[f"{side}_s"] = round(statistics.median(xs), 4)
                    point["shuffle_over_driver"] = round(
                        point["shuffle_s"] / point["driver_s"], 2)
                points.append(point)
                print(json.dumps(point), flush=True)
                if not fits:
                    break  # larger batches at this width do not fit either
    finally:
        spark.conf.set(key, budget)
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"cpus": a.cpus, "reps": a.reps, "points": points}, f,
                      indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
