"""Measure per-commit metadata bytes as a table accumulates commits, at a
FIXED batch size — the scale claim behind incremental manifests: commit
metadata must be O(touched buckets), flat in table size, where the round-4
monolithic manifest grew O(total live files) per commit.

For each commit we record:
- ``manifest_bytes``: the snapshot manifest actually written (refs, counts)
- ``bm_bytes``: this commit's new bucket-manifest file (its touched buckets)
- ``monolithic_bytes``: what the r4 scheme would have written — the fully
  inlined file listing (reconstructed from the hydrated manifest)

Writes BENCH/manifest_incremental.json. Usage:
    python scripts/manifest_bytes.py [n_commits] [n_buckets] [batch_rows]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

from pyspark.sql import functions as F

from diffsync_spark import build_session
from diffsync_spark.fixtures import gen_source
from diffsync_spark.model import TRANSCRIPT_MODEL
from diffsync_spark.sinks.table import SnapshotTable


def main() -> None:
    n_commits = int(sys.argv[1]) if len(sys.argv) > 1 else 40
    n_buckets = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    batch_rows = int(sys.argv[3]) if len(sys.argv) > 3 else 2000
    spark = build_session(master="local[8]", shuffle_partitions=16)
    root = tempfile.mkdtemp(prefix="manifest_bytes_")
    path = os.path.join(root, "t")
    # the 100 TB shape: a WIDE table (every bucket holds files) taking
    # NARROW commits (a hot-conversation trickle touching a handful of
    # buckets). The monolithic r4 manifest re-serialized every bucket's
    # file list per commit; the incremental one writes only the touched
    # buckets' segment plus O(n_buckets) refs.
    base = spark.createDataFrame(gen_source(n_convs=batch_rows, seed=1))
    t = SnapshotTable.create(spark, path, TRANSCRIPT_MODEL,
                             schema=base.schema, n_buckets=n_buckets)
    t.merge(base.withColumn("op", F.lit("insert")), mode="force",
            checkpoint_id="mb", batch_id=0)
    narrow = spark.createDataFrame(gen_source(n_convs=4, seed=2))
    rows = []
    for i in range(n_commits):
        batch = (
            narrow
            .withColumn("text", F.concat(F.col("text"), F.lit(f" u{i}")))
            .withColumn("ts", F.expr(f"ts + interval {i + 1} hour"))
            .withColumn("op", F.lit("upsert"))
        )
        t.merge(batch, checkpoint_id="mb", batch_id=i + 1)
        v = t.current_version()
        stored = t.stored_manifest(v)
        manifest_bytes = len(json.dumps(stored))
        bm_bytes = 0
        for fname in {
            r.split("#", 1)[0]
            for r in stored["files"].values()
            if f"v{v}-" in r
        }:
            bm_bytes += len(t.io.read_text(os.path.join(t._bm_dir, fname)))
        man = t.manifest(v)  # hydrated: reconstruct the r4 monolith
        mono = {k: val for k, val in man.items() if not k.startswith("_")}
        monolithic_bytes = len(json.dumps(mono, default=str))
        n_files = sum(len(fl) for fl in man["files"].values())
        rows.append({
            "commit": i + 1,
            "live_files": n_files,
            "manifest_bytes": manifest_bytes,
            "bm_bytes": bm_bytes,
            "commit_metadata_bytes": manifest_bytes + bm_bytes,
            "monolithic_bytes": monolithic_bytes,
        })
        if (i + 1) % 10 == 0:
            print(f"commit {i + 1}: incr={manifest_bytes + bm_bytes}B "
                  f"mono={monolithic_bytes}B files={n_files}",
                  file=sys.stderr)
    spark.stop()
    shutil.rmtree(root, ignore_errors=True)
    head, tail = rows[4], rows[-1]
    out = {
        "metric": "commit_metadata_bytes_vs_table_size",
        "n_commits": n_commits,
        "n_buckets": n_buckets,
        "batch_rows_approx": batch_rows,
        "incremental_growth": round(
            tail["commit_metadata_bytes"] / head["commit_metadata_bytes"], 3),
        "monolithic_growth": round(
            tail["monolithic_bytes"] / head["monolithic_bytes"], 3),
        "final_ratio_mono_over_incr": round(
            tail["monolithic_bytes"] / tail["commit_metadata_bytes"], 2),
        "rows": rows,
    }
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/manifest_incremental.json", "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({k: v for k, v in out.items() if k != "rows"}))


if __name__ == "__main__":
    main()
