"""Per-stage isolation bench (guide §1.4): times each headline query with the
noop sink, plus SUB-STAGE timings for the expensive pipelines (minhash, the
verify join, neardup components) so optimization targets the dominant stage,
not the query label. Does NOT replace bench.py (frozen for measurement); cite
these numbers in OPTIMIZATION_r06.md.

Usage: python bench_extra.py [sf_dir] [--reps N] [--only name1,name2]
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import functions as F

from diffsync_spark.stage_metrics import max_stage_id, stage_rows


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and not sys.argv[1].startswith("--") \
        else os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = 3
    only = None
    for i, a in enumerate(sys.argv):
        if a == "--reps":
            reps = int(sys.argv[i + 1])
        if a == "--only":
            only = set(sys.argv[i + 1].split(","))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from diffsync_spark import build_session
    import __spark_entry__ as entry_mod

    spark = build_session(
        master=f"local[{cpus}]", app_name="bench_extra",
        shuffle_partitions=cpus,
        extra_conf={"spark.ui.enabled": "true",
                    "spark.ui.showConsoleProgress": "false"},
    )
    # warmup
    spark.range(0, 50_000_000, 1, cpus).select(
        F.sum(F.pmod(F.xxhash64("id"), F.lit(1000)))).collect()
    for t in ("events", "documents", "embeddings"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").count()

    q = entry_mod.queries()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    # --- sub-stage frames of the minhash pipeline
    from diffsync_spark.functions.dedup import (
        minhash_signature_frame, minhash_lsh_pairs, shingles_col,
        _verify_jaccard, neardup_components,
    )
    from pyspark.sql import Window

    def mh_sig(spark, sf):
        return minhash_signature_frame(docs)

    def mh_shingle_explode(spark, sf):
        from diffsync_spark.functions.dedup import _spread_small_input
        return _spread_small_input(docs).select(
            F.col("doc_id").alias("id"),
            F.explode(shingles_col(F.col("text"), 3)).alias("__s"),
        )

    def mh_cand(spark, sf):
        sig = minhash_signature_frame(docs)
        r = 4
        banded = sig.select(
            "id",
            F.explode(F.array(*[
                F.struct(F.lit(b).alias("band"),
                         F.hash(*[F.col(f"__m{b * r + j}") for j in range(r)]).alias("bh"))
                for b in range(16)
            ])).alias("bb"),
        ).select("id", "bb.band", "bb.bh")
        wb = Window.partitionBy("band", "bh")
        banded = banded.withColumn("__bsz", F.count("*").over(wb)).filter(
            F.col("__bsz") <= 10_000).drop("__bsz")
        return (banded.alias("a").join(banded.alias("b"), ["band", "bh"])
                .filter(F.col("a.id") < F.col("b.id"))
                .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
                .dropDuplicates(["id_a", "id_b"]))

    targets: dict = {
        "mh_shingle_explode": mh_shingle_explode,
        "mh_sig": mh_sig,
        "mh_cand": mh_cand,
        "minhash_pairs": lambda s, sf: q["minhash_lsh_pairs"](s, sf),
        "neardup_dedup": lambda s, sf: q["neardup_dedup"](s, sf),
        "diff_classify": lambda s, sf: entry_mod._diff_classify(s, sf),
        "lww_dedup": lambda s, sf: q["lww_dedup"](s, sf),
        "cosine_topk": lambda s, sf: q["cosine_topk"](s, sf),
        "quality_score": lambda s, sf: q["quality_score"](s, sf),
        "fingerprint": lambda s, sf: q["fingerprint"](s, sf),
        "sessionize": lambda s, sf: q["sessionize"](s, sf),
    }
    from diffsync_spark.plans.threeway import patch_snapshot
    targets["patch_snapshot"] = lambda s, sf: patch_snapshot(
        entry_mod._src(s, sf), entry_mod._changelog(s, sf), entry_mod.EVENT_MODEL)

    out: dict = {"sf_dir": sf_dir, "cpus": cpus, "timings": {}, "stages": {}}
    for name, fn in targets.items():
        if only and name not in only:
            continue
        best = float("inf")
        for rep in range(reps):
            first = max_stage_id(spark)
            spark.sparkContext.setJobDescription(f"{name} rep{rep}")
            t0 = time.perf_counter()
            noop(fn(spark, sf_dir))
            dt = time.perf_counter() - t0
            if dt < best:
                best = dt
                out["stages"][name] = stage_rows(
                    spark, first, min_run_ms=200)[:6]
        out["timings"][name] = round(best, 3)
        print(f"{name}: {best:.3f}s", flush=True)
    spark.sparkContext.setJobDescription(None)
    print(json.dumps(out))
    with open("/tmp/bench_extra_last.json", "w") as f:
        json.dump(out, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
