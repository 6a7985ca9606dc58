"""SparkSession factory with scale-appropriate defaults.

Local mode is for tests/bench only; the same configs are what we'd set on a
real cluster (AQE on, skew-join on, Arrow on, UTC timestamps for oracle
comparability).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    master: str | None = None,
    app_name: str = "diffsync_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a SparkSession tuned for the engine.

    ``shuffle_partitions`` defaults to the local parallelism (cores) in local
    mode — on a real cluster it should be ~2-3x total executor cores and AQE
    coalesces from there.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        if master.startswith("local["):
            inner = master[len("local[") : -1]
            shuffle_partitions = os.cpu_count() if inner == "*" else int(inner)
        else:
            shuffle_partitions = 200
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE SMJ->shuffled-hash conversion: measured -15..25% on the
        # small keyed-join queries at threshold 64m, then measured and
        # REJECTED as a default (r6): the threshold compares COMPRESSED
        # post-shuffle bytes while every concurrent task builds an
        # UNCOMPRESSED UnsafeHashedRelation — a 10^8-event replay batch
        # crashed with cannotAcquireMemoryToBuildUnsafeHashedRelation
        # (32 tasks x a 4-8x expanded 64 MB build side exceeds the
        # execution pool). A threshold below the 64 MB coalescing
        # advisory never fires at all (AQE coalesces partitions up to
        # the advisory first), so there is no value that is both safe
        # and effective here: it stays off (extra_conf can still set it).
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "0"
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # snappy: measured ~2x faster than zstd for the MERGE write path at
        # high task concurrency (zstd-jni contention with 32 writers);
        # storage-optimized tables can opt into zstd via extra_conf
        .config("spark.sql.parquet.compression.codec", "snappy")
        # stable column identity (Iceberg field-id scheme): SnapshotTable
        # writes parquet field ids and reads resolve by id, making column
        # RENAME a metadata-only commit; both are no-ops for id-less data
        .config("spark.sql.parquet.fieldId.write.enabled", "true")
        .config("spark.sql.parquet.fieldId.read.enabled", "true")
        # INT64 micros, not legacy INT96: INT96 carries NO column
        # statistics, which would blind scan()'s per-file ts pruning
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # stream local shuffle blocks instead of mmap: blocks above the
        # default 2m threshold get map0/unmap0'd per read, and the munmap TLB
        # shootdowns convoy at high task concurrency (profiled: 60-77% sys
        # time at local[32] on a steal-prone VM)
        .config("spark.storage.memoryMapThreshold", "1g")
        .config("spark.shuffle.io.memoryMapBytes", "1g")
        .config("spark.files.io.memoryMapBytes", "1g")
        # driver-side file listing for multi-path reads: above this many
        # paths Spark launches a distributed listing JOB whose scheduling
        # overhead (~0.3s) dwarfs serial listing on a local/fast FS
        # (measured 0.38s -> 0.05s building an 84-file relation — every
        # manifest-pruned MERGE/read builds one from its exact file list).
        # The crossover depends on per-stat latency, not data size: keep
        # the default (32) via the env knob on high-latency object stores
        # where a 10k-file listing wants the parallel job.
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            os.environ.get("SPARK_GRAFT_PAR_DISCOVERY_THRESHOLD", "1024"),
        )
        # always use the serialized sort shuffle: the bypass-merge writer
        # opens (map tasks x reduce partitions) files per shuffle, and the
        # create/close syscall storm serializes at high task concurrency
        # (measured 3x slower at local[32] on 4M-row batches)
        .config("spark.shuffle.sort.bypassMergeThreshold", "1")
        .config("spark.ui.enabled", "false")
        # moderate heap + capped GC threads: profiled at local[32], a 64g G1
        # heap spent 927s in GC on a 4M-event merge (task threads + ~23 GC
        # threads oversubscribe the VM); 16g + 8 GC threads cut the same
        # replay 249s → 12.6s. On a real cluster each executor JVM is small
        # and G1 defaults are fine — this tuning is for fat local JVMs.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_GRAFT_JAVA_OPTS",
                "-XX:ParallelGCThreads=8 -XX:ConcGCThreads=2",
            ),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try:
        # make format("diffsync_table") work out of the box on our sessions
        from diffsync_spark.sources.datasource import TableDataSource
        spark.dataSource.register(TableDataSource)
    except (ImportError, AttributeError):
        pass  # a pyspark without the Python DataSource API — narrow catch:
        # any OTHER registration failure should surface, not turn into a
        # mystery DATA_SOURCE_NOT_FOUND later
    return spark
