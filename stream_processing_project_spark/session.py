"""SparkSession factory.

Replaces the reference's hand-built Flink StreamExecutionEnvironment
(reference: flink-scala/.../EngagementProcessor.scala:150-152 — global
parallelism 12, 30 s checkpoints). Here parallelism is data-driven:
shuffle partitions sized to cores locally, AQE re-plans at runtime
(coalesce + skew-join + broadcast conversion), so the same code scales
from local[32] to a 1000-executor cluster without re-tuning.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def cpu_count() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def default_sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark(
    app_name: str = "stream-processing-project-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    - AQE on: runtime partition coalescing, skew-join splitting, and
      sort-merge→broadcast conversion. On a real cluster this is the
      lever that keeps the plan healthy at 100 TB.
    - shuffle.partitions ~ cores locally; on a cluster AQE's advisory
      target size takes over, so this is a floor not a schedule.
    - Session timezone pinned UTC so results hash-match the DuckDB
      oracle (DuckDB timestamps are UTC-naive).
    - Arrow on: Pandas-UDF batches and createDataFrame go through Arrow.
    """
    cpus = cpu_count()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # compat shim for fixture vintages that stored TIMESTAMP(NANOS):
        # read as long, the loader converts to micros (sources/fixtures.py);
        # current fixtures use TIMESTAMP(MICROS) and ignore this
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # fixture timestamps are naive (isAdjustedToUTC=false); load them
        # as TIMESTAMP in the UTC session, not TIMESTAMP_NTZ, so time
        # functions (unix_millis, window, to_utc_timestamp) apply and the
        # wall-clock values hash-match DuckDB's naive timestamps
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        # Generated classes live in one LRU cache per JVM (a static conf,
        # Spark's default 100 entries). Working sets: 136 classes for the
        # 11 olap_joins bench queries, ~495-555 for the 35 bench-tagged
        # queries (sf0.1, local[4]). At 100 every steady-state olap_joins
        # pass recompiled 72-79 of them with Janino and ran the fresh
        # classes interpreted until the JIT caught up again (task CPU
        # 6.8 s vs 4.3 s per traced pass); 1000 covers both sets with
        # headroom and costs no Metaspace (~156 MiB either way). Each
        # executor JVM has its own cache, so cluster sessions want the
        # same size.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    if master is None and not os.environ.get("SPARK_MASTER"):
        master = f"local[{cpus}]"
    if master is not None:
        builder = builder.master(master)
    if master is not None and master.startswith("local"):
        # Streaming checkpoints (offset/commit logs, the file-source log,
        # state-store delta and snapshot files) are written temp-then-
        # rename. The default FileContext manager's rename calls
        # getFileLinkStatus, which without the native Hadoop library
        # forks `readlink` once per rename (and `chmod` on create): on
        # stream_paced (4 cores) state commit took ~400 ms p50 per batch
        # and walCommit/commitOffsets/latestOffset 35-45 ms each. The
        # FileSystem manager renames a local path with File.renameTo,
        # the same atomic rename(2), and writes the same files, checksums
        # and .crc files included: state commit 21.5 ms, the logs ~10 ms.
        # Cluster sessions keep the FileContext default: their file
        # systems' rename is not rename(2).
        builder = builder.config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing"
            ".FileSystemBasedCheckpointFileManager",
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# Streaming state-store scale path: the default HDFS-backed provider
# keeps every key in executor heap — fine for low-cardinality window
# keys, fatal for billions of dedup/session keys. RocksDB spills state
# to local disk with incremental checkpointing; pass to get_spark
# (extra_conf=ROCKSDB_STATE_CONF) when key cardinality is the risk.
ROCKSDB_STATE_CONF = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state"
        ".RocksDBStateStoreProvider"
    ),
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
}


def cluster_conf(
    executors: int = 1000,
    cores_per_executor: int = 4,
    target_partition_mb: int = 128,
) -> dict[str, str]:
    """Config preset for the real target: a multi-executor cluster over
    ~100 TB. Locally the defaults in get_spark suffice; on a cluster
    pass `extra_conf=cluster_conf(...)`. Every value is a documented
    consequence of the scale math, not a magic number:

    - shuffle.partitions ≈ 2× total cores — enough tasks to keep every
      core busy through stragglers; AQE coalesces small ones back
      together, so oversizing is cheap and undersizing is not.
    - advisoryPartitionSizeInBytes / maxPartitionBytes pin both shuffle
      and scan partitions near target_partition_mb — large enough to
      amortize task overhead, small enough to fit comfortably in an
      executor core's memory share with room for hash tables.
    - autoBroadcastJoinThreshold stays at the 10 MB default: dimensions
      (nation/region/content) broadcast, anything fact-sized must not —
      raising it on a cluster risks driver OOM fan-out, the single most
      common self-inflicted large-cluster failure.
    - Bloom-filter join pruning on: a selective dim filter seeds a
      runtime bloom filter on the fact scan (pinned by
      tests/test_plan_properties.py at lowered thresholds).
    - RocksDB state store for streaming: billions of dedup/session keys
      live on local disk with changelog checkpointing, not executor
      heap (ROCKSDB_STATE_CONF).
    """
    total_cores = executors * cores_per_executor
    mb = 1024 * 1024
    return {
        "spark.sql.shuffle.partitions": str(2 * total_cores),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(
            target_partition_mb * mb
        ),
        "spark.sql.files.maxPartitionBytes": str(target_partition_mb * mb),
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        **ROCKSDB_STATE_CONF,
    }
