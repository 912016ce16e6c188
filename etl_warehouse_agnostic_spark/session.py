"""SparkSession factory with scale-oriented defaults.

Local mode is a stand-in for a multi-executor cluster: every knob here
(AQE, skew-join handling, Arrow, shuffle-partition sizing) is the one
you would set on a 1000-executor cluster; only ``master`` changes for
``spark-submit`` (see run_ingest.py).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "etl-warehouse-agnostic-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores=None`` honours $SPARK_GRAFT_MASTER / $SPARK_GRAFT_CPUS so the
    same code runs under ``spark-submit --master yarn`` unchanged — the
    builder only supplies ``local[N]`` when no master is configured.
    """
    cores_n = cores or default_parallelism()
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores_n}]")
    if master.startswith("local"):
        # Sandboxed/containered hosts often have a blackhole DNS
        # resolver; a JVM name lookup that misses /etc/hosts then blocks
        # for its full timeout and recurs every cache-TTL — showing up
        # as intermittent multi-second idle stalls mid-job. Pin
        # everything to the loopback and cache resolutions forever.
        os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
        os.environ.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    # One shuffle partition per core by default: in local mode extra
    # partitions only add scheduling overhead; on a real cluster this is
    # overridden upward (see run_ingest.py --shuffle-partitions).
    shuffle_n = shuffle_partitions or cores_n

    # Shuffle/spill dir: prefer tmpfs in this sandbox (the virtual disk
    # has erratic latency that serializes shuffle-heavy stages); on a
    # real cluster this is the executors' local NVMe via SPARK_LOCAL_DIRS.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None:
        local_dir = "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else None

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_n))
        .config("spark.default.parallelism", str(cores_n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # Task-side (v2) output commit: v1 serializes one rename per
        # task output on the driver — a real cost at one-file-per-bucket
        # layouts (and syscalls are expensive under gVisor sandboxes).
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.hadoop.parquet.summary.metadata.level", "NONE")
        .config("spark.shuffle.file.buffer", "1m")
        # Generated-class cache (static conf, keyed by source text).
        # Spark's default holds 100 classes, fewer than one lake epoch
        # with the silver/gold/day-rollup DAG uses: at 100 such an epoch
        # compiled 127-130 classes, all but ~6 of them already compiled
        # by the epoch before; at 1000 it compiles those ~6 (the
        # epoch's inlined literals), with room for several such DAGs.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
    )
    if master.startswith("local"):
        builder = (
            builder.config("spark.driver.host", "127.0.0.1")
            .config("spark.driver.bindAddress", "127.0.0.1")
            .config(
                "spark.driver.extraJavaOptions",
                "-Djava.net.preferIPv4Stack=true -Dsun.net.inetaddr.ttl=-1 "
                "-Dsun.net.inetaddr.negative.ttl=-1",
            )
            # An explicit list of more than 32 parquet paths (a bucket-
            # pruned table read) otherwise lists its files with a Spark
            # job; with driver and executors in one JVM that job only
            # adds scheduling, so list on the driver. Cluster masters
            # keep Spark's parallel listing.
            .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1000000")
        )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
