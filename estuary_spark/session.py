"""SparkSession factory tuned for the CDC merge-apply workload.

Local-mode testing (``local[N]``) with settings that also make sense on a
multi-executor cluster: AQE on (runtime coalesce + skew-join splitting),
Arrow transport for pandas UDFs, UTC session time zone for deterministic
timestamp semantics.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Every LakeTable scan passes the manifest's file paths to
# ``spark.read.parquet``. Above 32 paths Spark lists them with a Spark job,
# one task per path whatever the file sizes. Building a read over 96 files
# on a 4-core local session took 705 ms that way and 71 ms with the driver
# listing them; over 3,840 files, 13.9 s against 0.62 s. Raising the
# threshold keeps every table read, hence the MoR lineage fold and
# compaction, free of that per-batch listing job.
LISTING_THRESHOLD = ("spark.sql.sources.parallelPartitionDiscovery.threshold", "1000000")


def get_spark(
    app_name: str = "estuary_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores`` defaults to ``$SPARK_GRAFT_CPUS`` or all local cores. On a
    real cluster the ``master`` is supplied by spark-submit and the
    ``local[N]`` default is ignored.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        # one shuffle partition per core locally; on a cluster this should
        # be ~2-3x total executor cores (set via extra_conf / submit conf)
        shuffle_partitions = cores

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("ESTUARY_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config(*LISTING_THRESHOLD)
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def submit_session(app_name: str) -> SparkSession:
    """The session of a spark-submit job: master and conf come from the
    launcher, and ``LISTING_THRESHOLD`` applies unless the launcher sets
    that key itself."""
    spark = SparkSession.builder.appName(app_name).getOrCreate()
    key, value = LISTING_THRESHOLD
    if not spark.sparkContext.getConf().contains(key):
        spark.conf.set(key, value)
    spark.sparkContext.setLogLevel("WARN")
    return spark
