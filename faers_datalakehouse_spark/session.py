"""SparkSession factory.

Parity: the reference configures AQE + partition coalescing + skew-join on its
job clusters (reference ``resources/jobs/faers_pipeline.yml:14-19``) and relies
entirely on Catalyst for optimization. We set the same knobs on a plain OSS
``SparkSession`` plus the local-mode essentials (shuffle partitions ~= cores,
UTC session timezone so results are oracle-comparable, Arrow enabled for the
Pandas-UDF paths).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# Driver heap default: half the host's physical memory, capped at 48g (a
# fixed 48g let one local-mode JVM outgrow a 16 GB host's RAM and be
# OOM-killed). SPARK_GRAFT_DRIVER_MEM overrides it per deployment.
_RAM_MB = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
DEFAULT_DRIVER_MEM = f"{min(48 * 1024, _RAM_MB // 2)}m"


def get_spark(
    app_name: str = "faers_datalakehouse_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession tuned for this engine.

    On a real cluster the same confs apply; only ``master`` changes. AQE
    re-plans shuffles at runtime (coalesces tiny post-shuffle partitions,
    splits skewed join partitions), so ``shuffle_partitions`` is an upper
    bound, not a promise.
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", DEFAULT_DRIVER_MEM),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # The testdata's events.ts is parquet TIMESTAMP(NANOS) which Spark
        # has no native type for; read as LONG nanos and convert at the
        # source wrapper (sources.tables.read_events).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
