"""SparkSession factory tuned for this engine.

Local test profile runs ``local[N]``; the settings below are chosen so the
same code scales to a multi-executor cluster: AQE for runtime re-planning
(skew joins, partition coalescing), UTC session timezone (matches the DuckDB
oracle, which is UTC-naive), Arrow for any pandas exchange.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "tantalus_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    # In local mode shuffles are in-process; ~#cores partitions avoids both
    # tiny-task overhead and single-task stragglers. On a real cluster this
    # is overridden per-deployment; AQE coalescing fixes overshoot at runtime.
    shuffle = str(shuffle_partitions or cpus)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # runtime bloom filters prune the probe side of big SMJs before the
        # shuffle — free at local scale, large win on selective fact joins
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # text parquet compresses ~10x, so the default 4 MiB open-cost
        # floor packs a CPU-dense documents scan into 1-2 splits and idles
        # the other cores (measured: 2 -> 12 splits, -25% on winnowing at
        # 10x sf0.1); half-MiB floor keeps small hot tables parallel while
        # real 100 TB files still split by maxPartitionBytes
        .config("spark.sql.files.openCostInBytes", str(512 * 1024))
        # same story post-shuffle: AQE's 1 MiB coalesce floor folds small
        # CPU-heavy window/agg stages onto too few cores
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
                str(256 * 1024))
        # MIN/MAX/COUNT over plain parquet resolve from footer statistics
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # some producers write TIMESTAMP(NANOS) parquet (e.g. pandas); Spark
        # has no nanos timestamp — read as long, loader converts to micros
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
