"""SparkSession builder tuned for this engine.

Local testing runs on ``local[N]``; the same conf block is what we'd
ship on a 1000-executor cluster: AQE handles runtime re-planning and
skew joins, Arrow makes the pandas-UDF paths (full bookkeeper engine)
batch-transfer instead of row-at-a-time.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "tradesignal-mtm-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Pin the session tz so NTZ->LTZ timestamp normalization in the
        # loaders is host-independent and epoch-identical to DuckDB.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # local-mode executors share the driver JVM, so this heap serves
        # all `cpus` worker threads at once; 8g was exhausted by the
        # 62-key sf1 bench (32 threads, r11) — 16g on the 128 GiB host
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def pin_reader_confs(spark: SparkSession) -> None:
    """The session settings the loaders (sources.load_table /
    stream_table) need on ANY session, including one the caller built
    itself: legacy TIMESTAMP(NANOS) parquet columns surface as bigint
    (the loaders convert them), and the session tz is UTC so the
    NTZ->LTZ cast is host-independent and DuckDB-identical. Idempotent.
    This module is the only one that writes session conf."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
